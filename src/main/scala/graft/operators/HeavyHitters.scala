package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}
import graft.functions.MisraGriesAgg

/** Guaranteed-floor frequency mining over an unbounded key space — the
  * sketch-then-verify pattern: a Misra–Gries pass whose state is bounded
  * at `SketchK` entries per buffer produces a candidate SUPERSET of
  * every key with frequency > N/SketchK, then ONE exact recount of just
  * the candidates (broadcast semi-join, so the only key-grain shuffle is
  * candidate-sized) yields exact counts. Emitting only the keys above
  * the provable N/SketchK floor makes the output fully deterministic —
  * the sketch's residual counters depend on partition order, the floor
  * set does not — which is what lets an approximate-sketch operator be
  * ORACLE HASH-MATCHED rather than verdict-gated.
  *
  * Why it matters at 100 TB: exact `GROUP BY shingle` shuffles a
  * key-grain state the size of the corpus' distinct-shingle set
  * (trillions for web-scale n-grams). Here the aggregate ships ≤ SketchK
  * entries per map buffer, the driver holds ≤ SketchK candidate strings,
  * and the recount's shuffle carries only candidate rows.
  */
object HeavyHitters extends graft.QueryModule {

  /** Sketch width: per-buffer state bound AND the frequency floor's
    * denominator (floor = N/SketchK). */
  val SketchK = 8192

  /** Candidate items (bounded, sorted) + the row count of `items`. */
  private[graft] def candidates(
      items: DataFrame, itemCol: String): (Seq[String], Long) = {
    val row = items.agg(
      MisraGriesAgg.mg_candidates(col(itemCol), SketchK).as("cands"),
      count(lit(1)).as("n")).head()
    (row.getSeq[String](0), row.getLong(1))
  }

  /** q90 — cross-document shingle heavy hitters above the provable
    * floor: the [[graft.operators.TextOps]] boilerplate shingle stage
    * (per-doc-distinct 3-gram shingles, shared+persisted via
    * [[SignatureStage]]) mined without a vocabulary-sized shuffle.
    * Output: every shingle appearing in > N/SketchK shingle-rows'
    * documents, with its exact document frequency. */
  def q90HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    import TextOps.BoilerK
    val sh = SignatureStage.stage(spark, dir, s"shingles_k$BoilerK")(
      Dedup.shingles(Tables.documents(spark, dir), BoilerK))
    // one pass: bounded sketch + exact N in the same aggregate job
    val (cands, total) = candidates(sh, "s")
    val floor = total / SketchK
    val candDf = spark.createDataFrame(
      spark.sparkContext.parallelize(cands.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType, nullable = false))))
    // exact recount of candidates only: the broadcast filter keeps the
    // shuffle candidate-sized; the floor filter restores determinism
    sh.join(broadcast(candDf), Seq("s"))
      .groupBy("s")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") > floor)
      .select(col("s").as("shingle"), col("n_docs"), col("first_doc"),
        lit(floor).as("floor_docs"))
      .orderBy(desc("n_docs"), col("shingle"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q90_heavy_hitters" -> (q90HeavyHitters _))

  val oracles: Map[String, String] = Map(
    // exact relational twin: same shingle derivation as q73's oracle,
    // filtered at the same N/SketchK floor the engine computes
    "q90_heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(w) - ${TextOps.BoilerK - 1}, 1) + 1),
         |    i -> array_to_string(list_slice(w, CAST(i AS INTEGER),
         |      CAST(i AS INTEGER) + ${TextOps.BoilerK - 1}), ' ')))) AS s
         |  FROM toks),
         |t AS (SELECT CAST(count(*) AS BIGINT) // $SketchK AS fl FROM sh),
         |c AS (
         |  SELECT s AS shingle, CAST(count(*) AS BIGINT) AS n_docs,
         |    min(doc_id) AS first_doc
         |  FROM sh GROUP BY s)
         |SELECT shingle, n_docs, first_doc, t.fl AS floor_docs
         |FROM c, t WHERE n_docs > t.fl
         |ORDER BY n_docs DESC, shingle""".stripMargin)
}
