package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Score propagation over the near-dup graph (SURVEY §2.9 extension):
  * smooth a per-document signal across the exact-verified duplicate
  * pair graph — the label-propagation primitive behind quality-score
  * denoising ("a doc's near-duplicates should agree on quality"; a
  * low-scoring copy of a high-scoring page is usually a scoring
  * artifact, not a quality difference), spam-label spreading, and
  * license/provenance inheritance across mirror clusters.
  *
  * Semantics: two synchronous Jacobi rounds of neighborhood averaging,
  *   s_{t+1}(v) = (s_t(v) + Σ_{u~v} s_t(u)) div (1 + deg(v)),
  * over the SAME pair graph the dedup family clusters on
  * ([[Dedup.verifiedPairs]] — Jaccard ≥ 0.6, exact-verified), so the
  * graph this smooths over is definitionally the one q38/q126/q131
  * partition. Fixed round count, not convergence-looped: propagation
  * radius 2 is the operative smoothing for quality denoising (scores
  * should not leak across whole components the way q38's closure
  * labels must), and a bounded plan is what a 100 TB scheduler can
  * cost.
  *
  * Integer-exact end-to-end: the seed score is an int64 micro quality
  * signal (length term capped at 0.5M micros + distinct-ratio term,
  * both truncating integer division on non-negatives, so Spark `div`
  * and DuckDB `//` agree bit-for-bit), and each round is an integer
  * sum followed by one truncating division — no doubles anywhere, the
  * [[KMeans.halfAway]] lesson applied by never leaving int64.
  *
  * Scale shape: seeds are MAP-ONLY over one corpus scan; each round is
  * one edge-sized join + one groupBy on doc_id — the pair graph is the
  * dedup family's cached artifact (SignatureStage), orders of magnitude
  * smaller than the corpus; nothing is collected. Output is restricted
  * to documents that HAVE neighbors (isolated docs are fixed points by
  * definition), keeping the result graph-sized.
  */
object Propagate extends graft.QueryModule {

  /** The propagation over ANY (doc_id, text) frame and near-dup pair
    * set (callers choose the pair detector; q168 uses the cached
    * exact-verified LSH pairs, the `quality_propagation()` TVF derives
    * them from the named table). */
  private[graft] def qualityPropagation(docs: DataFrame, nearDupPairs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    // int64 micro seed: min(nt·10⁴, 10⁶)/2 length term + distinct-ratio
    // term (nd/nt scaled to 0.5M micros), truncating division
    // materialized once ([[KMeans.refine]]'s localCheckpoint pattern):
    // the seed frame feeds three join branches (round-1 self + neighbor
    // sides, final report), and without the checkpoint each branch
    // re-scans and re-tokenizes the CORPUS — the one thing a graph-sized
    // operator must never do more than once. The checkpoint itself is
    // doc-grain (doc_id, int64) — two longs per document.
    val seeds = graft.core.Materialize.once(
      graft.core.Tables.fanout(docs.sparkSession, docs)
        .select(col("doc_id"), size(toks).cast("long").as("nt"),
          size(array_distinct(toks)).cast("long").as("nd"))
        .select(col("doc_id"),
          when(col("nt") === 0L, 0L)
            .otherwise(expr("least(nt * 10000, 1000000) div 2 + (nd * 500000) div nt"))
            .as("s")))
    val pairs = nearDupPairs.select("d1", "d2")
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
    // each round is materialized (eager localCheckpoint, the seed
    // frame's own pattern one level down): round t's output feeds
    // round t+1 on BOTH join sides (self by src, neighbor by dst) —
    // two partitionings, so exchange reuse can never dedup them and an
    // unmaterialized round-1 re-runs its edge join + aggregate twice;
    // lineage also compounds per round (the measured q168 plan grew to
    // a 39k-line formatted tree, planning cost a 100 TB scheduler pays
    // per round). The checkpoint is graph-sized — (doc_id, int64) for
    // non-isolated docs only.
    def round(scores: DataFrame): DataFrame =
      graft.core.Materialize.once(edges
        .join(scores.withColumnRenamed("doc_id", "src").withColumnRenamed("s", "s_self"), Seq("src"))
        .join(scores.withColumnRenamed("doc_id", "dst").withColumnRenamed("s", "s_nbr"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(max(col("s_self")).as("mx"), sum(col("s_nbr")).as("sm"),
          count(lit(1)).as("dg"))
        .select(col("doc_id"), expr("(mx + sm) div (1 + dg)").as("s")))
    val s2 = round(round(seeds))
    s2.select(col("doc_id"), col("s").as("s2_micro"))
      .join(seeds.select(col("doc_id"), col("s").as("s0_micro")), Seq("doc_id"))
      .join(edges.groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("deg")),
        Seq("doc_id"))
      .select(col("doc_id"), col("deg"), col("s0_micro"), col("s2_micro"),
        (col("s2_micro") - col("s0_micro")).as("shift_micro"))
      .orderBy("doc_id")
  }

  /** Two-round smoothed quality over the near-dup graph: one row per
    * non-isolated doc — (doc_id, deg, s0_micro, s2_micro, shift_micro). */
  def q168QualityPropagation(spark: SparkSession, dir: String): DataFrame = {
    qualityPropagation(Tables.documents(spark, dir),
      Dedup.verifiedPairs(spark, dir))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q168_quality_propagation" -> (q168QualityPropagation _))

  /** Full value oracle: the shared pair-graph CTEs
    * ([[Dedup.pairGraphCtes]] — the verifiedPairs replay) + the seed
    * formula + both rounds unrolled, all-integer. */
  val oracles: Map[String, String] = Map(
    "q168_quality_propagation" ->
      s"""${Dedup.pairGraphCtes},
         |sc0 AS MATERIALIZED (
         |  SELECT doc_id,
         |    CASE WHEN len(w) = 0 THEN 0
         |         ELSE least(len(w) * 10000, 1000000) // 2
         |              + (len(list_distinct(w)) * 500000) // len(w) END AS s
         |  FROM toks),
         |r1 AS MATERIALIZED (
         |  SELECT e.s AS doc_id,
         |    CAST(max(a.s) + sum(b.s) AS BIGINT) // (1 + count(*)) AS s
         |  FROM edges e JOIN sc0 a ON a.doc_id = e.s JOIN sc0 b ON b.doc_id = e.t
         |  GROUP BY e.s),
         |r2 AS MATERIALIZED (
         |  SELECT e.s AS doc_id,
         |    CAST(max(a.s) + sum(b.s) AS BIGINT) // (1 + count(*)) AS s
         |  FROM edges e JOIN r1 a ON a.doc_id = e.s JOIN r1 b ON b.doc_id = e.t
         |  GROUP BY e.s),
         |dg AS (SELECT s AS doc_id, count(*) AS deg FROM edges GROUP BY 1)
         |SELECT r2.doc_id, dg.deg,
         |  CAST(sc0.s AS BIGINT) AS s0_micro,
         |  CAST(r2.s AS BIGINT) AS s2_micro,
         |  CAST(r2.s - sc0.s AS BIGINT) AS shift_micro
         |FROM r2 JOIN sc0 ON sc0.doc_id = r2.doc_id JOIN dg ON dg.doc_id = r2.doc_id
         |ORDER BY r2.doc_id""".stripMargin)
}
