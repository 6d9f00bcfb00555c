package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Count-Min sketch over the corpus' 5-gram shingles (SURVEY §2.9
  * sketch family, beside HLL distinct (q42), Misra-Gries heavy hitters
  * (q90/q145) and the MinHash source sketch (q154)): d=4 hash rows ×
  * w=1024 counters, each (document, shingle) occurrence incrementing
  * one counter per row, point queries answered by the MINIMUM of a
  * key's d counters (Cormode & Muthukrishnan 2005). The sketch never
  * undercounts — collisions only ADD — so `est ≥ exact` always, and
  * `est − exact` is the collision mass this query audits against the
  * exact document frequencies.
  *
  * Why a CMS next to Misra-Gries: MG (q90) answers "which keys are
  * heavy" within a fixed candidate budget; CMS answers point frequency
  * for ANY key — here "in how many documents does this 5-gram appear",
  * the signal a memorization/repetition audit probes for arbitrary
  * n-grams without materializing the full n-gram table. And its cells
  * are a pure SUM MONOID: two shards' sketches merge by cell-wise
  * addition with zero error growth — the property a 100 TB ingest
  * needs to sketch per shard and fold later. The relational form IS
  * that posture: cells are `groupBy(row, bucket).sum`, so Spark's
  * partial aggregation builds per-partition sketches and the shuffle
  * carries at most d·w = 4096 cells per partition regardless of corpus
  * size (the shingle universe here is ~24k keys at sf0.01 vs 4096
  * cells — the sketch is genuinely lossy and the audit shows real
  * collision mass, not a degenerate zero column).
  *
  * Engine-portable hashing: the d row hashes are four disjoint 16-bit
  * nibble slices of ONE md5 over the salted shingle (positions
  * 1/5/9/13), mod w — the [[Sampling]] convention
  * (`conv(substring(md5(…)))` ↔ DuckDB strpos-nibble arithmetic), so
  * the oracle rebuilds the identical sketch. All-integer end-to-end.
  */
object Cms extends graft.QueryModule {

  /** Sketch width (counters per row) and depth (hash rows). */
  val W = 1024
  val D = 4

  /** How many top-by-exact-df shingles the audit reports. */
  val TopN = 20

  /** The d row-bucket columns for a shingle column — four disjoint
    * 16-bit nibble slices of one salted md5, mod [[W]]. Shared by the
    * batch audit (q169) and the streaming maintainer (q172), so twin
    * equality is by construction. */
  private[graft] def bucketCols(s: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
    val hx = md5(concat(lit("cms:"), s))
    (0 until D).map { r =>
      conv(substring(hx, 1 + 4 * r, 4), 16, 10).cast("long") % W
    }
  }

  /** The exact sketch CELLS over any (doc_id, text) frame: one row per
    * non-empty (r, b) cell with its counter — each (document, shingle)
    * occurrence increments d cells. Batch ground truth for the
    * streaming maintainer's state. */
  private[graft] def exactCells(docs: DataFrame): DataFrame =
    Dedup.shingles(docs)
      .select(posexplode(array(bucketCols(col("s")): _*)).as(Seq("r", "b")))
      .groupBy("r", "b").agg(count(lit(1)).as("cell"))
      .select(col("r").cast("long").as("r"), col("b").cast("long").as("b"), col("cell"))

  /** The sketch-and-audit over ANY (doc_id, text) frame — shared by
    * q169 and the `cms_sketch()` TVF. */
  private[graft] def cmsAudit(docs: DataFrame): DataFrame = {
    // fan the corpus out before the shingle+md5 pipeline — the per-doc
    // compute dominates this query and must not ride a single
    // under-split scan task (Tables.fanout; q169 was the heaviest
    // 10×-sweep absolute at 21.8 s BECAUSE the whole sf1 corpus
    // shingled on one core)
    val fanned = graft.core.Tables.fanout(docs.sparkSession, docs)
    // exact document frequency per shingle (shingleArray is distinct
    // per doc, so count(*) at (shingle) grain is the df)
    val df = Dedup.shingles(fanned)
      .groupBy("s").agg(count(lit(1)).as("exact_df"))
    // d bucket columns from one md5: 16 bits per row, mod w
    val buckets = bucketCols(col("s")).zipWithIndex.map { case (c, r) => c.as(s"b$r") }
    val hashed = df.select(col("s") +: col("exact_df") +: buckets: _*)
    val exploded = hashed.select(col("s"), col("exact_df"),
      posexplode(array((0 until D).map(r => col(s"b$r")): _*)).as(Seq("r", "b")))
    // the sketch: each key reads its d cells via a window over the
    // (row, bucket) partition — the cell totals and the per-key lookup
    // come out of ONE pass over the exploded frame (a build + join-back
    // formulation would shingle the corpus twice), and the final
    // groupBy still partial-aggregates
    val w = org.apache.spark.sql.expressions.Window.partitionBy("r", "b")
    val est = exploded
      .withColumn("cell", sum(col("exact_df")).over(w))
      .groupBy("s")
      .agg(max(col("exact_df")).as("exact_df"), min(col("cell")).as("cms_est"))
    est
      .select(col("s").as("shingle"), col("exact_df"), col("cms_est"),
        (col("cms_est") - col("exact_df")).as("overcount"))
      .orderBy(col("exact_df").desc, col("shingle"))
      .limit(TopN)
  }

  /** Point-frequency PROBES of the sketch over ANY (doc_id, text)
    * frame: the [[exactCells]] sketch built in-plan and read at
    * `grams` — the batch serving shape of the q172 stream-maintained
    * state (a CMS exists to answer "how often does THIS n-gram
    * occur"), and the `cms_probe(...)` TVF body. Estimate = min of the
    * key's d cells; a never-seen key reads 0 only when at least one of
    * its d cells is empty (the usual one-sided CMS guarantee). */
  private[graft] def probe(docs: DataFrame, grams: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val probes = grams.toDF("shingle")
      .select(col("shingle"),
        posexplode(array(bucketCols(col("shingle")): _*)).as(Seq("r", "b")))
      .select(col("shingle"), col("r").cast("long").as("r"), col("b"))
    probes.join(exactCells(docs), Seq("r", "b"), "left")
      .groupBy("shingle")
      .agg(min(coalesce(col("cell"), lit(0L))).as("cms_est"))
      .orderBy("shingle")
  }

  /** q169 — build the sketch over (doc, shingle) pairs, audit it
    * against exact document frequencies: the [[TopN]] most-frequent
    * shingles with exact df, CMS estimate and overcount (collision
    * mass). `cms_est ≥ exact_df` by construction. */
  def q169CmsSketch(spark: SparkSession, dir: String): DataFrame = {
    cmsAudit(Tables.documents(spark, dir))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q169_cms_sketch" -> (q169CmsSketch _))

  /** Full value oracle: the identical sketch rebuilt in SQL — salted
    * md5 nibble hashing, cell sums, min-of-d estimates. */
  val oracles: Map[String, String] = Map(
    "q169_cms_sketch" -> {
      val rows = (0 until D).map { r =>
        s"(${Sampling.hex4Sql("hx", 1 + 4 * r)}) % $W"
      }
      s"""WITH df AS MATERIALIZED (
         |  SELECT s, count(*) AS exact_df FROM (
         |    SELECT unnest(list_distinct(list_transform(range(1, greatest(len(w) - 4, 1) + 1),
         |      i -> array_to_string(list_slice(w, CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' ')))) AS s
         |    FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents))
         |  GROUP BY s),
         |h AS MATERIALIZED (
         |  SELECT s, exact_df, r, b FROM (
         |    SELECT s, exact_df, md5('cms:' || s) AS hx FROM df),
         |    LATERAL (VALUES ${rows.zipWithIndex.map { case (b, r) => s"($r, $b)" }.mkString(", ")}) AS v(r, b)),
         |cells AS MATERIALIZED (
         |  SELECT r, b, CAST(sum(exact_df) AS BIGINT) AS cell
         |  FROM h GROUP BY 1, 2)
         |SELECT s AS shingle, CAST(max(h.exact_df) AS BIGINT) AS exact_df,
         |  CAST(min(cells.cell) AS BIGINT) AS cms_est,
         |  CAST(min(cells.cell) - max(h.exact_df) AS BIGINT) AS overcount
         |FROM h JOIN cells USING (r, b)
         |GROUP BY s
         |ORDER BY exact_df DESC, shingle LIMIT $TopN""".stripMargin
    })
}
