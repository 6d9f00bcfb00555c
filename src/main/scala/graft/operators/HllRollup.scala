package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** HLL SKETCH RE-AGGREGABILITY GATE (SURVEY §2.9 sketch family): the
  * property the whole 100 TB sketch posture rests on — a sketch built
  * per shard and UNION-MERGED equals the sketch built in one pass —
  * demonstrated and GATED on Spark's native DataSketches HLL surface
  * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`), the
  * serializable-sketch upgrade of q42's `approx_count_distinct` (whose
  * HLL++ lives and dies inside one aggregation and cannot be stored,
  * shipped or merged later).
  *
  * The gate: per-event-type user sketches union-merged must estimate
  * the global distinct count within the SAME q42 relative-error budget
  * as the one-pass sketch — re-aggregability means the merged sketch
  * loses nothing against the budget, NOT bit-equality: the registers
  * merge by bucket-max exactly, but DataSketches estimates a directly-
  * fed sketch with the HIP accumulator (merge-history dependent by
  * design) and a union result with the composite estimator, so the two
  * ESTIMATES legitimately differ once past coupon mode (observed from
  * ~1.5k distincts; in coupon/list mode both are exact and equal).
  * Sketch estimates are engine-local, so the oracle recomputes the
  * EXACT counts and asserts the verdict booleans literally (the q42
  * convention).
  *
  * Scale shape: one partial-agged pass builds the per-type sketches
  * (the shuffle carries one ≤1.5 KB sketch per type per partition);
  * the union is |types|-sized; exact counts are the audit twin, as
  * everywhere in the sketch family.
  */
object HllRollup extends graft.QueryModule {

  /** The rollup gate over ANY raw events frame — q187's body and the
    * `hll_rollup()` TVF's. */
  private[graft] def rollupOver(ev: DataFrame): DataFrame = {
    val perType = ev.groupBy("event_type").agg(
      hll_sketch_agg(col("user_id")).as("sk"),
      countDistinct(col("user_id")).as("n_exact"))
    val merged = perType.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
    val global = ev.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_direct"),
      countDistinct(col("user_id")).as("n_exact"))
    val bound = Relational.HllErrorBound
    def within(est: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
      abs(est.cast("double") - exact.cast("double")) <= exact.cast("double") * bound
    val typeRows = perType.select(
      col("event_type").as("scope"),
      col("n_exact"),
      within(hll_sketch_estimate(col("sk")), col("n_exact")).as("est_within_bound"),
      lit(true).as("merge_consistent"))
    val globalRow = global.crossJoin(merged).select(
      lit("ALL").as("scope"),
      col("n_exact"),
      within(col("est_direct"), col("n_exact")).as("est_within_bound"),
      within(col("est_merged"), col("n_exact")).as("merge_consistent"))
    typeRows.union(globalRow).orderBy("scope")
  }

  /** q187 — shard-and-fold distinct users: per-event-type sketches,
    * their union vs the one-pass sketch, and the error audit. */
  def q187HllRollup(spark: SparkSession, dir: String): DataFrame = {
    rollupOver(Tables.events(spark, dir))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q187_hll_rollup" -> (q187HllRollup _))

  /** Exact counts recomputed; verdicts asserted literally (q42
    * convention — a false verdict hash-fails the round). */
  val oracles: Map[String, String] = Map(
    "q187_hll_rollup" ->
      """SELECT event_type AS scope,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS est_within_bound, TRUE AS merge_consistent
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT 'ALL' AS scope,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS est_within_bound, TRUE AS merge_consistent
        |FROM events
        |ORDER BY scope""".stripMargin)
}
