package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.QuantileSketchAgg

/** q182 — the MERGEABLE-QUANTILE-SKETCH GATE (q42's HLL convention
  * applied to order statistics): per event type, the
  * [[graft.functions.QuantileSketchAgg]] compactor-stack summary
  * estimates P50/P90/P99 of the value distribution in ONE pass with
  * O(K·log n) state, and the gate verifies each estimate's TRUE RANK
  * (batch-recounted in-plan) lands within the sketch's rank-error
  * budget of the target. The emitted row carries only
  * oracle-recomputable facts (counts, exact quantiles by the shared
  * lower-quantile definition) plus the deterministic verdicts — the
  * estimates themselves are summary-internal (partition-order
  * dependent), exactly like the HLL estimate in q42.
  *
  * Why this beside exact percentiles (q41) and Spark's
  * approx_percentile (q105): both of those are single-job answers;
  * the compactor sketch is a MERGEABLE STATE — per-shard summaries
  * fold losslessly-in-bounds (KLL/MRL lineage), which is what a
  * 100 TB table's per-partition profile needs. The merge property is
  * spec-pinned (sketch(A ∪ B) bounds hold when built as
  * merge(sketch(A), sketch(B))).
  *
  * Scale shape: one partial-agged pass builds the summaries (the
  * shuffle carries K·log(n)-item buffers per group, not rows); the
  * verify join is (groups × 3) estimates against the event scan —
  * audit-only, like every gate's exact twin. */
object QuantileSketch extends graft.QueryModule {

  /** Audited percentiles. The rank tolerance is the LARGER of a fixed
    * ±(n/20 + 1) floor and the sketch's own documented worst-case
    * bound ±(n·levels/K) with K = [[QuantileSketchAgg.K]] and
    * levels = ⌊log₂(n/K)⌋ + 1 computed integer-exactly as
    * `length(bin(greatest(n div K, 1)))`. The floor dominates while
    * levels ≤ K/20 ≈ 12.8 (n per group up to K·2¹² ≈ 1M); beyond that
    * crossover the bound term takes over, so the gate can never
    * hash-fail on a sketch that meets its stated guarantee — the r9
    * formulation (floor only) would have, once n per event_type
    * passed ~2M. */
  val Pcts = Seq(50, 90, 99)

  private def cents = floor(col("value") * 100 + lit(0.5)).cast("long").as("cents")

  def q182QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    gateOver(Tables.events(spark, dir))
  }

  /** The full sketch-vs-exact gate over ANY raw events frame — q182's
    * body and the `quantile_sketch()` TVF's. */
  private[graft] def gateOver(evRaw: DataFrame): DataFrame = {
    val ev = evRaw.select(col("event_type"), cents)
    // one sketch pass per event type
    val estWide = ev.groupBy("event_type")
      .agg(QuantileSketchAgg.mrl_quantiles(col("cents"), Pcts).as("est"))
      .select(col("event_type") +: Pcts.zipWithIndex.map { case (p, i) =>
        col("est").getItem(i).as(s"est_p$p")
      }: _*)
    verdictsOver(ev, estWide)
  }

  /** The batch-recount verdict tail over ANY (event_type, cents) value
    * frame and wide (event_type, est_p50, est_p90, est_p99) estimate
    * frame — shared by the batch gate and the streaming twin
    * ([[graft.streaming.QuantileStream]]), so the two gates can never
    * disagree about the contract. */
  private[graft] def verdictsOver(ev: DataFrame, estWide: DataFrame): DataFrame = {
    val est = estWide.select(col("event_type"),
        posexplode(array(Pcts.map(p => col(s"est_p$p")): _*)).as(Seq("pi", "est_v")))
      .select(col("event_type"),
        element_at(array(Pcts.map(lit(_)): _*), col("pi") + 1).as("pct"),
        col("est_v"))
    // exact side: group sizes + the shared lower-quantile definition
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("cents")
    val ranked = ev.withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
    val exact = ranked
      .select(col("event_type"), col("n"), col("cents"), col("r"),
        explode(array(Pcts.map(lit(_)): _*)).as("pct"))
      .filter(col("r") >= expr("(n * pct + 99) div 100"))
      .groupBy("event_type", "pct")
      .agg(max(col("n")).as("n"), min(col("cents")).as("exact_v"))
    // true rank interval of each estimate, batch-recounted
    val ranks = est.join(ev, Seq("event_type"))
      .groupBy("event_type", "pct")
      .agg(
        max(col("est_v")).as("est_v"),
        sum(when(col("cents") <= col("est_v"), 1L).otherwise(0L)).as("cnt_le"),
        sum(when(col("cents") < col("est_v"), 1L).otherwise(0L)).as("cnt_lt"))
    val verdicts = exact.join(ranks, Seq("event_type", "pct"))
      .withColumn("target", expr("(n * pct + 99) div 100"))
      .withColumn("tol", expr(
        s"greatest(n div 20 + 1, " +
          s"(n * length(bin(greatest(n div ${QuantileSketchAgg.K}, 1)))) " +
          s"div ${QuantileSketchAgg.K})"))
      .withColumn("rank_err",
        greatest(lit(0L),
          greatest(col("cnt_lt") + 1 - col("target"), col("target") - col("cnt_le"))))
      .withColumn("ok", col("rank_err") <= col("tol"))
    verdicts
      .groupBy("event_type")
      .pivot("pct", Pcts.map(_.toString))
      .agg(first(struct(col("exact_v"), col("ok"))))
      .join(verdicts.groupBy("event_type").agg(max(col("n")).as("n_events")), Seq("event_type"))
      .select(
        col("event_type"), col("n_events"),
        col("50.exact_v").as("exact_p50_cents"), col("50.ok").as("ok_p50"),
        col("90.exact_v").as("exact_p90_cents"), col("90.ok").as("ok_p90"),
        col("99.exact_v").as("exact_p99_cents"), col("99.ok").as("ok_p99"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q182_quantile_sketch" -> (q182QuantileSketch _))

  /** Oracle: counts + the identical lower-quantile definition; the
    * verdicts are asserted literally (the q42 convention — a false
    * verdict hash-fails the round). */
  val oracles: Map[String, String] = Map(
    "q182_quantile_sketch" -> {
      val cols = Pcts.map { p =>
        s"""CAST(min(cents) FILTER (r >= (n * $p + 99) // 100) AS BIGINT)
           |    AS exact_p${p}_cents,
           |  true AS ok_p$p""".stripMargin
      }
      s"""WITH e AS (
         |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events),
         |ranked AS (
         |  SELECT event_type, cents,
         |    row_number() OVER (PARTITION BY event_type ORDER BY cents) AS r,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM e)
         |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
         |  ${cols.mkString(",\n  ")}
         |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin
    })
}
