package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** DATE-PARTITIONED fact layout + DYNAMIC PARTITION PRUNING (SURVEY §2
  * layout family, beside bucketing (q55) and z-order (q181)): the
  * reference's own physical design is exactly this — the ingest lands
  * under `year=/month=/day=` and the crawler registers the partitions
  * (reference `data_pipeline_stack.py:104-123`,
  * `sql/sample_athena_queries.sql:7-13` filters on partition columns) —
  * but the reference can only prune with LITERAL partition predicates.
  * The Spark-native upgrade is RUNTIME pruning: when the fact joins a
  * filtered dimension on the partition column, the scan prunes to the
  * partitions the dimension's rows actually name, at execution time,
  * via `DynamicPruningExpression` (a subquery/broadcast-reuse filter
  * injected by Catalyst). At 100 TB that is the difference between
  * scanning 3 days and scanning 10 years because the date filter lived
  * on the calendar table instead of the fact.
  *
  * The layout: one date-partitioned copy of `events` per corpus
  * version plus a tiny `calendar` dimension of its distinct dates with
  * an `is_focus` flag over a deterministic 3-day window. q188 runs the
  * canonical pruned star join; `PartitionedEventsLayoutSpec` asserts
  * the executed plan actually carries the dynamic-pruning filter on the
  * scan.
  */
object PartitionedEventsLayout extends graft.QueryModule {

  /** Focus window: day offsets [FocusLo, FocusHi] from the corpus'
    * minimum event date — deterministic, so the oracle replays it. */
  val FocusLo = 2
  val FocusHi = 4

  /** Ensure the partitioned copy + calendar dim for `dir` (a temp
    * directory in the [[graft.core.ArtifactStore]]); returns the layout
    * root (`<root>/events` partitioned by event_date, `<root>/calendar`
    * the dim). */
  def ensure(spark: SparkSession, dir: String): String =
    graft.core.ArtifactStore.tempDir(spark, dir, Seq("events.parquet"), "partlayout") { out =>
      val ev = Tables.events(spark, dir).withColumn("event_date", to_date(col("ts")))
      ev.write.partitionBy("event_date").parquet(s"$out/events")
      // the calendar dim: |distinct dates|-sized; the min-date scalar is
      // a bounded build-time collect (the layout build is itself a job)
      val mn = ev.agg(min(col("event_date"))).collect()(0).getDate(0)
      // day_off (offset from the corpus' min date) instead of a bare
      // boolean flag: Catalyst's PartitionPruning only injects the
      // runtime filter when the dim side carries a LIKELY-SELECTIVE
      // predicate, and its heuristic accepts comparisons (BETWEEN/=/IN)
      // but not a bare boolean attribute — measured: `WHERE is_focus`
      // plans no DPP, `WHERE day_off BETWEEN 2 AND 4` does
      ev.select(col("event_date")).distinct()
        .withColumn("day_off", datediff(col("event_date"), lit(mn)).cast("long"))
        .write.parquet(s"$out/calendar")
    }

  /** q188 — the canonical DPP star join: the date-partitioned fact
    * joined to the calendar dim filtered to the focus window, on the
    * PARTITION column. Catalyst turns the dim's rows into a runtime
    * partition filter on the fact scan (spec-asserted); the answer is
    * layout-independent and the oracle replays it from the raw table. */
  def q188DppJoin(spark: SparkSession, dir: String): DataFrame = {
    val root = ensure(spark, dir)
    val fact = spark.read.parquet(s"$root/events")
    val dim = spark.read.parquet(s"$root/calendar")
      .filter(col("day_off").between(FocusLo, FocusHi))
    fact.join(dim.select("event_date"), Seq("event_date"))
      .groupBy(col("event_date"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("sum_cents"))
      .select(
        date_format(col("event_date"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n_events"), col("sum_cents"))
      .orderBy("day", "event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q188_dpp_join" -> (q188DppJoin _))

  /** Full value oracle over the RAW table (layout never changes
    * answers): the same focus window from the same min date. */
  val oracles: Map[String, String] = Map(
    "q188_dpp_join" ->
      s"""WITH c AS (
         |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, event_type,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events),
         |m AS (SELECT min(d) AS mn FROM c)
         |SELECT strftime(d, '%Y-%m-%d') AS day, event_type,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM c, m
         |WHERE d BETWEEN mn + $FocusLo AND mn + $FocusHi
         |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)
}
