package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}

/** Reporting analytics over the warehouse tables: PIVOT cross-tabs,
  * ordered-funnel conversion, and fixed-window time-series smoothing —
  * the dashboard layer a pipeline team runs on top of the same star
  * schema the curation operators feed (reference
  * `sql/sample_athena_queries.sql` is exactly this kind of reporting
  * surface, expressed over Athena).
  */
object Analytics extends graft.QueryModule {

  /** q83 — PIVOT cross-tab: order count + revenue per
    * (priority row, status column). Pivot values are DECLARED, not
    * discovered: with an explicit value list Spark plans ONE pass of
    * conditional aggregates (same shuffle as a plain GROUP BY); omitting
    * it would add a full discovery pass over the fact table just to
    * learn the column set — never acceptable on a 100 TB fact table.
    */
  def q83Pivot(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val statuses = Seq("F", "O", "P")
    val out = Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", statuses)
      .agg(
        count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"))
    // absent (priority, status) cells: pivot yields null counts where
    // the oracle's `count(*) FILTER` yields 0 — normalize to 0
    out.na.fill(0L, statuses.map(s => s"${s}_n"))
      .orderBy("o_orderpriority")
  }

  /** q84 — strict ordered funnel (view → click → purchase) per user, in
    * ONE scan and ONE shuffle: every stage timestamp is a conditional
    * `min` WINDOW over the same `user_id` partitioning — t2's predicate
    * references t1, t3's references t2, so all three windows plan into a
    * single Window node chain with no re-partitioning — then the same
    * partitioning feeds the per-user reduction for free. The classic
    * 3-way self-join formulation scans the event log three times and
    * shuffles it twice more; at a 100 TB event log the window form is
    * the only acceptable plan. */
  def q84Funnel(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    funnelOver(Tables.events(spark, dir))
  }

  /** The funnel body over ANY (user_id, event_type, ts) frame — q84 runs
    * it on the flat event log (one shuffle to cluster users); over an
    * event log BUCKETED by user_id the same plan runs with ZERO data
    * shuffles ([[graft.layout.BucketedLayout]] q97). */
  def funnelOver(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    val staged = events
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts") > col("t1"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).over(w))
    // user-grain reduce rides the window's partitioning (no new Exchange);
    // the global roll-up then aggregates a users-sized frame
    staged.groupBy("user_id")
      .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
      .agg(
        count(lit(1)).as("n_users"),
        count(col("t1")).as("view_users"),
        count(col("t2")).as("click_users"),
        count(col("t3")).as("purchase_users"))
      .select(
        col("n_users"), col("view_users"), col("click_users"),
        col("purchase_users"),
        round(col("click_users").cast("double") / col("view_users"), 4)
          .as("view_to_click"),
        round(col("purchase_users").cast("double") / col("click_users"), 4)
          .as("click_to_purchase"))
  }

  /** q85 — daily revenue with a 7-day moving average and day-over-day
    * delta. All window arithmetic runs on BIGINT cents (the q36 trick):
    * Spark's sliding-frame aggregation and DuckDB's segment-tree window
    * aggregation sum in DIFFERENT orders, so double sums would drift by
    * ulps and break the hash gate — integer sums are order-free, and the
    * one double division per output row is identical in both engines.
    *
    * Scale shape: the window runs over the DAY-GRAIN aggregate (bounded
    * by the calendar, ~2.4k rows for 6.5 years — tiny at any fact-table
    * scale), not the fact table; the single unpartitioned sort it needs
    * costs nothing at that grain. The fact table itself is touched once,
    * by the partial-aggregated GROUP BY. */
  def q85MovingAvg(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").cast("date").as("order_date"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val w7 = Window.orderBy("order_date").rowsBetween(-6, 0)
    val w1 = Window.orderBy("order_date")
    daily
      .withColumn("ma_cents", sum("cents").over(w7))
      .withColumn("ma_days", count(lit(1)).over(w7))
      .withColumn("prev_cents", lag("cents", 1).over(w1))
      .select(
        col("order_date"), col("n_orders"),
        round(col("cents") / 100.0, 2).as("day_total"),
        round(col("ma_cents") / (col("ma_days") * 100.0), 4).as("ma7"),
        round((col("cents") - col("prev_cents")) / 100.0, 2).as("delta"))
      .orderBy("order_date")
  }

  /** q89 — winsorized order-value statistics per priority: the robust
    * mean a monitoring pipeline wants when a few fat-finger orders would
    * otherwise swing the average. Bounds are NEAREST-RANK percentiles
    * (the value at rank ⌈p·n⌉) rather than interpolated ones —
    * interpolation arithmetic differs between engines in the last ulp
    * (lo + (hi−lo)·f vs lo·(1−f) + hi·f), a real data value is
    * bit-identical in both. Means are the q36 integer-cents trick
    * (floor((2·sum+n)/2n)), so no double sum ever crosses the gate.
    *
    * Shape: one fact scan; the rank window and the final aggregate share
    * the priority partitioning (no re-shuffle); the bounds never leave
    * the frame, so there is no second scan or self-join. At 100 TB the
    * per-group sort the window needs is the irreducible cost of exact
    * order statistics (q41's interpolated percentiles pay it too). */
  def q89Winsorized(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    winsorizedStats(Tables.orders(spark, dir), 0.05)
  }

  /** Winsorized order-value statistics at clamp fraction `p` (bounds =
    * nearest-rank p and 1-p percentiles per priority) — the generic
    * entry the `winsorize(p)` TVF resolves; [[q89Winsorized]] fixes
    * p = 0.05. */
  def winsorizedStats(orders: DataFrame, p: Double): DataFrame = {
    require(p > 0.0 && p < 0.5, s"winsorize fraction must be in (0, 0.5), got $p")
    val wOrd = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    val wAll = Window.partitionBy("o_orderpriority")
    val ranked = orders
      .select(col("o_orderpriority"), col("o_totalprice"))
      .withColumn("r", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("lo", min(when(
        col("r") === greatest(ceil(col("n") * p), lit(1L)),
        col("o_totalprice"))).over(wAll))
      .withColumn("hi", min(when(
        col("r") === ceil(col("n") * (1.0 - p)),
        col("o_totalprice"))).over(wAll))
    val cents = (c: org.apache.spark.sql.Column) => round(c * 100).cast("long")
    val meanCents = (sumC: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =>
      floor((sumC * 2 + n) / (n * 2.0)) / 100.0
    ranked
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_totalprice") < col("lo"), 1L)
          .when(col("o_totalprice") > col("hi"), 1L).otherwise(0L))
          .as("n_clamped"),
        min("lo").as("lo"), min("hi").as("hi"),
        sum(cents(col("o_totalprice"))).as("raw_cents"),
        sum(cents(least(greatest(col("o_totalprice"), col("lo")), col("hi"))))
          .as("win_cents"))
      .select(
        col("o_orderpriority"), col("n_orders"), col("n_clamped"),
        col("lo"), col("hi"),
        meanCents(col("raw_cents"), col("n_orders")).as("raw_avg"),
        meanCents(col("win_cents"), col("n_orders")).as("win_avg"))
      .orderBy("o_orderpriority")
  }

  /** q93 — per-priority revenue TREND: the closed-form OLS slope of
    * order value over time, cents/day. The five sufficient statistics
    * (n, Σx, Σy, Σxy, Σx²) accumulate as EXACT integers in one
    * partial-agged pass — x is days since 2000-01-01 (|x| ≤ ~2k over the
    * fixture's date range, keeping Σxy ≲ 10¹⁶ at sf0.1; a 100 TB run
    * would widen these to decimal(38)), y is cents — and only the final
    * slope combines them in double (identical single ops in both
    * engines). No window, no sort: a regression is just a GROUP BY when
    * written as sufficient statistics. */
  def q93RevenueTrend(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val x = datediff(col("o_orderdate").cast("date"),
      lit("2000-01-01").cast("date")).cast("long")
    val y = round(col("o_totalprice") * 100).cast("long")
    val stats = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), x.as("x"), y.as("y"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val num = col("n").cast("double") * col("sxy") -
      col("sx").cast("double") * col("sy")
    val den = col("n").cast("double") * col("sxx") -
      col("sx").cast("double") * col("sx")
    stats.select(
      col("o_orderpriority"), col("n").as("n_orders"),
      round(num / den, 6).as("slope_cents_per_day"))
      .orderBy("o_orderpriority")
  }

  /** q96 — σ-outlier monitor over the event stream's `value`: per event
    * type, mean/σ from the five exact-integer sufficient statistics
    * (cents this time) and the count of events beyond 3σ — the data-
    * quality tripwire a pipeline fires before ingesting a day's events.
    *
    * Shape: ONE scan; the stats window (partitioned by event type) and
    * the final reduce share the same partitioning, so a fact-sized
    * self-join never appears. The z² > 9 comparison happens in double,
    * but both engines derive it from identical integers — bit-identical
    * either side of the (measure-zero) boundary. */
  def q96ValueOutliers(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val w = Window.partitionBy("event_type")
    val y = round(col("value") * 100).cast("long")
    val staged = Tables.events(spark, dir)
      .select(col("event_type"), y.as("yc"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sy", sum(col("yc")).over(w))
      .withColumn("syy", sum(col("yc") * col("yc")).over(w))
    // z² = (n·y − Σy)²·(n−1) / (n·(nΣy² − (Σy)²)), compared against 9
    val dev = col("n").cast("double") * col("yc") - col("sy")
    val spread = col("n").cast("double") * col("syy") -
      col("sy").cast("double") * col("sy")
    val isOutlier = dev * dev * (col("n") - 1) >
      lit(9.0) * col("n") * spread
    staged
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(isOutlier, 1L).otherwise(0L)).as("n_outliers"),
        min(col("n")).as("n"), min(col("sy")).as("syv"), min(col("syy")).as("syyv"))
      .select(
        col("event_type"), col("n_events"), col("n_outliers"),
        (floor((col("syv") * 2 + col("n")) / (col("n") * 2)) / 100.0)
          .as("mean_value"),
        round(
          sqrt((col("n").cast("double") * col("syyv") -
            col("syv").cast("double") * col("syv")) /
            (col("n").cast("double") * (col("n") - 1))) / 100.0, 6)
          .as("stddev_value"))
      .orderBy("event_type")
  }

  /** q102 — weekly cohort retention: users grouped by first-active week,
    * per-offset active counts and retention against the cohort's size —
    * the standard engagement matrix. (The synthetic fixture is dense —
    * every user starts in week one — so the fixture output is a single
    * cohort; the SEMANTICS are spec'd on a crafted sparse frame.)
    *
    * Shape: the event log reduces map-side to distinct (user, week)
    * pairs; the first-week reduce and the join back are co-partitioned
    * on user_id (one shuffle); cohort cells are calendar-bounded, so
    * the retention window costs nothing. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val uw = events
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    val cohorts = uw.groupBy("user_id").agg(min("wk").as("cohort_week"))
    val cells = uw.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (datediff(col("wk"), col("cohort_week")) / 7).cast("int").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val w = Window.partitionBy("cohort_week")
    cells
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active"))).over(w))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 4)
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  def q102CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    cohortRetention(Tables.events(spark, dir))
  }

  /** Trailing-window length (observed days) and the minimum history
    * before a verdict is published. */
  val AnomalyWindow = 7
  val AnomalyMinHistory = 3

  /** Ingest-volume anomaly detection over ANY event frame: per
    * (event_type, day) arrival counts, each compared to the mean of the
    * trailing [[AnomalyWindow]] OBSERVED days (current day excluded).
    * `is_spike` = count > 2× trailing mean; `is_drop` = count < ½× —
    * the crawl-flood / crawl-failure tripwire an ingest pipeline pages
    * on. Both verdicts are PURE INTEGER cross-multiplications
    * (n·w ≷ k·Σ), so no mean is ever materialized as a double and the
    * flags can never sit on a float tie (the q96 z² move applied to
    * rates).
    *
    * Scale shape: the fact table is touched once by a map-side-combined
    * (type, day) aggregate; the window runs over the day-grain frame —
    * calendar-bounded, thousands of rows at ANY fact scale (the q85
    * observation) — partitioned by event_type, so no global sort. */
  def ingestAnomaly(events: DataFrame): DataFrame =
    anomalyVerdicts(
      events
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n_events")))

  /** The verdict tail over an ALREADY day-grain (event_type, day,
    * n_events) frame — shared verbatim by the batch path and the
    * streaming monitor ([[graft.streaming.AnomalyStream]]), whose
    * windowed aggregation maintains exactly this frame incrementally. */
  private[graft] def anomalyVerdicts(daily: DataFrame): DataFrame = {
    val tw = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-AnomalyWindow, -1)
    daily
      .withColumn("w_days", count(lit(1)).over(tw))
      .withColumn("trail_sum", coalesce(sum(col("n_events")).over(tw), lit(0L)))
      .filter(col("w_days") >= AnomalyMinHistory)
      .select(
        col("event_type"), col("day"), col("n_events"),
        col("w_days"), col("trail_sum"),
        (col("n_events") * col("w_days") > col("trail_sum") * 2).as("is_spike"),
        (col("n_events") * col("w_days") * 2 < col("trail_sum")).as("is_drop"))
      .orderBy("event_type", "day")
  }

  /** q155 — INGEST-VOLUME ANOMALY DETECTION: [[ingestAnomaly]] over the
    * event log — the per-(event_type, day) arrival monitor a recrawl
    * pipeline publishes next to the q150 curation dashboard. */
  def q155IngestAnomaly(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    ingestAnomaly(Tables.events(spark, dir))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q155_ingest_anomaly" -> (q155IngestAnomaly _),
    "q83_pivot" -> (q83Pivot _),
    "q84_funnel" -> (q84Funnel _),
    "q85_moving_avg" -> (q85MovingAvg _),
    "q89_winsorized" -> (q89Winsorized _),
    "q93_revenue_trend" -> (q93RevenueTrend _),
    "q96_value_outliers" -> (q96ValueOutliers _),
    "q102_cohort_retention" -> (q102CohortRetention _))

  val oracles: Map[String, String] = Map(
    "q155_ingest_anomaly" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, n_events,
        |    count(*) OVER tw AS w_days,
        |    coalesce(sum(n_events) OVER tw, 0) AS trail_sum
        |  FROM d
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY day
        |                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n_events,
        |  CAST(w_days AS BIGINT) AS w_days,
        |  CAST(trail_sum AS BIGINT) AS trail_sum,
        |  n_events * w_days > trail_sum * 2 AS is_spike,
        |  n_events * w_days * 2 < trail_sum AS is_drop
        |FROM w WHERE w_days >= 3 ORDER BY event_type, day""".stripMargin,
    "q102_cohort_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_week FROM uw GROUP BY user_id),
        |cells AS (
        |  SELECT cohort_week,
        |    CAST(datediff('day', cohort_week, wk) / 7 AS INTEGER) AS week_offset,
        |    count(*) AS n_active
        |  FROM uw JOIN c USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_active,
        |  max(CASE WHEN week_offset = 0 THEN n_active END)
        |    OVER (PARTITION BY cohort_week) AS cohort_size,
        |  round(CAST(n_active AS DOUBLE) /
        |    max(CASE WHEN week_offset = 0 THEN n_active END)
        |      OVER (PARTITION BY cohort_week), 4) AS retention
        |FROM cells ORDER BY cohort_week, week_offset""".stripMargin,
    "q96_value_outliers" ->
      """WITH s AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS yc
        |  FROM events),
        |t AS (
        |  SELECT event_type, yc,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    sum(yc) OVER (PARTITION BY event_type) AS sy,
        |    sum(yc * yc) OVER (PARTITION BY event_type) AS syy
        |  FROM s)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN (CAST(n AS DOUBLE) * yc - sy)
        |                     * (CAST(n AS DOUBLE) * yc - sy) * (n - 1)
        |                   > 9.0 * n * (CAST(n AS DOUBLE) * syy
        |                                - CAST(sy AS DOUBLE) * sy)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  floor((min(sy) * 2 + min(n)) / (min(n) * 2)) / 100.0 AS mean_value,
        |  round(sqrt((CAST(min(n) AS DOUBLE) * min(syy)
        |              - CAST(min(sy) AS DOUBLE) * min(sy))
        |             / (CAST(min(n) AS DOUBLE) * (min(n) - 1))) / 100.0, 6)
        |    AS stddev_value
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q93_revenue_trend" ->
      """WITH s AS (
        |  SELECT o_orderpriority,
        |    CAST(datediff('day', DATE '2000-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS x,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders),
        |a AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM s GROUP BY o_orderpriority)
        |SELECT o_orderpriority, n AS n_orders,
        |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
        |    AS slope_cents_per_day
        |FROM a ORDER BY o_orderpriority""".stripMargin,
    "q89_winsorized" ->
      """WITH rk AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice) AS r,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders),
        |b AS (
        |  SELECT *,
        |    min(CASE WHEN r = greatest(CAST(ceil(n * 0.05) AS BIGINT), 1)
        |             THEN o_totalprice END)
        |      OVER (PARTITION BY o_orderpriority) AS lo,
        |    min(CASE WHEN r = CAST(ceil(n * 0.95) AS BIGINT)
        |             THEN o_totalprice END)
        |      OVER (PARTITION BY o_orderpriority) AS hi
        |  FROM rk)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CASE WHEN o_totalprice < lo OR o_totalprice > hi
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
        |  min(lo) AS lo, min(hi) AS hi,
        |  floor((sum(CAST(round(o_totalprice * 100) AS BIGINT)) * 2 + count(*))
        |        / (count(*) * 2.0)) / 100.0 AS raw_avg,
        |  floor((sum(CAST(round(least(greatest(o_totalprice, lo), hi) * 100)
        |               AS BIGINT)) * 2 + count(*))
        |        / (count(*) * 2.0)) / 100.0 AS win_avg
        |FROM b GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q83_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS "F_n",
        |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS "F_total",
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS "O_n",
        |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS "O_total",
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS "P_n",
        |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2) AS "P_total"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q84_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, event_type, ts,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t1
        |  FROM events),
        |s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |      OVER (PARTITION BY user_id) AS t2
        |  FROM s1),
        |s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |      OVER (PARTITION BY user_id) AS t3
        |  FROM s2),
        |u AS (
        |  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
        |  FROM s3 GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  count(t1) AS view_users,
        |  count(t2) AS click_users,
        |  count(t3) AS purchase_users,
        |  round(CAST(count(t2) AS DOUBLE) / count(t1), 4) AS view_to_click,
        |  round(CAST(count(t3) AS DOUBLE) / count(t2), 4) AS click_to_purchase
        |FROM u""".stripMargin,
    "q85_moving_avg" ->
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS order_date,
        |    count(*) AS n_orders,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |w AS (
        |  SELECT *,
        |    sum(cents) OVER (ORDER BY order_date
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma_cents,
        |    count(*) OVER (ORDER BY order_date
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma_days,
        |    lag(cents, 1) OVER (ORDER BY order_date) AS prev_cents
        |  FROM d)
        |SELECT order_date, n_orders,
        |  round(cents / 100.0, 2) AS day_total,
        |  round(ma_cents / (ma_days * 100.0), 4) AS ma7,
        |  round((cents - prev_cents) / 100.0, 2) AS delta
        |FROM w ORDER BY order_date""".stripMargin)
}
