package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Sessions, Tables}

/** Temporal operators over the event log: as-of join and gap-based
  * sessionization — the two time-series primitives a training-data
  * pipeline needs that vanilla SQL lacks (SURVEY §2.9 adjacent; the
  * reference's only temporal op is MIN/MAX freshness, `sql:14-19`).
  *
  * Both are built the scale-correct way: ONE shuffle on the key, one
  * sort within partitions, no range cross-join. The as-of join uses the
  * union-and-carry-forward formulation (tag both sides, sort by time
  * within key, `last_value(payload) IGNORE NULLS` carries the most
  * recent right row onto each left row) — O(n log n) per key instead of
  * the O(n·m) range join a naive `ON l.ts >= r.ts` would plan.
  */
object Temporal extends graft.QueryModule {

  /** Generic as-of join: for each left row, the latest right row with
    * `rightTime <= leftTime` within the same key (inclusive, LEFT
    * semantics — unmatched left rows keep null payload).
    *
    * @param payload the right-side columns to carry, as a struct Column
    *                built over `right`'s columns. */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column,
      payload: Column): DataFrame = {
    val lCols = left.columns
    val payloadType = right.select(payload.as("__p")).schema("__p").dataType
    val l = left.select(
      leftKey.as("__key"), leftTime.as("__time"), lit(1).as("__side"),
      struct(lCols.map(col): _*).as("__l"), lit(null).cast(payloadType).as("__p"))
    val r = right.select(
      rightKey.as("__key"), rightTime.as("__time"), lit(0).as("__side"),
      lit(null).cast(l.schema("__l").dataType).as("__l"), payload.as("__p"))
    // right rows sort before left rows at equal time → inclusive (<=)
    val w = Window.partitionBy("__key")
      .orderBy(col("__time"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__match", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__l.*"), col("__match").as("asof"))
  }

  /** q39 — as-of join on the event log: for each error event, the most
    * recent prior purchase by the same user (root-cause window shape).
    * The oracle uses the engine-native ASOF JOIN — semantics parity
    * proves the union-formulation is the real operator, not an
    * approximation. */
  def q39AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val ev = Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    asofJoin(
      errors, purchases,
      col("user_id"), col("user_id"),
      col("ts"), col("ts"),
      payload = struct(col("event_id").as("pid"), col("value").as("pvalue")))
      .select(
        col("event_id"), col("user_id"), col("ts"),
        col("asof.pid").as("prev_purchase_id"),
        round(col("asof.pvalue"), 2).as("prev_purchase_value"))
      .orderBy("event_id")
  }

  /** Session gap: a new session starts after ≥ 30 minutes of inactivity. */
  val SessionGapUs: Long = 30L * 60 * 1000000

  /** q40 — gap-based sessionization: lag + cumulative-sum session ids,
    * rolled up per user. One shuffle (user), one sort (ts) — the batch
    * twin of the streaming `flatMapGroupsWithState` form. */
  def q40Sessionize(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val cum = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("gap_us").isNull || col("gap_us") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(cum))
      .groupBy("user_id")
      .agg(
        max(col("session_id")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        // exact integer micros instead of round(avg(double), 4):
        // engine-order fp summation ulps can straddle the rounding
        // boundary (observed at sf0.1); integer sums are order-free
        sum(round(col("value") * 1000000).cast("long")).as("sum_micros"))
      .select(col("user_id"), col("n_sessions"), col("n_events"),
        (floor((col("sum_micros") * 2 + col("n_events") * 100) /
          (col("n_events") * 200)) / 10000.0).as("avg_value"))
      .orderBy("user_id")
  }

  /** Generic binned point-in-interval RANGE JOIN: every (point, interval)
    * pair on the same key with `start <= pointTime <= end`.
    *
    * The naive `ON key AND t BETWEEN s AND e` plans a per-key nested-loop
    * (O(points × intervals) comparisons — the classic range-join cliff).
    * Binning restores an equijoin: intervals explode to the time bins
    * they overlap, points map to their single bin, and the join key
    * becomes (key, bin) — each candidate pair meets EXACTLY once (via
    * the point's bin), so the exact BETWEEN post-filter needs no dedup.
    * Cost: interval replication × (length/binWidth + 1), the standard
    * trade — size `binWidthUs` near the typical interval length.
    *
    * Output: the point's columns then the interval's columns (caller
    * projects; name collisions are the caller's to avoid). */
  def rangeJoin(
      points: DataFrame, intervals: DataFrame,
      pointKey: Column, intervalKey: Column,
      pointTime: Column, start: Column, end: Column,
      binWidthUs: Long): DataFrame = {
    require(binWidthUs > 0, "binWidthUs must be positive")
    val p = points.select(
      struct(points.columns.map(col): _*).as("__point"),
      pointKey.as("__key"),
      floor(unix_micros(pointTime) / lit(binWidthUs)).as("__bin"),
      unix_micros(pointTime).as("__t"))
    val iv = intervals.select(
      struct(intervals.columns.map(col): _*).as("__interval"),
      intervalKey.as("__key"),
      unix_micros(start).as("__s"),
      unix_micros(end).as("__e"))
      .withColumn("__bin", explode(sequence(
        floor(col("__s") / lit(binWidthUs)),
        floor(col("__e") / lit(binWidthUs)))))
    p.join(iv, Seq("__key", "__bin"))
      .filter(col("__t") >= col("__s") && col("__t") <= col("__e"))
      .select(col("__point.*"), col("__interval.*"))
  }

  /** q57 — range join in anger: assign every event to its containing
    * session interval (the q40 sessions, kept at session granularity).
    * Per-user sessions are disjoint with gaps > the bin width, so the
    * assignment is 1:1 — row count equals the event count (spec-checked);
    * the oracle is the relationally-recomputed BETWEEN join. */
  def q57RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val cum = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = Tables.events(spark, dir)
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("gap_us").isNull || col("gap_us") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(cum))
      .groupBy(col("user_id").as("s_user"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
    val points = Tables.events(spark, dir).select("event_id", "user_id", "ts")
    rangeJoin(
      points, sessions,
      col("user_id"), col("s_user"),
      col("ts"), col("session_start"), col("session_end"),
      binWidthUs = SessionGapUs)
      .select(col("event_id"), col("user_id"), col("session_start"))
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q39_asof_join"  -> (q39AsofJoin _),
    "q40_sessionize" -> (q40Sessionize _),
    "q57_range_join" -> (q57RangeJoin _))

  val oracles: Map[String, String] = Map(
    "q39_asof_join" ->
      """SELECT l.event_id, l.user_id, l.ts,
        |  r.event_id AS prev_purchase_id,
        |  round(r.value, 2) AS prev_purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') l
        |ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,
    // the BETWEEN join recomputed relationally over the same session CTE
    "q57_range_join" ->
      s"""WITH g AS (
         |  SELECT event_id, user_id, ts,
         |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
         |  FROM events),
         |s AS (
         |  SELECT user_id, ts,
         |    sum(CASE WHEN gap_us IS NULL OR gap_us > $SessionGapUs THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ts
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM g),
         |sess AS (
         |  SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end
         |  FROM s GROUP BY user_id, session_id)
         |SELECT e.event_id, e.user_id, x.session_start
         |FROM events e JOIN sess x
         |  ON e.user_id = x.user_id AND e.ts BETWEEN x.session_start AND x.session_end
         |ORDER BY e.event_id""".stripMargin,
    "q40_sessionize" ->
      s"""WITH g AS (
         |  SELECT user_id, ts, value,
         |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
         |  FROM events),
         |s AS (
         |  SELECT user_id, value,
         |    sum(CASE WHEN gap_us IS NULL OR gap_us > $SessionGapUs THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ts
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM g)
         |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
         |  count(*) AS n_events,
         |  floor((2 * sum(CAST(round(value * 1000000) AS BIGINT)) + 100 * count(*))
         |        / (200.0 * count(*))) / 10000.0 AS avg_value
         |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin)
}
