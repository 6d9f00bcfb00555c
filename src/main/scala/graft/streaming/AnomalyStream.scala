package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.operators.Analytics

/** STREAMING INGEST-ANOMALY MONITOR: the q155 volume tripwire run the
  * way a production monitor actually runs — the STREAM maintains the
  * per-(event_type, day) count table incrementally (watermarked 1-day
  * tumbling windows, append mode: a day's row lands exactly once, when
  * the watermark closes it), and the calendar-bounded verdict pass runs
  * over the landed day table. The expensive part (touching every raw
  * event) is the incremental aggregation with bounded state (one count
  * per open (type, day) window); the verdict tail is
  * [[Analytics.anomalyVerdicts]] — the SAME code as the batch q155, so
  * stream-maintained and batch-recomputed monitors can never drift.
  *
  * Emitted-day semantics are the q34 closed-window contract: a day
  * emits iff `day_end ≤ max_ts − watermark`, so the trailing partial
  * day never produces a false drop alarm — the reason a naive batch
  * q155 over a live table pages on every midnight rollover and this
  * shape doesn't. */
object AnomalyStream extends graft.QueryModule {

  /** q161 — streamed day counts (closed days only) → q155 verdicts. */
  def q161StreamAnomaly(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val daily = EventStream.eventsStream(spark, dir)
      .withWatermark("ts", EventStream.WatermarkDelay)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"), col("window.start").cast("date").as("day"),
        col("n_events"))
    Analytics.anomalyVerdicts(EventStream.drainToFiles(spark, daily))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q161_stream_anomaly" -> (q161StreamAnomaly _))

  /** Day counts + the q34 closed-window filter + the q155 verdict SQL
    * over the surviving days. */
  val oracles: Map[String, String] = Map(
    "q161_stream_anomaly" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT max(ts) AS mx FROM events),
        |closed AS (
        |  SELECT d.* FROM d, m
        |  WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= mx - INTERVAL 1 MINUTE),
        |w AS (
        |  SELECT event_type, day, n_events,
        |    count(*) OVER tw AS w_days,
        |    coalesce(sum(n_events) OVER tw, 0) AS trail_sum
        |  FROM closed
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY day
        |                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n_events,
        |  CAST(w_days AS BIGINT) AS w_days,
        |  CAST(trail_sum AS BIGINT) AS trail_sum,
        |  n_events * w_days > trail_sum * 2 AS is_spike,
        |  n_events * w_days * 2 < trail_sum AS is_drop
        |FROM w WHERE w_days >= 3 ORDER BY event_type, day""".stripMargin)
}
