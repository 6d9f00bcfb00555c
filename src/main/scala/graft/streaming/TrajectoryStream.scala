package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Trajectory

/** STREAMING TRAJECTORY ASSEMBLY: q207's session-sequence construction
  * run AT INGEST — the native `session_window` (q44's operator) carries
  * an ORDER-PRESERVING assembly aggregate instead of counts, so closed
  * sessions leave the stream already shaped as training examples
  * (`a>b>c` event-type strings). Sessions close when the watermark
  * passes `last_event + gap`; state per open session is its event
  * struct list — bounded by session length, evicted at close, never
  * user-lifetime state.
  *
  * The batch twin ([[Trajectory.assembled]]) and the shared oracle CTEs
  * gate the assembly; the emission set follows the q44 convention
  * (sessions whose last event is at least gap + watermark-delay before
  * the stream's max timestamp). */
object TrajectoryStream extends graft.QueryModule {

  /** q208 — streamed session assembly over `dir`'s event firehose. */
  def q208StreamTrajectories(spark: SparkSession, dir: String): DataFrame = {
    val sessions = EventStream.eventsStream(spark, dir)
      .withWatermark("ts", EventStream.WatermarkDelay)
      .groupBy(
        session_window(col("ts"), s"${Trajectory.TrajectoryGapMin} minutes"),
        col("user_id"))
      .agg(
        min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        array_join(
          transform(
            sort_array(collect_list(struct(
              col("ts"), col("event_id"), col("event_type")))),
            e => e.getField("event_type")),
          ">").as("trajectory"))
      .select(col("user_id"), col("session_start"),
        col("n_events"), col("trajectory"))
    EventStream.drainToFiles(spark, sessions)
      .orderBy("user_id", "session_start")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q208_stream_trajectories" -> (q208StreamTrajectories _))

  /** The q207 CTEs + the q44 emission cutoff. */
  val oracles: Map[String, String] = Map(
    "q208_stream_trajectories" ->
      s"""WITH ${Trajectory.oracleCtes},
         |m AS (SELECT max(ts) AS mx FROM events)
         |SELECT user_id, session_start, n_events, trajectory
         |FROM sess, m
         |WHERE last_ev + INTERVAL ${Trajectory.TrajectoryGapMin} MINUTE
         |  <= mx - INTERVAL 1 MINUTE
         |ORDER BY user_id, session_start""".stripMargin)
}
