package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Custom streaming state via `mapGroupsWithState` (SURVEY §2.8
  * extension surface): per-user running statistics maintained across
  * micro-batches — the pattern for state that `session_window` /
  * windowed aggs can't express (counters, custom sketches, ML feature
  * state).
  *
  * State is a fixed-size case class per key — bounded memory, and the
  * state store shuffles on the grouping key exactly like an aggregate.
  * At 100 TB of events the state size is O(distinct users), not O(rows).
  */
object UserStatsStream {

  /** `ts` is event time in MICROS (the engine's normalized event-time
    * grain — [[graft.core.Tables.normalizeTs]] handles whatever the file
    * carried). */
  case class EventRow(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double)

  case class UserState(nEvents: Long, totalValue: Double, lastTsUs: Long)

  case class UserStats(user_id: Long, n_events: Long, total_value: Double,
      last_ts_us: Long)

  def updateState(
      userId: Long,
      events: Iterator[EventRow],
      state: GroupState[UserState]): UserStats = {
    var s = state.getOption.getOrElse(UserState(0L, 0.0, Long.MinValue))
    events.foreach { e =>
      s = UserState(s.nEvents + 1, s.totalValue + e.value, math.max(s.lastTsUs, e.ts))
    }
    state.update(s)
    UserStats(userId, s.nEvents, s.totalValue, s.lastTsUs)
  }

  /** Run the stateful stream over `dir`'s events to completion and return
    * the final per-user stats: an update-mode drain
    * ([[EventStream.drainToFiles]]) whose read-back keeps the latest
    * emission per key. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = EventStream.eventsStream(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[EventRow]
    val stats = events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateState)
    // latest emission per user = final state
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    EventStream.drainToFiles(spark, stats.toDF(), update = true)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "n_events", "total_value", "last_ts_us")
      .orderBy("user_id")
  }
}
