package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** STREAMING ordered funnel (the stateful-streaming twin of
  * [[graft.operators.Analytics.q84Funnel]]): per-user
  * view→click→purchase progression maintained as `mapGroupsWithState`
  * state across micro-batches — the always-on conversion monitor, where
  * the batch funnel is the nightly report.
  *
  * State is three stage timestamps per user (24 bytes) — O(users), not
  * O(events), the same posture as [[UserStatsStream]]. Within each
  * invocation the batch's events are time-sorted and folded through the
  * strict state machine (first view, first click after it, first
  * purchase after that) — identical semantics to the batch windows on
  * any single batch. Cross-batch, an event arriving out of order BEHIND
  * an already-locked earlier stage cannot retroactively re-open it —
  * the same horizon trade `dropDuplicatesWithinWatermark` makes; an
  * AvailableNow drain of the fixture is single-batch, so the emitted
  * funnel equals the batch funnel exactly and the oracle is q84's SQL
  * verbatim.
  */
object FunnelStream extends graft.QueryModule {

  /** `ts` is event time in MICROS ([[graft.core.Tables.normalizeTs]] grain). */
  case class EventRow(ts: Long, user_id: Long, event_type: String)

  /** Stage timestamps in micros; -1 = not reached. */
  case class FunnelState(t1: Long, t2: Long, t3: Long)

  case class UserFunnel(user_id: Long,
      has_view: Boolean, has_click: Boolean, has_purchase: Boolean)

  def updateState(
      userId: Long,
      events: Iterator[EventRow],
      state: GroupState[FunnelState]): UserFunnel = {
    var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
    // fold time-sorted: "first X after Y" needs ascending order; ties
    // cannot flip any stage (every transition is strictly-greater)
    events.toArray.sortBy(_.ts).foreach { e =>
      val t = e.ts // already micros, the batch grain
      e.event_type match {
        case "view" if s.t1 < 0 => s = s.copy(t1 = t)
        case "click" if s.t1 >= 0 && t > s.t1 && s.t2 < 0 => s = s.copy(t2 = t)
        case "purchase" if s.t2 >= 0 && t > s.t2 && s.t3 < 0 => s = s.copy(t3 = t)
        case _ =>
      }
    }
    state.update(s)
    UserFunnel(userId, s.t1 >= 0, s.t2 >= 0, s.t3 >= 0)
  }

  /** q98 — drain the stateful funnel over `dir`'s events, then roll the
    * final per-user stage flags up to the q84 report shape. The drain is
    * update-mode ([[EventStream.drainToFiles]]); the read-back keeps
    * each user's furthest emission (stage flags only ever advance). */
  def q98StreamFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = EventStream.eventsStream(spark, dir)
      .select(unix_micros(col("ts")).as("ts"), col("user_id"), col("event_type"))
      .as[EventRow]
    val funnel = events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateState)
    val stage = col("has_view").cast("int") + col("has_click").cast("int") +
      col("has_purchase").cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(stage.desc)
    EventStream.drainToFiles(spark, funnel.toDF(), update = true)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("has_view").cast("long")).as("view_users"),
        sum(col("has_click").cast("long")).as("click_users"),
        sum(col("has_purchase").cast("long")).as("purchase_users"))
      .select(
        col("n_users"), col("view_users"), col("click_users"),
        col("purchase_users"),
        round(col("click_users").cast("double") / col("view_users"), 4)
          .as("view_to_click"),
        round(col("purchase_users").cast("double") / col("click_users"), 4)
          .as("click_to_purchase"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q98_stream_funnel" -> (q98StreamFunnel _))

  val oracles: Map[String, String] = Map(
    // the BATCH funnel's oracle verbatim: a single-batch drain must land
    // on exactly the batch windows' answer
    "q98_stream_funnel" -> graft.operators.Analytics.oracles("q84_funnel"))
}
