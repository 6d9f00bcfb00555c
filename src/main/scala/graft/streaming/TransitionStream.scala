package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Trajectory

/** RARE-TRANSITION SCREEN AT INGEST — q241 on the live event firehose:
  * each arriving event is checked against the FROZEN transition model
  * (the q239 matrix, built once per corpus version and broadcast — the
  * q195 centroid convention), and an improbable step is flagged the
  * moment it happens instead of by a later batch sweep. The abuse/bot
  * posture: a scripted client's next-step distribution diverges from
  * the fitted matrix long before its volume trips q155/q161.
  *
  * Streaming state is ONE record per user — the last event's
  * (ts, event_id, type) — updated by every event and read by the next
  * one; a session gap suppresses the transition check but still
  * advances the state (the q239 break-is-not-a-transition rule).
  * Within a micro-batch a user's events fold in (ts, event_id) order;
  * ACROSS batches the screen requires per-user in-order arrival (the
  * partition-ordered posture of a keyed event bus — same contract as
  * the q44/q34 session machinery's append path; the fixture source
  * drains in order by construction, and the batch twin is the
  * definition either way). The contract is ENFORCED, not assumed: a
  * cross-batch event older than the user's stored state throws
  * instead of silently counting an inverted from/to transition that
  * the q241 batch oracle would never produce.
  *
  * Heap bound: the per-user sort below materializes one user's events
  * OF ONE MICRO-BATCH on the heap — bounded by the source's batch
  * admission (`maxFilesPerTrigger`/rate limits in a deployment), not
  * by the user's lifetime history; the cross-batch state stays one
  * record per user regardless.
  *
  * Stream ≡ batch: the model lookup, gap rule and floor are shared
  * constants/definitions with [[Trajectory.rareOver]], so both gate on
  * the same full-value oracle.
  */
object TransitionStream extends graft.QueryModule {

  private[streaming] case class Ev(
      user_id: Long, event_id: Long, ts_us: Long, event_type: String)
  private[streaming] case class LastEv(ts_us: Long, event_id: Long, typ: String)
  private[streaming] case class Flagged(
      user_id: Long, event_id: Long, from_type: String, to_type: String,
      p_micro: Long)

  /** The screen over ANY streaming (user_id, ts, event_id, event_type)
    * frame against a frozen model — shared by q242 and the
    * crash-recovery spec (which re-points it at a multi-file source). */
  private[streaming] def screened(spark: SparkSession, evStream: DataFrame,
      model: Map[String, Long]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val gapUs = Trajectory.TrajectoryGapMin * 60L * 1000000L
    val floor = Trajectory.RareMicro
    val screen =
      (uid: Long, rows: Iterator[Ev], state: GroupState[LastEv]) => {
        val out = Seq.newBuilder[Flagged]
        var last = if (state.exists) Option(state.get) else None
        rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
          last.foreach { l =>
            // in-order contract: within a batch the sort guarantees
            // (e.ts_us, e.event_id) >= (l.ts_us, l.event_id); across
            // batches a violation means the source is not per-user
            // ordered — fail loudly rather than fold an inverted
            // transition the batch twin cannot produce. The guard is the
            // FULL lexicographic sort key: a cross-batch arrival tied on
            // ts_us but with a smaller event_id would fold AFTER the
            // stored state here while the batch twin's (ts_us, event_id)
            // sort folds it BEFORE — same silent divergence, same throw
            if (e.ts_us < l.ts_us ||
                (e.ts_us == l.ts_us && e.event_id < l.event_id))
              throw new IllegalStateException(
                s"out-of-order arrival for user $uid: event ${e.event_id} at " +
                  s"${e.ts_us}us after state (event ${l.event_id} at " +
                  s"${l.ts_us}us) — the transition screen requires per-user " +
                  "in-order delivery in (ts, event_id)")
            if (e.ts_us - l.ts_us <= gapUs) {
              // every observed same-corpus transition exists in the
              // model; 0 covers a cold-start pair (trivially rare)
              val p = bc.value.getOrElse(s"${l.typ}>${e.event_type}", 0L)
              if (p < floor)
                out += Flagged(uid, e.event_id, l.typ, e.event_type, p)
            }
          }
          last = Some(LastEv(e.ts_us, e.event_id, e.event_type))
        }
        last.foreach(state.update)
        out.result().iterator
      }
    evStream
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(screen)
      .toDF()
  }

  /** q242 — the q241 flagged-transition rows produced at ingest. */
  def q242StreamTransitionScreen(spark: SparkSession, dir: String): DataFrame = {
    // the frozen model: |types|²-bounded by construction, cached per
    // corpus version, shipped as one broadcast
    val model: Map[String, Long] =
      graft.core.ArtifactStore.value(spark, dir, Seq("events.parquet"),
          "transitionModel") { _ =>
        Trajectory.q239TransitionMatrix(spark, dir)
          .select("from_type", "to_type", "p_micro").collect()
          .map(r => s"${r.getString(0)}>${r.getString(1)}" -> r.getLong(2))
          .toMap
      }
    val flagged = screened(spark, EventStream.eventsStream(spark, dir), model)
    EventStream.drainToFiles(spark, flagged).orderBy("user_id", "event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q242_stream_transition_screen" -> (q242StreamTransitionScreen _))

  /** Stream ≡ batch ⇒ the oracle is q241's, verbatim. */
  val oracles: Map[String, String] = Map(
    "q242_stream_transition_screen" ->
      Trajectory.oracles("q241_rare_transitions"))
}
