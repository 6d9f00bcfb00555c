package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Sessions

/** STREAMING CDC APPLY: q185's latest-wins changelog fold maintained AT
  * INGEST — each arriving op folds into its key's one-record state, so
  * the materialized "current table" is always live instead of rebuilt
  * by a batch window (the q172/q145 maintained-artifact posture applied
  * to table state; this is exactly what a Delta/Iceberg streaming MERGE
  * sink does per key).
  *
  * State posture: ONE record per key ever seen — (order key, value,
  * alive, op count) — bounded by key cardinality, not stream length;
  * the latest-wins comparison is on the SAME (ts, event_id) total order
  * as the batch fold, so arrival order across micro-batches cannot
  * change the result (the fold is a max over a total order = a
  * commutative monoid; batch and stream agree by construction, which is
  * why the q185 oracle gates this query verbatim).
  *
  * Emissions are tagged with the key's monotone op count; multi-batch
  * drains converge by keeping each key's largest emission (the q145/
  * q166 convention for converging update streams through an
  * append-mode file drain).
  */
object CdcStream extends graft.QueryModule {

  private[graft] case class OpRow(
      user_id: Long, event_id: Long, ts_us: Long, del: Boolean, cents: Long)
  private[graft] case class KeyState(
      ts_us: Long, event_id: Long, del: Boolean, cents: Long, n_ops: Long)
  private[graft] case class KeyOut(
      user_id: Long, n_ops: Long, alive: Boolean, last_value_cents: Long)

  /** Fold a batch of a key's ops into its one-record state. */
  private[graft] def foldKey(
      key: Long,
      rows: Iterator[OpRow],
      state: GroupState[KeyState]): Iterator[KeyOut] = {
    var s = if (state.exists) state.get else KeyState(Long.MinValue, Long.MinValue, del = true, 0L, 0L)
    rows.foreach { r =>
      val newer = r.ts_us > s.ts_us || (r.ts_us == s.ts_us && r.event_id > s.event_id)
      s = KeyState(
        if (newer) r.ts_us else s.ts_us,
        if (newer) r.event_id else s.event_id,
        if (newer) r.del else s.del,
        if (newer) r.cents else s.cents,
        s.n_ops + 1)
    }
    state.update(s)
    Iterator.single(KeyOut(key, s.n_ops, !s.del, if (s.del) 0L else s.cents))
  }

  /** q186 — the live materialized table after draining the changelog:
    * exactly q185's batch answer (shared latest-wins contract). */
  def q186StreamCdc(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    import spark.implicits._
    val ops = EventStream.eventsStream(spark, dir)
      .select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        (col("event_type") === "error").as("del"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .as[OpRow]
    val folded = ops
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(foldKey)
      .toDF()
    val drained = EventStream.drainToFiles(spark, folded)
    // multi-batch convergence: a key's latest emission carries its
    // largest n_ops; the final state is the arg-max row per key
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("n_ops").desc)
    drained.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
      .orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q186_stream_cdc" -> (q186StreamCdc _))

  /** The batch fold is the exact oracle (see scaladoc). */
  val oracles: Map[String, String] = Map(
    "q186_stream_cdc" -> graft.operators.Cdc.oracles("q185_cdc_apply"))
}
