package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** CHANGELOG MATERIALIZATION (CDC apply, latest-wins): fold an ordered
  * upsert/delete changelog down to current state — the lakehouse MERGE
  * pattern every CDC-fed table runs (Debezium→Delta/Iceberg "apply
  * changes"), and the missing sibling of q86's SCD2 (which KEEPS
  * history; this materializes the LATEST version, with deletes).
  *
  * The event log is the changelog: key = user_id, op = DELETE when
  * `event_type = 'error'` (the tombstone convention), otherwise UPSERT
  * of the event's value. Op order is the TOTAL order (ts, event_id) —
  * the tie-break makes the fold deterministic even under equal
  * timestamps, which is what lets a DuckDB oracle replay it exactly.
  *
  * Scale shape: one hash shuffle on the key, then a per-key window
  * (keyed, never global — the q175 single-partition window is the
  * anti-pattern this avoids); state per key is one row. The same fold
  * runs incrementally at ingest in [[graft.streaming.CdcStream]] with
  * one (ts, event_id, cents, alive, n_ops) record per key as streaming
  * state — batch and stream share this latest-wins contract, so
  * re-materializing from scratch and folding at ingest can never
  * disagree.
  */
object Cdc extends graft.QueryModule {

  /** The materialized current state over ANY raw events frame — q185's
    * body and the `cdc_apply()` TVF's. One row per key ever seen:
    * (user_id, n_ops, alive, last_value_cents); deleted keys stay
    * visible with alive = false and value 0 (the downstream
    * anti-join/compaction decides physical removal). */
  private[graft] def applyOver(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    ev.select(
        col("user_id"), col("event_id"), col("ts"), col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("rk") === 1)
      .select(
        col("user_id"), col("n_ops"),
        (col("event_type") =!= "error").as("alive"),
        when(col("event_type") =!= "error", col("cents")).otherwise(0L)
          .as("last_value_cents"))
  }

  /** q185 — current state of the event-log changelog. */
  def q185CdcApply(spark: SparkSession, dir: String): DataFrame = {
    applyOver(Tables.events(spark, dir)).orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q185_cdc_apply" -> (q185CdcApply _))

  /** Full value oracle: the identical (ts, event_id)-ordered
    * latest-wins fold. Timestamps compare at µs on both engines (the
    * q77 convention). */
  val oracles: Map[String, String] = Map(
    "q185_cdc_apply" ->
      """WITH c AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk,
        |    count(*) OVER (PARTITION BY user_id) AS n_ops
        |  FROM c)
        |SELECT user_id, CAST(n_ops AS BIGINT) AS n_ops,
        |  event_type <> 'error' AS alive,
        |  CASE WHEN event_type <> 'error' THEN cents ELSE 0 END AS last_value_cents
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin)
}
