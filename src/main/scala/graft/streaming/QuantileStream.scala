package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.{Sessions, Tables}
import graft.functions.QuantileSketchAgg
import graft.operators.QuantileSketch

/** STREAMING QUANTILE PROFILE: the q182 compactor-stack sketch
  * maintained AT INGEST — per event type, the value distribution's
  * P50/P90/P99 are current after every micro-batch instead of
  * recomputed by a batch pass. This is the compactor sketch doing the
  * job it was designed for: the SAME [[QuantileSketchAgg.State]] the
  * batch aggregate folds is the `flatMapGroupsWithState` state here
  * (one code path, no parallel reimplementation), its size stays
  * O(K·log n) per event type no matter how much streams through, and
  * the serialize/deserialize pair that rides Spark's aggregation
  * buffers doubles as the state encoder.
  *
  * Completes the sketch-at-ingest family: q145 (heavy hitters), q172
  * (CMS cells), q183 (quantiles) — batch sketch q90/q169/q182
  * respectively.
  *
  * The gate emits the SAME row shape as q182 (oracle shared verbatim):
  * oracle-recomputable facts (counts, exact lower quantiles from the
  * batch recount) + the rank-budget verdicts on the STREAMED
  * estimates. Estimates are summary- and arrival-order-internal; the
  * bound is the contract, exactly as in q182. */
object QuantileStream extends graft.QueryModule {

  private[streaming] case class EvRow(event_type: String, cents: Long)
  private[streaming] case class EstOut(
      event_type: String, version: Long, p50: Long, p90: Long, p99: Long)

  /** Fold a batch of arriving values into the group's compactor stack;
    * emit the refreshed estimates tagged with the monotone processed
    * count (the [[HeavyHittersStream]] convention — last version wins
    * after the drain). */
  private[streaming] def sketchUpdate(
      key: String,
      rows: Iterator[EvRow],
      state: GroupState[Array[Byte]]): Iterator[EstOut] = {
    val s =
      if (state.exists) QuantileSketchAgg.State.fromBytes(state.get)
      else new QuantileSketchAgg.State()
    var n = 0L
    rows.foreach { r => s.insert(r.cents); n += 1 }
    state.update(s.toBytes)
    if (n == 0) Iterator.empty
    else Iterator.single(
      EstOut(key, s.count, s.quantile(50), s.quantile(90), s.quantile(99)))
  }

  /** q183 — drain the event firehose through the sketch state, then
    * verify the final streamed estimates with q182's batch recount. */
  def q183StreamQuantiles(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    import spark.implicits._
    val stream = spark.readStream
      .schema(Tables.events(spark, dir).schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    val rows = EventStream.normalizeTs(stream)
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .as[EvRow]
    val summaries = rows
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sketchUpdate)
      .toDF()
    val drained = EventStream.drainToFiles(spark, summaries)
    import org.apache.spark.sql.expressions.Window
    val wv = Window.partitionBy("event_type")
    val finals = drained
      .withColumn("vmax", max(col("version")).over(wv))
      .filter(col("version") === col("vmax"))
      .select(col("event_type"),
        col("p50").as("est_p50"), col("p90").as("est_p90"), col("p99").as("est_p99"))
    QuantileSketch.verdictsOver(
      Tables.events(spark, dir)
        .select(col("event_type"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents")),
      finals)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q183_stream_quantiles" -> (q183StreamQuantiles _))

  /** Same facts, same verdict contract, same oracle as the batch gate. */
  val oracles: Map[String, String] = Map(
    "q183_stream_quantiles" -> QuantileSketch.oracles("q182_quantile_sketch"))
}
