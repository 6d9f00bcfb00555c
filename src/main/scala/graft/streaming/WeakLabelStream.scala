package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.WeakLabels

/** STREAMING WEAK-SUPERVISION LABELER: q203's labeling functions run AT
  * INGEST — every arriving document gets its three LF votes and the
  * majority-vote consensus as columns, the label stream a downstream
  * trainer (q166's online NB) or router consumes without a second
  * corpus pass. The q190/q152 score-at-ingest posture applied to label
  * bootstrapping.
  *
  * Stateless row-local column math — no watermark, no state store; the
  * label is a pure function of the row ([[WeakLabels.labeled]], the
  * SAME expression chain as batch), so the drained stream equals the
  * batch per-document label frame and the shared CTE chain
  * ([[WeakLabels.perDocOracleSql]]) gates it at per-document grain. */
object WeakLabelStream extends graft.QueryModule {

  /** q204 — streamed LF voting over `dir`'s documents table. */
  def q204StreamWeakLabels(spark: SparkSession, dir: String): DataFrame = {
    val stream = EventStream.documentsStream(spark, dir)
    val voted = WeakLabels.labeled(graft.core.Tables.fanout(spark, stream))
    EventStream.drainToFiles(spark, voted).orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q204_stream_weak_labels" -> (q204StreamWeakLabels _))

  /** Per-document oracle from the shared q203 CTE chain. */
  val oracles: Map[String, String] = Map(
    "q204_stream_weak_labels" ->
      s"""WITH ${WeakLabels.perDocOracleSql}
         |SELECT doc_id, lf_length, lf_ttr, lf_filler, vote
         |FROM v ORDER BY doc_id""".stripMargin)
}
