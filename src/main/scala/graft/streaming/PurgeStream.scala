package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}
import graft.operators.Purge

/** PURGE AT INGEST — the q202 tombstone set enforced at the door: a
  * deletion request must not only purge the materialized surfaces (the
  * batch cascade) but also block the same content from RE-ENTERING on
  * the next crawl — re-ingesting a forgotten user's documents is the
  * compliance failure the batch sweep alone cannot prevent. Every
  * arriving document is probed against the request table and dropped
  * before it lands; what drains is exactly the post-purge corpus.
  *
  * Streaming shape: stateless — the tombstone set is requests-sized by
  * the GDPR/CCPA regime (the q202 premise), so the probe is ONE
  * stream-static broadcast join per micro-batch (left join + null
  * filter: the stream-static anti form), no watermark, no state store.
  * Emitted rows are the surviving documents, so the oracle is the
  * full post-purge table — the q202 `documents` surface at row grain
  * rather than count grain.
  */
object PurgeStream extends graft.QueryModule {

  /** q238 — at-ingest tombstone screen over `dir`'s documents: the
    * surviving (doc_id, source, n_chars) rows. */
  def q238StreamPurge(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val tomb = graft.core.Materialize.once(Purge.tombstones(spark, dir))
    val stream = spark.readStream
      .schema(DedupStream.docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val screened = Tables.fanout(spark, stream)
      .join(broadcast(tomb), col("doc_id") === col("t_id"), "left")
      .filter(col("t_id").isNull)
      .select(col("doc_id"), col("source"), col("n_chars"))
    EventStream.drainToFiles(spark, screened).orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q238_stream_purge" -> (q238StreamPurge _))

  /** Full-value oracle: the post-purge document table under the q202
    * tombstone rule. */
  val oracles: Map[String, String] = Map(
    "q238_stream_purge" ->
      s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE doc_id % ${Purge.TombstoneMod} <> 0
         |ORDER BY doc_id""".stripMargin)
}
