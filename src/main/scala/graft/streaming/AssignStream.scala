package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.KMeans

/** STREAMING centroid assignment: the trained k-means quantizer
  * ([[KMeans.trainedCentroids]], the q130 trajectory's final state)
  * applied to embeddings AS THEY ARRIVE — the "batch-train, score at
  * ingest" posture of [[DsirStream]] (q132) applied to vector
  * quantization. A 100 TB ingest pipeline routes every new embedding to
  * its IVF list / shard / cluster bucket at write time this way: the
  * model is a k×dim broadcast literal, scoring is stateless and
  * map-only (no watermark, no state store — ZERO streaming state), so
  * the stream rides entirely on per-row CPU exactly like the batch
  * assignment pass it reuses ([[KMeans.assigned]], shared code).
  *
  * INTEGER-EXACT: quantization is the shared [[KMeans.quantizeCol]]
  * (half-away micros), distances int64 — an AvailableNow drain over the
  * static corpus emits exactly the batch assignment against the same
  * centroids, so the query carries a full value oracle: the q130
  * trajectory replayed in SQL plus one more assignment round.
  *
  * Cites: Lloyd 1982; the ingest-side companion of SURVEY §2.9's
  * similarity-search family (q130/q43/q69).
  */
object AssignStream extends graft.QueryModule {

  /** q135 — each arriving embedding quantized and assigned to its
    * nearest trained centroid: (vec_id, cluster, d). */
  def q135StreamAssign(spark: SparkSession, dir: String): DataFrame = {
    // batch-train once per corpus version (cached); the stream only
    // ever sees the k×dim literal
    val cents = KMeans.trainedCentroids(spark, dir)
    val stream = EventStream.embeddingsStream(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), KMeans.quantizeCol _).as("em"))
    val scored = KMeans.assigned(graft.core.Tables.fanout(spark, stream), cents)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"), col("d"))
    EventStream.drainToFiles(spark, scored).orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q135_stream_assign" -> (q135StreamAssign _))

  val oracles: Map[String, String] = Map(
    "q135_stream_assign" -> KMeans.assignOracleSql)
}
