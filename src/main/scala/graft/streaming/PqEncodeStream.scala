package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{KMeans, Pq}

/** STREAMING PQ encode: the trained product-quantization codebook
  * ([[Pq.trainedBook]], the q136 trajectory's refined state) applied to
  * embeddings AS THEY ARRIVE — the q135 "batch-train, score at ingest"
  * posture for the fine quantizer: a 100 TB ingest pipeline writes the
  * 8-byte PQ codes next to each vector at write time, so the ADC
  * search path (q140) never waits on an encode backfill. The codebook
  * is an [[Pq.M]]×[[Pq.K]]×[[Pq.Dsub]] broadcast literal; encoding is
  * stateless row-local column math ([[Pq.encodeColumns]], shared with
  * the batch path — no watermark, no state store, ZERO streaming
  * state).
  *
  * INTEGER-EXACT: quantization is the shared [[KMeans.quantizeCol]],
  * distances int64, the per-row distortion an 8-term int64 sum — an
  * AvailableNow drain over the static corpus emits exactly the batch
  * encode against the same codebook, so the query carries a full value
  * oracle: the q136 trajectory replayed in SQL ([[Pq.commonCtes]],
  * shared text), re-shaped to one row per vector.
  *
  * Cites: Jégou, Douze & Schmid 2011 §II-III (codebook + encode);
  * completes the ingest half of SURVEY §2.9's PQ family (q136/q140).
  */
object PqEncodeStream extends graft.QueryModule {

  /** q141 — each arriving embedding quantized and PQ-encoded:
    * (vec_id, codes_packed: the M=8 4-bit codes folded big-endian into
    * one int64, distortion_sq_micro). Scalar columns only — the packed
    * form is sortable/hashable by any downstream harness and unpacks
    * exactly (code_i = (packed >> 4*(M-1-i)) & 15). */
  def q141StreamPqEncode(spark: SparkSession, dir: String): DataFrame = {
    // batch-train once per corpus version (cached); the stream only
    // ever sees the codebook literal
    val book = Pq.trainedBook(spark, dir)
    val stream = EventStream.embeddingsStream(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), KMeans.quantizeCol _).as("em"))
    val encoded = Pq.encodeColumns(graft.core.Tables.fanout(spark, stream), book)
    EventStream.drainToFiles(spark, encoded).orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q141_stream_pq_encode" -> (q141StreamPqEncode _))

  val oracles: Map[String, String] = Map(
    "q141_stream_pq_encode" -> Pq.encodeOracleSql)
}
