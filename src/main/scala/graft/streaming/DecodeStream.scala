package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.operators.Multimodal
import graft.operators.Multimodal.{ImageAsset, ImageFixture}

/** STREAMING media decode: binary image payloads decoded with the REAL
  * JDK codec AS THEY ARRIVE — the multimodal twin of the
  * batch-train/score-at-ingest family (q135/q141): a 100 TB multimodal
  * ingest validates and fingerprints every payload at write time
  * (decode stats next to the binary column), so corrupt uploads are
  * caught at the door instead of by the first training job that maps
  * over them.
  *
  * The stage is STATELESS `mapPartitions` over the stream — one codec
  * context per partition-batch, zero streaming state — so it rides
  * per-row CPU exactly like the batch decode it reuses
  * ([[Multimodal.dHashImages]]-family code: the decoded raster feeds
  * the same stats). Payload bytes are the fixture-deterministic real
  * PNG/BMP encodings (built in-flight from the document row, the
  * [[Multimodal.imageAssets]] formula), so the value oracle replays
  * the generating formula against the whole in-stream encode→decode
  * chain, per document.
  */
object DecodeStream extends graft.QueryModule {

  /** q148 — each arriving payload decoded and audited: (doc_id, format,
    * width, height, n_pixels, sum_gray) from the real decoded raster. */
  def q148StreamDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Sessions.prepare(spark)
    val stream = spark.readStream
      .schema(DedupStream.docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val decoded = graft.core.Tables.fanout(spark, stream)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        it.map { case (docId, nChars) =>
          val (w, h) = ImageFixture.dims(nChars)
          val fmt = ImageFixture.format(docId)
          val bytes = ImageFixture.encode(ImageFixture.grid(docId, w, h), fmt)
          ImageAsset(docId, bytes, fmt, w, h)
        }
      }
      .mapPartitions { it =>
        it.map { a =>
          val img = Multimodal.ImageIoDecoder.decode(a.payload).getOrElse(
            throw new IllegalStateException(
              s"payload for doc ${a.doc_id} (${a.format}) did not decode"))
          (a.doc_id, a.format, img.width.toLong, img.height.toLong,
            img.gray.length.toLong, img.gray.foldLeft(0L)(_ + _))
        }
      }
      .toDF("doc_id", "format", "width", "height", "n_pixels", "sum_gray")
    EventStream.drainToFiles(spark, decoded).orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q148_stream_decode" -> (q148StreamDecode _))

  // Full value oracle: the pixel formula replayed per document — any
  // in-stream codec, dimension, or channel drift breaks the hash.
  val oracles: Map[String, String] = Map(
    "q148_stream_decode" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |    8 + (n_chars % 8) AS w, 8 + (n_chars % 6) AS h
        |  FROM documents)
        |SELECT doc_id, format, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(list_sum(flatten(list_transform(range(0, h), y ->
        |    list_transform(range(0, w), x ->
        |      (31 * doc_id + 7 * x + 13 * y) % 256)))) AS BIGINT) AS sum_gray
        |FROM a ORDER BY doc_id""".stripMargin)
}
