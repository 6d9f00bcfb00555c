package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.JsonlIngest

/** STREAMING JSONL ingest with corrupt-record quarantine — the always-on
  * twin of [[graft.sources.JsonlIngest]] (q107): a landing directory of
  * JSONL shards is consumed as a file stream, every line is tagged
  * valid/corrupt STATELESS in-flight (no watermark, no state store —
  * ingest hygiene is a map), and rows land in the lake through the
  * exactly-once file sink. The report is then a batch aggregate over
  * the drained landing — the production split of duties: the stream
  * moves and tags bytes, batch analytics read the result.
  */
object IngestStream extends graft.QueryModule {

  /** q108 — drain the JSONL corpus through the quarantine-tagging stream
    * and report per-source line counts + valid character mass; corrupt
    * lines pool under `_corrupt`. AvailableNow over the static fixture
    * consumes every shard once, so the report equals q107's batch read
    * exactly — the oracle is q107's SQL verbatim. */
  def q108StreamJsonlIngest(spark: SparkSession, dir: String): DataFrame = {
    val path = new HPath(JsonlIngest.ensure(spark, dir), "documents.jsonl")
    val stream = spark.readStream
      .schema(JsonlIngest.schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path.toString)
    val tagged = stream.select(
      coalesce(col("source"), lit("_corrupt")).as("source"),
      when(col("_corrupt_record").isNull, col("n_chars"))
        .otherwise(0L).as("valid_chars"))
    EventStream.drainToFiles(spark, tagged)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("valid_chars")).as("n_chars"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q108_stream_jsonl_ingest" -> (q108StreamJsonlIngest _))

  val oracles: Map[String, String] = Map(
    // the batch ingest report verbatim: the streamed landing must carry
    // every line to the same totals
    "q108_stream_jsonl_ingest" -> JsonlIngest.oracles("q107_jsonl_ingest"))
}
