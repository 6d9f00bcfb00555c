package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{ArtifactStore, Tables}

/** JSON-lines corpus ingest with corrupt-record quarantine — the
  * semi-structured face of the ingest family (the reference's source is
  * API JSON; a 100 TB text corpus usually lands as JSONL shards, and a
  * real crawl ALWAYS carries broken lines). The reader runs PERMISSIVE
  * with an explicit schema + `_corrupt_record` column: bad lines don't
  * fail the job and don't silently vanish — they are counted and
  * quarantined, which is the difference between an ingest stage and a
  * data-loss bug.
  *
  * Schema is explicit, never inferred: at 100 TB, inference is a full
  * extra pass over the corpus before the first real one.
  */
object JsonlIngest extends graft.QueryModule {

  val CorruptMod = 41L
  val CorruptRem = 3L

  /** Parse schema: the documents shape + the quarantine column. */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("_corrupt_record", StringType)))

  /** Materialized JSONL rendering of the corpus with deterministically
    * corrupted lines (doc_id ≡ CorruptRem mod CorruptMod gets a broken
    * prefix), in the local directory returned: built once per corpus
    * content version in [[ArtifactStore]], like
    * [[graft.operators.SnapshotFixture]]. */
  def ensure(spark: SparkSession, dir: String): String =
    ArtifactStore.tempDir(spark, dir, Seq("documents.parquet"), "jsonl") { out =>
      val line = to_json(struct(
        col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")))
      Tables.documents(spark, dir)
        .select(
          when(col("doc_id") % CorruptMod === CorruptRem,
            concat(lit("{broken "), line))
            .otherwise(line).as("value"))
        .write.mode("overwrite").text(new HPath(out, "documents.jsonl").toString)
    }

  /** Read the JSONL corpus: valid rows parsed against [[schema]],
    * corrupt lines quarantined into `_corrupt_record`. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(new HPath(ensure(spark, dir), "documents.jsonl").toString)

  /** q107 — ingest report over the JSONL landing: per-source valid-doc
    * counts and token mass, corrupt lines under the `_corrupt` label —
    * nothing lost, everything accounted for (valid + corrupt = lines
    * written). One scan, one tiny source-grain shuffle. */
  def q107JsonlIngest(spark: SparkSession, dir: String): DataFrame = {
    read(spark, dir)
      .groupBy(coalesce(col("source"), lit("_corrupt")).as("source"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("_corrupt_record").isNull, col("n_chars"))
          .otherwise(0L)).as("n_chars"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q107_jsonl_ingest" -> (q107JsonlIngest _))

  val oracles: Map[String, String] = Map(
    // the oracle replays the corruption rule over the parquet truth:
    // valid rows keep their source, corrupted doc_ids pool under _corrupt
    "q107_jsonl_ingest" ->
      s"""SELECT CASE WHEN doc_id % $CorruptMod = $CorruptRem THEN '_corrupt'
         |            ELSE source END AS source,
         |  count(*) AS n_lines,
         |  CAST(sum(CASE WHEN doc_id % $CorruptMod = $CorruptRem THEN 0
         |                ELSE n_chars END) AS BIGINT) AS n_chars
         |FROM documents
         |GROUP BY 1 ORDER BY source""".stripMargin)
}
