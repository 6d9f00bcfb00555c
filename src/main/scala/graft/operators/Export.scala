package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ArtifactStore

/** The export writer: [[landExport]] writes the exported corpus as
  * partitioned parquet or JSON lines (one directory per content-hash
  * shard, q128's draw), and [[q248ExportVerify]] re-reads the landed bytes
  * and reconciles every shard against the q247 manifest: record counts,
  * token counts recomputed from the landed text, weighted-token mass, the
  * shard draw and the 48-bit md5-prefix content checksum. Any drift flips
  * a boolean column the oracle pins to TRUE.
  *
  * A landing is a durable [[graft.core.ArtifactStore]] artifact:
  * `<spark.graft.export.dir>/corpus_<md5(dir)>/<version>/data[_jsonl]`
  * (default dir: `<tmp>/graft-export`), versioned on `documents.parquet`.
  * A failed landing fails the query.
  */
object Export extends graft.QueryModule {

  /** Landing format, `spark.graft.export.format` = `parquet` (default)
    * | `jsonl` (round-14 verdict item 7: trainers widely consume JSON
    * lines). The VERIFICATION path is format-blind by construction —
    * q248 recomputes tokens/checksums from the landed `text` itself,
    * never from a serialized column, so both formats share one
    * reconciliation. */
  private def exportFormat(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.export.format")
      .map(_.trim.toLowerCase).getOrElse("parquet") match {
      case f @ ("parquet" | "jsonl") => f
      case other => throw new IllegalArgumentException(
        s"spark.graft.export.format must be 'parquet' or 'jsonl', got '$other'")
    }

  /** Schema of the landed record columns (the partition column `shard`
    * rides the directory layout) — pinned explicitly so the JSONL
    * read-back is ONE scan (no inference pass) with exactly the
    * parquet landing's types. */
  private val LandedSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, source STRING, text STRING, n_tok BIGINT, n_copies BIGINT")

  /** Read a landed export tree in whichever format the session lands
    * (the format is part of the landing convention, like the dir). */
  private[operators] def readLanded(spark: SparkSession, path: String): DataFrame =
    if (exportFormat(spark) == "jsonl")
      spark.read.schema(LandedSchema).json(path)
    else spark.read.parquet(path)

  /** The records the export lands, from a ledger frame: the q247 slice
    * (alive5 ∧ copies > 0) with q128's content-hash shard draw from the
    * ledger's `fp`. Columns a training job reads: doc_id, source, text,
    * n_tok, n_copies; `shard` is the partition key. */
  private[graft] def exportRecords(ledger: DataFrame): DataFrame =
    ledger.filter(col("alive5") && col("n_copies") > 0)
      .select(col("doc_id"), col("source"), col("text"),
        col("n_tok"), col("n_copies"),
        Sampling.fpExportShard(col("fp")).as("shard"))

  /** Land the training-set export for `dir` once per content version of
    * its corpus; returns the landed data path. */
  def landExport(spark: SparkSession, dir: String): String = {
    val fmt = exportFormat(spark)
    val base = spark.conf.getOption("spark.graft.export.dir")
      .getOrElse(new java.io.File(System.getProperty("java.io.tmpdir"), "graft-export").getPath)
    ArtifactStore.durable(spark, dir, Seq("documents.parquet"), ArtifactStore.Under(base),
      if (fmt == "jsonl") "data_jsonl" else "data") { path =>
      val writer = exportRecords(Curation.ledger(spark, dir))
        // align files to shards: without it every task writes a file
        // into every shard dir it touches (task-count × shards files)
        .repartition(col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
      if (fmt == "jsonl") writer.json(path) else writer.parquet(path)
    }(identity)
  }

  /** Shard-grain roll-up of a LANDED frame, everything recomputed from
    * the landed bytes: token counts from the landed text (q23's token
    * rule), the content fingerprint and shard draw from md5 of the
    * landed text — a landed column lying about its text cannot pass. */
  private[operators] def readbackRollup(landed: DataFrame): DataFrame = {
    val fp = md5(trim(coalesce(col("text"), lit(""))))
    landed
      .select(col("shard").cast("long").as("shard"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
        col("n_copies"), fp.as("fp"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_records"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_copies") * col("n_tok")).as("n_weighted_tokens"),
        // the q247 decimal(38,0) accumulator, folded back to int64
        (sum(conv(substring(col("fp"), 1, 12), 16, 10).cast("decimal(38,0)"))
          % lit(1000000000000000000L)).cast("long").as("content_sum"),
        // the landed partition value must BE the recomputed draw
        min(Sampling.fpExportShard(col("fp")) === col("shard")).as("draw_ok"))
  }

  /** The reconciliation of a landed roll-up against a manifest frame
    * (q247's shape) — shared by q248 and the corruption specs. A shard
    * present on only one side surfaces as a row with every match column
    * false. */
  private[operators] def reconcile(readback: DataFrame,
      manifest: DataFrame): DataFrame = {
    val l = readback.select(
      col("shard"), col("n_records").as("l_rec"), col("n_tokens").as("l_tok"),
      col("n_weighted_tokens").as("l_wt"), col("content_sum").as("l_sum"),
      col("draw_ok"))
    val m = manifest.select(
      col("shard"), col("n_records").as("m_rec"), col("n_tokens").as("m_tok"),
      col("n_weighted_tokens").as("m_wt"), col("content_sum").as("m_sum"))
    l.join(m, Seq("shard"), "full_outer")
      .select(
        col("shard"),
        coalesce(col("l_rec"), lit(0L)).as("n_records"),
        coalesce(col("l_tok"), lit(0L)).as("n_tokens"),
        coalesce(col("l_wt"), lit(0L)).as("n_weighted_tokens"),
        coalesce(col("l_sum"), lit(0L)).as("content_sum"),
        coalesce(col("l_rec") === col("m_rec"), lit(false)).as("records_match"),
        coalesce(col("l_tok") === col("m_tok"), lit(false)).as("tokens_match"),
        coalesce(col("l_wt") === col("m_wt"), lit(false)).as("weighted_match"),
        coalesce(col("l_sum") === col("m_sum"), lit(false)).as("checksum_match"),
        coalesce(col("draw_ok"), lit(false)).as("draw_match"))
      .orderBy("shard")
  }

  /** q248 — EXPORT LANDING VERIFICATION: land the training set (cached
    * per corpus version), re-read the landed shards, and reconcile
    * against the q247 manifest recomputed from the corpus. The oracle
    * replays the manifest arithmetic over the corpus and pins every
    * match column to TRUE — so any writer drift (a dropped record, a
    * mangled text byte, a misrouted shard) flips a boolean and fails
    * the driver's hash gate loudly. */
  def q248ExportVerify(spark: SparkSession, dir: String): DataFrame = {
    val landed = readLanded(spark, landExport(spark, dir))
    reconcile(readbackRollup(landed),
      Curation.q247TrainingExport(spark, dir))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q248_export_verify" -> (q248ExportVerify _))

  /** The q247 ledger-chain manifest replayed (same CTEs), with every
    * reconciliation verdict a literal TRUE — the landed side must agree
    * with the from-corpus manifest exactly or the hash gate fails. */
  val oracles: Map[String, String] = Map(
    "q248_export_verify" ->
      s"""${Curation.ledgerCtes}
         |SELECT CAST(${Sampling.hex4Sql("fp", 15)} % ${Sampling.ExportShards}
         |    AS BIGINT) AS shard,
         |  count(*) AS n_records,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_copies * n_tok) AS BIGINT) AS n_weighted_tokens,
         |  CAST(sum(CAST(${Sampling.hex12Sql("fp", 1)} AS HUGEINT))
         |    % 1000000000000000000 AS BIGINT) AS content_sum,
         |  TRUE AS records_match,
         |  TRUE AS tokens_match,
         |  TRUE AS weighted_match,
         |  TRUE AS checksum_match,
         |  TRUE AS draw_match
         |FROM f6
         |WHERE alive5 AND n_copies > 0
         |GROUP BY 1 ORDER BY 1""".stripMargin)
}
