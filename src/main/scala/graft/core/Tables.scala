package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-provided synthetic tables (`TESTDATA.md`): a
  * TPC-H-ish star schema plus `events` (append log), `documents` (text
  * corpus) and `embeddings` (vector table). One parquet file per table.
  *
  * Centralizing the read path means a future move to a partitioned /
  * bucketed layout (the 100 TB posture: fact tables bucketed by join key
  * so repeated joins skip the shuffle) only touches this object, not the
  * ~30 query entry points.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** `events` with `ts` as micro-precision TimestampType, whatever the
    * file stores (see [[normalizeTs]]), so every consumer is
    * layout-agnostic. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(eventsFile(spark, dir))

  /** `events.parquet` as stored. A TIMESTAMP(NANOS) `ts` reads as raw
    * int64 nanos (`spark.sql.legacy.parquet.nanosAsLong`, set by
    * [[Sessions.prepare]]). The streaming source declares this schema. */
  private[graft] def eventsFile(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")

  /** The one event-time rule, shared by [[events]] and every streaming
    * reader: raw int64 nanos truncate with integer `div` (exactly
    * DuckDB's TIMESTAMP_NS→TIMESTAMP cast); TIMESTAMP(MICROS)/NTZ is an
    * instant-preserving cast under the UTC session. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** Round-robin fan-out of a scan BEFORE CPU-heavy per-row work
    * (shingle+hash pipelines, media decode, per-embedding encode).
    *
    * Why it exists: scan parallelism is whatever the upstream writer
    * chose — a parquet file is splittable only at row-group boundaries,
    * so a corpus landed as few large row groups runs ALL of its per-row
    * compute on as few cores, no matter how wide the cluster (the
    * fixtures are the degenerate case: one row group ⇒ one task ⇒ one
    * core shingling the whole corpus; measured 3.0 s → 1.1 s on the
    * q172 micro-batch at 32 cores). The rebalance moves only the raw
    * input bytes — one extra pass over data the scan already read —
    * while the downstream per-row work costs 10×+ that, so it wins
    * whenever the scan under-parallelizes and costs one cheap shuffle
    * when it doesn't. Deployments whose landing zone is already
    * well-sharded (the 100 TB norm: thousands of splits) set
    * `spark.graft.scanFanout=0` and the helper vanishes from every
    * plan. Works on batch AND streaming frames (per-micro-batch
    * round-robin; every stateful operator downstream re-keys anyway).
    *
    * NOT applied inside shared primitives ([[graft.operators.Dedup]]
    * `shingles`/`sigsOf`) — each call site opts in, so cheap map-only
    * queries keep their ≤1-shuffle plans.
    *
    * CONDITIONAL on batch frames: the rebalance fires only when the
    * scan actually under-parallelizes (`rdd.getNumPartitions < n`) — an
    * unconditional repartition taxed already-parallel scans with a pure
    * shuffle (measured: q33 0.48 → 1.00 s and q99 0.74 → 1.67 s at
    * sf0.1, where the fixture splits fine), and on a well-sharded
    * 100 TB landing zone (thousands of splits) it would move the whole
    * corpus for nothing. Streaming frames keep the per-micro-batch
    * rebalance: their partition count is opaque before execution, and
    * every stateful operator downstream re-keys anyway. */
  def fanout[T](spark: SparkSession, ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    val n = spark.conf.getOption("spark.graft.scanFanout")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(spark.sparkContext.defaultParallelism)
    if (n <= 0) ds
    else if (!ds.isStreaming && ds.rdd.getNumPartitions >= n) ds
    else ds.repartition(n)
  }

  /** The estimated size above which [[fanoutIfHeavy]] fans out. */
  final val ProbeFanoutMinBytes = 2L << 20

  /** [[fanout]] additionally gated on the frame's ESTIMATED size (logical
    * plan stats — file-size-derived for scans, no job): fan out only when
    * the under-parallelized side is big enough that the per-row kernel
    * downstream outweighs one round-robin pass over the bytes. The
    * probe-broadcast cosine scorers (q29 family) are exactly at this
    * margin — measured at 32 cores: sf0.1 (0.8 MB, kernel tens of ms)
    * the exchange LOSES 0.48 → 0.62 s warm, at the 10× tree (5 MB) it
    * WINS 0.824 → 0.585 s median — so the gate is 2 MB
    * ([[ProbeFanoutMinBytes]]), between the two measured regimes. At
    * deployment scale the scan has thousands of splits and [[fanout]]'s
    * partition-count condition already makes this a no-op. */
  def fanoutIfHeavy[T](spark: SparkSession, ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] =
    if (ds.isStreaming || ds.queryExecution.optimizedPlan.stats.sizeInBytes >= ProbeFanoutMinBytes)
      fanout(spark, ds)
    else ds

  /** Register every table as a temp view named exactly like its file, for
    * the SQL entry points (and the dialect-shim demos) that address tables
    * by name — mirrors how the reference addresses the crawler-registered
    * `data_pipeline_db.raw_data` (reference `sql/sample_athena_queries.sql:7`). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
