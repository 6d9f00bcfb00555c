package graft.streaming

import java.util.UUID

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => SourceOffset}
import org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog
import org.apache.spark.sql.execution.streaming.runtime.{CompactibleFileStreamLog,
  FileStreamSourceLog, FileStreamSourceOffset}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.core.Tables

/** Structured-Streaming face of the event log (SURVEY §2.8: the reference
  * is batch-append only, so streaming is the idiomatic incremental
  * upgrade, not a parity requirement — `readStream` over the landing
  * directory with watermarked windowed aggregation).
  *
  * Scale posture: the file source scales to a firehose landing zone
  * (maxFilesPerTrigger bounds batch size), the watermark bounds state,
  * and the windowed aggregate is the same partial-agg shuffle shape as
  * the batch query. `Trigger.AvailableNow` drains everything available
  * then stops — the cron-driven incremental pattern (the reference's
  * daily batch, made exactly-once).
  *
  * Home of the streaming family's one source per table
  * ([[documentsStream]], [[embeddingsStream]], [[eventsStream]]) and its
  * one drain ([[drainToFiles]]).
  */
object EventStream extends graft.QueryModule {

  /** One table of `dir` as a file stream under a declared schema. */
  private def parquetStream(spark: SparkSession, dir: String, table: String,
      schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(dir)

  /** The documents stream for `dir`. */
  private[streaming] def documentsStream(spark: SparkSession, dir: String): DataFrame =
    parquetStream(spark, dir, "documents", StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))))

  /** The embeddings stream for `dir`, declared with the file's own footer
    * schema. */
  private[streaming] def embeddingsStream(spark: SparkSession, dir: String): DataFrame =
    parquetStream(spark, dir, "embeddings", Tables.embeddings(spark, dir).schema)

  /** The events stream for `dir`, `ts` already normalized
    * ([[Tables.normalizeTs]]): the source declares the file's own footer
    * schema, so the declaration follows whatever layout the file has. */
  private[streaming] def eventsStream(spark: SparkSession, dir: String): DataFrame =
    Tables.normalizeTs(parquetStream(spark, dir, "events", Tables.eventsFile(spark, dir).schema))

  val WindowDuration = "15 minutes"
  val WatermarkDelay = "1 minute"

  /** The streaming family's one drain: run `frame` to completion
    * (`Trigger.AvailableNow`) into parquet files and read the emitted
    * rows back as a batch frame. Append mode uses the file sink; `update`
    * mode (which the file sink cannot take) appends each micro-batch's
    * emissions to parquet through `foreachBatch`, and the caller keeps
    * the latest emission per key. Either way driver memory stays O(1)
    * however large the result (the memory sink would hold all of it on
    * the driver).
    *
    * Lifetime: each drain writes `<root>/{data,checkpoint}` under a fresh
    * `<spark.graft.streamResultsDir>/graft_stream_<applicationId>_<uuid>`
    * root (default: the JVM temp dir). The root is registered with the
    * Hadoop FileSystem's delete-on-exit before the query starts, so it
    * goes when the JVM exits at the latest. The checkpoint is one-shot (a
    * fresh root is never resumed), so it is deleted as soon as the query
    * ends; `data` backs the returned frame and lives until
    * [[releaseDrains]] or exit. */
  private[streaming] def drainToFiles(spark: SparkSession, frame: DataFrame,
      statePartsHint: Option[String] = None, update: Boolean = false): DataFrame = {
    val (fs, base, prefix) = drainRoots(spark)
    val root = new Path(base, prefix + UUID.randomUUID().toString.replace("-", ""))
    fs.mkdirs(root)
    fs.deleteOnExit(root)
    val data = new Path(root, "data").toString
    val checkpoint = new Path(root, "checkpoint")
    val writer = frame.writeStream
      .option("checkpointLocation", checkpoint.toString)
      .trigger(Trigger.AvailableNow())
    val sink =
      if (update) writer.outputMode("update").foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(data)
      }
      else writer.outputMode("append").format("parquet").option("path", data)
    withStreamStatePartitions(spark, statePartsHint) {
      try sink.start().awaitTermination()
      finally {
        // Unload this drain's state-store providers now. The StateStore
        // singleton otherwise keeps them (for the heap-backed provider,
        // the FULL state map) until its ~60 s maintenance cycle, and
        // across a 140-row sweep those dead stores stacked up and made
        // the biggest-state drain (q114, ~0.5M band-bucket keys at
        // sf0.1) the GC victim: its gate measured 166 s under memory
        // pressure against ~3.5 s in an idle JVM. stop() also halts the
        // maintenance thread; the next stateful drain restarts both.
        StateStore.stop()
        // a failed delete leaves the checkpoint to the exit hook
        Try(fs.delete(checkpoint, true))
      }
    }
    // explicit schema: a drain that emits zero rows leaves no data files,
    // and the read must still return an empty, correctly-typed frame
    spark.read.schema(frame.schema).parquet(data)
  }

  /** The drains' file system, their qualified results dir, and the name
    * prefix of this application's drain roots. */
  private def drainRoots(spark: SparkSession): (FileSystem, Path, String) = {
    val base = new Path(spark.conf.getOption("spark.graft.streamResultsDir")
      .getOrElse(System.getProperty("java.io.tmpdir")))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(base), s"graft_stream_${spark.sparkContext.applicationId}_")
  }

  /** Delete every drain root of this application, and its exit
    * registration: the frames its drains returned can no longer be read.
    * `CleanupJob` calls it, so a long-lived JVM does not keep one root per
    * drain until exit. */
  private[graft] def releaseDrains(spark: SparkSession): Unit = {
    val (fs, base, prefix) = drainRoots(spark)
    if (fs.exists(base))
      fs.listStatus(base).map(st => fs.makeQualified(st.getPath))
        .filter(_.getName.startsWith(prefix)).foreach { root =>
          fs.cancelDeleteOnExit(root)
          fs.delete(root, true)
        }
  }

  /** Make a checkpoint's file-source logs agree with its offset log, for
    * a query about to RESUME from `checkpoint`. A file source logs the
    * files of its next batch before the query logs that batch's offsets,
    * so a stop between the two leaves a source-log entry that no batch
    * refers to. A restart then reads that entry's files together with
    * the next new file as ONE batch, and every emission shaped by batch
    * boundaries (per-batch counter updates, running minima, sketch
    * versions) differs from an uninterrupted run's. Deleting the entries
    * after each file source's logged offset makes the restart plan the
    * interrupted batch again, exactly as an uninterrupted run planned it.
    * An unreferenced compaction entry is left in place (the entries it
    * folds may already be deleted), and so is a checkpoint that logged no
    * offsets yet. Returns the number of source-log entries deleted. */
  def reconcileSourceLogs(spark: SparkSession, checkpoint: String): Int = {
    val fs = new Path(checkpoint).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val offsetsDir = new Path(checkpoint, "offsets")
    val latest =
      if (fs.exists(offsetsDir)) new OffsetSeqLog(spark, offsetsDir.toString).getLatest()
      else None
    latest.toSeq.flatMap(_._2.offsets.zipWithIndex).map {
      case (Some(o: SourceOffset), i) if fs.exists(new Path(checkpoint, s"sources/$i")) =>
        Try(FileStreamSourceOffset(o).logOffset).toOption.fold(0) { logged =>
          val log = new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark,
            new Path(checkpoint, s"sources/$i").toString)
          val orphans = log.listBatchesOnDisk.filter(_ > logged)
          if (orphans.exists(log.batchIdToPath(_).getName
              .endsWith(CompactibleFileStreamLog.COMPACT_FILE_SUFFIX))) 0
          else { log.purgeAfter(logged); orphans.length }
        }
      case _ => 0
    }.sum
  }

  /** Run `body` (a stream start + drain) with the STATE partition count
    * set independently of the session's batch shuffle setting, restoring
    * it afterwards. Stateful operators keep one state store per shuffle
    * partition and commit each per micro-batch, so the right number
    * tracks STATE volume, not batch parallelism — inheriting the batch
    * setting over-partitions small state and pays ~per-partition commit
    * IO every batch (measured 2.4 s → 1.6 s per drain at sf0.1 going
    * 32 → 8). The partition count is fixed at the stream's first
    * checkpoint, which is why it is a deliberate per-drain choice rather
    * than whatever the session happened to have: a drain whose state
    * outgrows the default passes its own hint.
    *
    * Default 4: a stream-stream join keeps FOUR state stores per
    * partition and commits each per micro-batch, so per-batch commit IO
    * is 4× the partition count regardless of state volume. Measured on
    * the q77 drain at sf0.1 (the heaviest join state in the bench):
    * 8 → 4 partitions cuts the warm drain 4.1 s → 2.6 s on the default
    * provider and 4.4 s → 3.3 s on RocksDB, while 4 → 2 adds nothing
    * (2.5 s) — the floor is the two-micro-batch machinery, not commit
    * fan-out, from 4 down. The largest fixture state (q114's ~0.5M
    * band-bucket keys at sf0.1) is ~125k keys/partition at 4 — far
    * inside heap-provider comfort. */
  private[streaming] def withStreamStatePartitions[T](spark: SparkSession,
      drainHint: Option[String] = None)(body: => T): T = {
    // the drain's own hint (a per-operator optimum: q114's ~0.5M-key
    // state measured best at 8 where the join/trajectory drains plateau
    // at 4), else the default 4
    val parts = drainHint.getOrElse("4")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val provider = providerClass(spark)
    val prevProvider = spark.conf.getOption(ProviderClassConf)
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    spark.conf.set(ProviderClassConf, provider)
    // RocksDB defaults for the drain, each applied only where the
    // session leaves Spark's own key unset (an explicit value is honoured
    // and left untouched) and unset again afterwards. Measured on the
    // warm q77 drain at sf0.1 (4 partitions × 4 join stores × 2 batches):
    //  - changelog checkpointing ON: a commit writes the batch's change
    //    set instead of zipping + fsyncing a FULL snapshot per store per
    //    batch (commitTime ≈ 1.6 s/batch, of which fileSync 0.63 s +
    //    saveZip 0.40 s) — drain 3.83 → 2.87 s. Snapshot upload moves to
    //    the background maintenance cadence, so commits stay O(changed
    //    keys); recovery replays the changelog over the last snapshot
    //    (StreamRecoverySpec's rocksdb kill/resume round-trip).
    //  - row tracking OFF: every put stops paying a read-back get that
    //    exists only to keep the numRowsTotal metric exact (drain
    //    3.83 → 3.63 s alone; nothing in the engine reads the metric).
    val rocksDefaults =
      if (!provider.contains("RocksDB")) Seq.empty
      else Seq(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false")
        .filterNot { case (k, _) => sparkConfExplicit(spark, k) }
    rocksDefaults.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      prevProvider match {
        case Some(v) => spark.conf.set(ProviderClassConf, v)
        case None => spark.conf.unset(ProviderClassConf)
      }
      rocksDefaults.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  /** Whether `key` was EXPLICITLY set on this session (vs a registered
    * default `RuntimeConfig.get` would also return). */
  private def sparkConfExplicit(spark: SparkSession, key: String): Boolean =
    spark.sessionState.conf.contains(key) ||
      spark.sparkContext.getConf.contains(key)

  private val ProviderClassConf = "spark.sql.streaming.stateStore.providerClass"

  /** State-store backend for the streaming family, selected with
    * `spark.graft.streaming.stateStoreProvider` = `hdfs` (default) |
    * `rocksdb`. The HDFS-backed store keeps every version of state on
    * the executor JVM heap — at the fixtures' state sizes it is the
    * faster floor (measured: the `*_rocksdb` twin rows of the bench run
    * slower), which is why it stays the default HERE; at 100 TB-ingest
    * state sizes the heap-resident store is the first thing to fall over
    * (GC pressure, OOM at millions of keys per partition), and a
    * deployment flips this knob to `rocksdb` for off-heap, spill-to-disk
    * state with changelog checkpointing. The knob exists so that flip is
    * one conf, not a code change. */
  private[streaming] def providerClass(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.streaming.stateStoreProvider")
      .map(_.trim.toLowerCase).getOrElse("hdfs") match {
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case _ =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    }

  /** Windowed counts/sums per event type with a watermark; append mode —
    * emits exactly the windows the watermark has closed. */
  def windowedAgg(stream: DataFrame): DataFrame =
    Tables.normalizeTs(stream)
      .withWatermark("ts", WatermarkDelay)
      // group on the window struct itself — append mode requires the
      // event-time window column as a grouping key for watermark eviction
      .groupBy(window(col("ts"), WindowDuration), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value")), 2).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("cnt"), col("total_value"))

  /** Run the stream over the events file(s) in `dir` to completion
    * (AvailableNow) and return the emitted (closed) windows as a
    * DataFrame. */
  def q34StreamWindows(spark: SparkSession, dir: String): DataFrame = {
    drainToFiles(spark, windowedAgg(eventsStream(spark, dir))).orderBy("window_start", "event_type")
  }

  /** q44 — streaming gap-based sessionization via the NATIVE
    * `session_window` (the compose-built-ins answer to custom session
    * state; the `mapGroupsWithState` form for genuinely custom state
    * lives in [[UserStatsStream]]). Sessions close when the watermark
    * passes `last_event + gap`; with the 1-minute watermark delay the
    * emitted set is exactly the sessions whose last event is at least
    * gap+delay before the stream's max timestamp. */
  def q44StreamSessions(spark: SparkSession, dir: String): DataFrame = {
    val sessions = eventsStream(spark, dir)
      .withWatermark("ts", WatermarkDelay)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("session_value"))
    drainToFiles(spark, sessions).orderBy("user_id", "session_start")
  }

  /** q48 — STREAMING exact dedup: the streaming sibling of the batch
    * hash-group dedup (q24). Documents arrive as a stream; each is
    * fingerprinted (md5 of trimmed text) and `dropDuplicates` keeps the
    * first occurrence of every fingerprint, so the emitted rows are
    * exactly the distinct-content set — the shape of an always-on
    * ingest-dedup stage in a training-data pipeline.
    *
    * State posture: exact dedup requires one state entry per distinct
    * fingerprint (16 bytes each) — bounded by corpus cardinality, not
    * stream length. Where even that is too large, the bounded-state
    * variant is `dropDuplicatesWithinWatermark` over an event-time
    * column (dedups only within the lateness horizon); the exact form
    * is used here because the oracle (DISTINCT) is exact. Only the
    * fingerprint is emitted: "first doc_id to arrive" is micro-batch
    * scheduling order, which no deterministic oracle should depend on. */
  def q48StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val deduped = documentsStream(spark, dir)
      .select(md5(trim(col("text"))).as("fp"))
      .dropDuplicates("fp")
    drainToFiles(spark, deduped).orderBy("fp")
  }

  /** q56 — BOUNDED-STATE streaming dedup: the
    * `dropDuplicatesWithinWatermark` variant q48's scaladoc points at for
    * corpora whose distinct-key cardinality itself is too large to hold.
    * State per key lives only until the watermark passes its event time +
    * delay — memory is bounded by the key arrival rate × horizon, not by
    * corpus cardinality, which is the form an always-on 100 TB ingest
    * actually runs. Dedup key: (user_id, event_type) fingerprint.
    *
    * Semantics note: within-watermark dedup guarantees duplicates
    * arriving inside the horizon collapse; an AvailableNow drain of a
    * static table processes one batch with all state live, so the
    * emitted set equals the batch DISTINCT — which is why this query CAN
    * carry an exact oracle while still exercising the bounded-state
    * operator. */
  def q56StreamDedupBounded(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .select(col("ts"), md5(concat_ws("#", col("user_id"), col("event_type"))).as("fp"))
      .dropDuplicatesWithinWatermark("fp")
      .select("fp")
    drainToFiles(spark, deduped).orderBy("fp")
  }

  /** Attribution window for [[q77StreamJoin]]: a purchase attributes to
    * every click by the same user in the preceding window. */
  val AttributionWindow = "30 minutes"

  /** q77 — STREAM-STREAM interval join (the §2.8 shape the
    * window/session/dedup family doesn't cover): click→purchase
    * attribution, each purchase joined to the same user's clicks within
    * the preceding [[AttributionWindow]]. Both sides carry watermarks
    * and the join condition carries the time bound, so Spark can evict
    * matched-out state as the watermark advances — state is
    * O(events within window horizon), not O(stream); the RIGHT way to
    * correlate two unbounded streams at 100 TB ingest. The drained
    * result equals the batch interval join exactly (inner join, static
    * AvailableNow input ⇒ no late drops), which is why this streaming
    * query can be ORACLE-checked, not just spec-compared. */
  def q77StreamJoin(spark: SparkSession, dir: String): DataFrame = {
    def side(eventType: String, prefix: String): DataFrame =
      eventsStream(spark, dir)
        .filter(col("event_type") === eventType)
        .select(
          col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"),
          col("ts").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", WatermarkDelay)
    val joined = side("click", "click").join(
      side("purchase", "purchase"),
      col("purchase_user") === col("click_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"interval $AttributionWindow"))
      .select(
        col("purchase_id"), col("click_id"),
        col("purchase_user").as("user_id"),
        ((unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))) / 1000000L)
          .cast("long").as("gap_sec"))
    drainToFiles(spark, joined).orderBy("purchase_id", "click_id")
  }

  /** q79 — STREAM-STATIC enrich join (with q77 this completes the §2.8
    * join family): the event firehose joined to the customer→nation
    * dimension star per micro-batch — THE most common production
    * streaming shape (enrich the stream with slowly-changing dims, land
    * it in the lake). Map-only on the stream side: both dimensions are
    * `broadcast()` so no micro-batch ever shuffles the firehose, there
    * is no stateful operator, no watermark, and state is ZERO — the
    * 100 TB/day regime rides entirely on broadcast size (dims re-read
    * per batch, so a dim update lands on the next batch without a
    * restart). Inner join over a static AvailableNow input emits every
    * enriched event — identical to the batch join, hence oracle-checked
    * like q77. */
  def q79StreamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val stream = eventsStream(spark, dir)
    val cust = graft.core.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val nation = graft.core.Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    val enriched = stream
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("n_name").as("nation"))
    drainToFiles(spark, enriched).orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q79_stream_enrich"   -> (q79StreamEnrich _),
    "q34_stream_windows"  -> (q34StreamWindows _),
    "q44_stream_sessions" -> (q44StreamSessions _),
    "q48_stream_dedup"    -> (q48StreamDedup _),
    "q56_stream_dedup_bounded" -> (q56StreamDedupBounded _),
    "q77_stream_join"     -> (q77StreamJoin _))

  /** Oracle: append-mode emission = windows fully below the final
    * watermark (max event time − delay), recomputed relationally. */
  val oracles: Map[String, String] = Map(
    // q79: stateless inner enrich join over a static AvailableNow input
    // emits every matching event — identical to the batch star join.
    "q79_stream_enrich" ->
      """SELECT e.event_id, e.event_type, e.value, n.n_name AS nation
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY e.event_id""".stripMargin,
    // q77: inner interval join over a static AvailableNow input emits
    // every matching pair — identical to the batch join. Timestamps
    // truncate ns→µs on both sides (Spark: `ts div 1000`; oracle:
    // CAST(TIMESTAMP_NS AS TIMESTAMP)), so the window boundary compares
    // at the same precision.
    "q77_stream_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        |  CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS BIGINT) AS gap_sec
        |FROM c JOIN p ON p.user_id = c.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY purchase_id, click_id""".stripMargin,
    "q34_stream_windows" ->
      """WITH b AS (
        |  SELECT make_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) * 1000000) AS window_start,
        |    event_type, count(*) AS cnt, round(sum(value), 2) AS total_value
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT max(ts) AS mx FROM events)
        |SELECT window_start, event_type, cnt, total_value
        |FROM b, m
        |WHERE window_start + INTERVAL 15 MINUTE <= mx - INTERVAL 1 MINUTE
        |ORDER BY window_start, event_type""".stripMargin,
    "q44_stream_sessions" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |m AS (SELECT max(ts) AS mx FROM events),
        |sess AS (
        |  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS last_ev,
        |    count(*) AS n_events, round(sum(value), 2) AS session_value
        |  FROM s GROUP BY user_id, sid)
        |SELECT session_start, user_id, n_events, session_value
        |FROM sess, m
        |WHERE last_ev + INTERVAL 30 MINUTE <= mx - INTERVAL 1 MINUTE
        |ORDER BY user_id, session_start""".stripMargin,
    // streaming dropDuplicates emits exactly the first-seen fingerprints
    // = the distinct-content set, so the batch DISTINCT is an exact oracle
    "q48_stream_dedup" ->
      "SELECT DISTINCT md5(trim(text)) AS fp FROM documents ORDER BY fp",
    // single-batch drain → all state live → bounded-state dedup emits
    // exactly the distinct keys (see q56 scaladoc)
    "q56_stream_dedup_bounded" ->
      """SELECT DISTINCT md5(concat(CAST(user_id AS VARCHAR), '#', event_type)) AS fp
        |FROM events ORDER BY fp""".stripMargin)
}
