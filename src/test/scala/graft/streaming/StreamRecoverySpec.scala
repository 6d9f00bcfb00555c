package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}

import graft.SparkSpec
import graft.operators.{Cms, Dedup}

/** Streaming RESTART-RECOVERY evidence (round-11 verdict item 4): every
  * drain checkpoints, but checkpointing only matters if a killed query
  * actually resumes equivalently — the one streaming failure mode that
  * matters in production. This spec drives the representative stateful
  * drain (the q172 CMS pipeline: flatMapGroupsWithState counters) over
  * a multi-file source at one file per trigger, KILLS the query after
  * the first committed batch (stop() rolls back any in-flight batch —
  * the same recovery path a process crash exercises: the sink's
  * transaction log hides uncommitted files, the state store resumes
  * from the last committed version), restarts it from the SAME
  * checkpoint (reconciled first: [[EventStream.reconcileSourceLogs]]),
  * and asserts the drained output is row-multiset-identical to an
  * uninterrupted run — for BOTH state-store backends (heap default and
  * RocksDB).
  *
  * Reads of the sink go through `_spark_metadata` (the FileStreamSink
  * log), so orphaned files from the killed run are invisible exactly as
  * they are to a production consumer — that, not the absence of
  * orphans, is the exactly-once contract. */
class StreamRecoverySpec extends SparkSpec {

  /** Four-file copy of the fixture documents: four micro-batches at
    * maxFilesPerTrigger=1, so there is a "mid-stream" to kill at. */
  private lazy val srcDir: String = {
    val out = Files.createTempDirectory("graft-recovery-src").toString
    graft.core.Tables.documents(spark, sf)
      .repartition(4)
      .write.mode("overwrite").parquet(s"$out/docs")
    s"$out/docs"
  }

  private lazy val totalDocs: Long = spark.read.parquet(srcDir).count()

  /** The q172 increments→stateful-counter pipeline over the multi-file
    * source (same operators as `CmsStream.q172StreamCms`, re-pointed at
    * the splittable copy). */
  private def cmsStream(): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    stream
      .select(explode(Dedup.shingleArray(coalesce(col("text"), lit("")))).as("s"))
      .select(posexplode(array(Cms.bucketCols(col("s")): _*)).as(Seq("r", "b")))
      .select((col("r") * Cms.W + col("b")).cast("int").as("cell"))
      .as[CmsStream.CellRow]
      .mapPartitions(CmsStream.combineLocal)
      .groupByKey(_.cell)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(CmsStream.cellUpdate)
      .toDF()
  }

  private def sinkRows(root: String): Seq[(Int, Long)] =
    spark.read.parquet(s"$root/data")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted

  /** Drain uninterrupted (one AvailableNow pass, fresh checkpoint). */
  private def drainClean(root: String): Unit =
    EventStream.withStreamStatePartitions(spark) {
      try {
        val q = cmsStream().writeStream
          .outputMode("append").format("parquet")
          .option("path", s"$root/data")
          .option("checkpointLocation", s"$root/checkpoint")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }

  /** Drain with a mid-stream kill: stop after the first committed batch,
    * then restart from the same checkpoint and finish. Returns the input
    * rows committed before the kill. */
  private def drainInterrupted(root: String): Long =
    EventStream.withStreamStatePartitions(spark) {
      try {
        val q = cmsStream().writeStream
          .outputMode("append").format("parquet")
          .option("path", s"$root/data")
          .option("checkpointLocation", s"$root/checkpoint")
          .start()
        val deadline = System.currentTimeMillis() + 120000
        while (q.recentProgress.map(_.numInputRows).sum < 1 &&
            System.currentTimeMillis() < deadline) Thread.sleep(25)
        q.stop() // the kill: in-flight batch rolls back, committed state survives
        val before = q.recentProgress.map(_.numInputRows).sum
        EventStream.reconcileSourceLogs(spark, s"$root/checkpoint")
        val q2 = cmsStream().writeStream
          .outputMode("append").format("parquet")
          .option("path", s"$root/data")
          .option("checkpointLocation", s"$root/checkpoint")
          .trigger(Trigger.AvailableNow())
          .start()
        q2.awaitTermination()
        before
      } finally org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }

  private def recoveryRoundTrip(provider: String): Unit = {
    val prev = spark.conf.getOption("spark.graft.streaming.stateStoreProvider")
    spark.conf.set("spark.graft.streaming.stateStoreProvider", provider)
    try {
      val base = Files.createTempDirectory(s"graft-recovery-$provider").toString
      val committedBeforeKill = drainInterrupted(s"$base/killed")
      drainClean(s"$base/clean")
      // the kill landed mid-stream: some input committed, some not
      assert(committedBeforeKill >= 1, "kill fired before any batch committed")
      assert(committedBeforeKill < totalDocs,
        s"all $totalDocs docs committed before the kill — nothing was recovered")
      val killed = sinkRows(s"$base/killed")
      val clean = sinkRows(s"$base/clean")
      assert(killed.nonEmpty)
      assert(killed == clean,
        s"recovered drain diverged: ${killed.size} rows vs ${clean.size} clean " +
          s"(first diff: ${killed.zip(clean).find(p => p._1 != p._2)})")
      // and the recovered state is semantically right: per-cell maxima
      // equal the batch CMS of the full corpus (the q172 contract)
      val recovered = killed.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val batch = Cms.exactCells(spark.read.parquet(srcDir))
        .collect().map(r => (r.getLong(0) * Cms.W + r.getLong(1)).toInt ->
          r.getLong(2)).toMap
      assert(recovered == batch,
        "recovered per-cell maxima differ from the batch sketch")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.streaming.stateStoreProvider", v)
        case None => spark.conf.unset("spark.graft.streaming.stateStoreProvider")
      }
    }
  }

  test("killed drain resumes from checkpoint equivalently (heap state store)") {
    recoveryRoundTrip("hdfs")
  }

  test("killed drain resumes from checkpoint equivalently (rocksdb state store)") {
    recoveryRoundTrip("rocksdb")
  }

  // ---- the same round-trip for an ORDER-DEPENDENT fold (q242) ----
  // q172's CMS state is a monoid (order-independent), so its recovery
  // equivalence would hold even under batch reordering; the transition
  // screen's per-user last-event state is NOT — it carries sequence
  // position across batches, which is precisely the state a checkpoint
  // must reconstruct exactly. The file source lists the same files in
  // the same order for both runs, so killed ≡ clean is the checkpoint
  // property itself, not an order accident.

  /** Four TIME-SLICED files of the fixture events (ts NORMALIZED through
    * the shared loader so the physical timestamp layout never matters),
    * written oldest-slice-first so the one-file-per-trigger drain below
    * replays a per-user IN-ORDER feed — the screen's documented bus
    * contract, which it now enforces by throwing on out-of-order
    * arrival (an arbitrary `repartition(4)` copy violates it by
    * construction). The slices still split every user's sequence
    * across micro-batch boundaries, so the cross-batch state is
    * genuinely exercised. */
  private lazy val evSrcDir: String = {
    import org.apache.spark.sql.expressions.Window
    val out = Files.createTempDirectory("graft-recovery-ev").toString
    val evDir = new java.io.File(out, "events")
    require(evDir.mkdirs())
    val sliced = graft.core.Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type")
      .withColumn("slice", ntile(4).over(Window.orderBy("ts", "event_id")))
      .cache()
    (1 to 4).foreach { i =>
      val tmp = Files.createTempDirectory(s"graft-recovery-slice$i").toString
      sliced.filter(col("slice") === i).drop("slice")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file written for slice $i"))
      val dst = new java.io.File(evDir, f"slice-$i%02d.parquet")
      require(part.renameTo(dst))
      // the file source orders its initial listing by modification time
      // (ties by path): pin strictly-increasing mtimes so slice order is
      // explicit rather than an artifact of write latency
      require(dst.setLastModified(1700000000000L + i * 60000L))
    }
    sliced.unpersist()
    evDir.getPath
  }

  private def transitionStream(model: Map[String, Long]): DataFrame = {
    val schema = spark.read.parquet(evSrcDir).schema
    TransitionStream.screened(spark,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(evSrcDir),
      model)
  }

  private def flaggedRows(root: String): Seq[(Long, Long, String, String, Long)] =
    spark.read.parquet(s"$root/data")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4)))
      .toSeq.sorted

  test("killed transition screen resumes with exact per-user sequence state (q242)") {
    // the frozen model, from the copy itself (the q242 convention)
    val model = graft.operators.Trajectory.transitionsOver(
        spark.read.parquet(evSrcDir))
      .select("from_type", "to_type", "p_micro").collect()
      .map(r => s"${r.getString(0)}>${r.getString(1)}" -> r.getLong(2)).toMap
    val base = Files.createTempDirectory("graft-recovery-q242").toString
    def drain(root: String, kill: Boolean): Unit =
      EventStream.withStreamStatePartitions(spark) {
        try {
          val q = transitionStream(model).writeStream
            .outputMode("append").format("parquet")
            .option("path", s"$root/data")
            .option("checkpointLocation", s"$root/checkpoint")
            .trigger(if (kill) Trigger.ProcessingTime(0L) else Trigger.AvailableNow())
            .start()
          if (kill) {
            val deadline = System.currentTimeMillis() + 120000
            while (q.recentProgress.map(_.numInputRows).sum < 1 &&
                System.currentTimeMillis() < deadline) Thread.sleep(25)
            q.stop()
            EventStream.reconcileSourceLogs(spark, s"$root/checkpoint")
            val q2 = transitionStream(model).writeStream
              .outputMode("append").format("parquet")
              .option("path", s"$root/data")
              .option("checkpointLocation", s"$root/checkpoint")
              .trigger(Trigger.AvailableNow())
              .start()
            q2.awaitTermination()
          } else q.awaitTermination()
        } finally org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      }
    drain(s"$base/killed", kill = true)
    drain(s"$base/clean", kill = false)
    val killed = flaggedRows(s"$base/killed")
    val clean = flaggedRows(s"$base/clean")
    assert(killed.nonEmpty, "screen flagged nothing — the fixture floor regressed")
    assert(killed == clean,
      s"recovered screen diverged: ${killed.size} rows vs ${clean.size} clean")
  }

  // ---- round-14 verdict item 6: the two structurally-richest states ----
  // q114's band-bucket minima (a per-(band,bucket) running min with a
  // poison sentinel — millions of tiny keys) and q183's serialized
  // compactor stacks (an opaque byte-array state round-tripping through
  // the store) join the killed-drain matrix.

  /** The q114 screen update over the splittable 4-file docs copy. */
  private def lshScreenStream(): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    Dedup.bandBucketsOf(Dedup.sigsOf(stream))
      .as[DedupStream.BucketRow]
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(DedupStream.screenGroup)
      .toDF("doc_id")
  }

  test("killed LSH screen resumes with exact band-bucket state (q114)") {
    val base = Files.createTempDirectory("graft-recovery-q114").toString
    def drain(root: String, kill: Boolean): Unit =
      EventStream.withStreamStatePartitions(spark) {
        try {
          val q = lshScreenStream().writeStream
            .outputMode("append").format("parquet")
            .option("path", s"$root/data")
            .option("checkpointLocation", s"$root/checkpoint")
            .trigger(if (kill) Trigger.ProcessingTime(0L) else Trigger.AvailableNow())
            .start()
          if (kill) {
            val deadline = System.currentTimeMillis() + 120000
            while (q.recentProgress.map(_.numInputRows).sum < 1 &&
                System.currentTimeMillis() < deadline) Thread.sleep(25)
            q.stop()
            EventStream.reconcileSourceLogs(spark, s"$root/checkpoint")
            val q2 = lshScreenStream().writeStream
              .outputMode("append").format("parquet")
              .option("path", s"$root/data")
              .option("checkpointLocation", s"$root/checkpoint")
              .trigger(Trigger.AvailableNow())
              .start()
            q2.awaitTermination()
          } else q.awaitTermination()
        } finally org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      }
    drain(s"$base/killed", kill = true)
    drain(s"$base/clean", kill = false)
    def flags(root: String): Seq[Long] =
      spark.read.parquet(s"$root/data").collect().map(_.getLong(0)).toSeq.sorted
    val killed = flags(s"$base/killed")
    val clean = flags(s"$base/clean")
    assert(killed.nonEmpty, "screen flagged nothing — the fixture floor regressed")
    assert(killed == clean,
      s"recovered LSH screen diverged: ${killed.size} rows vs ${clean.size} clean")
    // semantic floor: everything the stream flags, the batch screen
    // flags too (the stream can only under-flag across batch
    // boundaries — a min arriving late — never over-flag)
    val buckets = Dedup.bandBucketsOf(Dedup.sigsOf(spark.read.parquet(srcDir)))
    val sized = buckets.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz"), min(col("doc_id")).as("mn"))
      .filter(col("bsz") <= Dedup.MaxBucket)
    val batchFlags = buckets.join(sized, Seq("band", "bucket"))
      .filter(col("doc_id") > col("mn"))
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(killed.toSet.subsetOf(batchFlags),
      "streamed flags must be a subset of the batch screen's flags")
  }

  /** Four-file (event_type, cents) copy for the q183 sketch drain. */
  private lazy val qSrcDir: String = {
    val out = Files.createTempDirectory("graft-recovery-q183").toString
    graft.core.Tables.events(spark, sf)
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$out/ev")
    s"$out/ev"
  }

  /** The q183 sketch update over the splittable copy. */
  private def quantileStream(): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(qSrcDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(qSrcDir)
      .as[QuantileStream.EvRow]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(QuantileStream.sketchUpdate)
      .toDF()
  }

  test("killed quantile drain resumes with exact serialized compactor state (q183)") {
    val base = Files.createTempDirectory("graft-recovery-q183-run").toString
    def drain(root: String, kill: Boolean): Unit =
      EventStream.withStreamStatePartitions(spark) {
        try {
          val q = quantileStream().writeStream
            .outputMode("append").format("parquet")
            .option("path", s"$root/data")
            .option("checkpointLocation", s"$root/checkpoint")
            .trigger(if (kill) Trigger.ProcessingTime(0L) else Trigger.AvailableNow())
            .start()
          if (kill) {
            val deadline = System.currentTimeMillis() + 120000
            while (q.recentProgress.map(_.numInputRows).sum < 1 &&
                System.currentTimeMillis() < deadline) Thread.sleep(25)
            q.stop()
            EventStream.reconcileSourceLogs(spark, s"$root/checkpoint")
            val q2 = quantileStream().writeStream
              .outputMode("append").format("parquet")
              .option("path", s"$root/data")
              .option("checkpointLocation", s"$root/checkpoint")
              .trigger(Trigger.AvailableNow())
              .start()
            q2.awaitTermination()
          } else q.awaitTermination()
        } finally org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      }
    drain(s"$base/killed", kill = true)
    drain(s"$base/clean", kill = false)
    def history(root: String): Seq[(String, Long, Long, Long, Long)] =
      spark.read.parquet(s"$root/data").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq.sorted
    val killed = history(s"$base/killed")
    val clean = history(s"$base/clean")
    assert(killed.nonEmpty)
    // the FULL emission history matches — every post-resume estimate was
    // folded on top of a byte-exact deserialized compactor stack
    assert(killed == clean,
      s"recovered sketch drain diverged: ${killed.size} rows vs ${clean.size} clean")
    // and the final estimates honor the q182 rank budget vs a batch recount
    import org.apache.spark.sql.expressions.Window
    val wv = Window.partitionBy("event_type")
    val finals = spark.read.parquet(s"$base/killed/data")
      .withColumn("vmax", max(col("version")).over(wv))
      .filter(col("version") === col("vmax"))
      .select(col("event_type"),
        col("p50").as("est_p50"), col("p90").as("est_p90"), col("p99").as("est_p99"))
    val verdicts = graft.operators.QuantileSketch.verdictsOver(
      spark.read.parquet(qSrcDir), finals).collect()
    assert(verdicts.nonEmpty)
    verdicts.foreach { r =>
      assert(r.getBoolean(3) && r.getBoolean(5) && r.getBoolean(7),
        s"recovered estimates broke the rank budget: $r")
    }
  }

  /** One-row-per-file source for the in-order-contract tests: file i
    * carries exactly `rows(i)`, mtimes pinned so file order is explicit. */
  private def orderedEvFiles(rows: Seq[(Long, Long, java.sql.Timestamp, String)]): String = {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-inorder-ev").toString
    val evDir = new java.io.File(out, "events")
    require(evDir.mkdirs())
    rows.zipWithIndex.foreach { case (r, i) =>
      val tmp = Files.createTempDirectory(s"graft-inorder-$i").toString
      Seq(r).toDF("user_id", "event_id", "ts", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file written for row $i"))
      val dst = new java.io.File(evDir, f"ev-$i%02d.parquet")
      require(part.renameTo(dst))
      require(dst.setLastModified(1700000000000L + i * 60000L))
    }
    evDir.getPath
  }

  private def drainTransitions(src: String): Unit = {
    val schema = spark.read.parquet(src).schema
    val root = Files.createTempDirectory("graft-inorder-out").toString
    EventStream.withStreamStatePartitions(spark) {
      try {
        val q = TransitionStream.screened(spark,
            spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src),
            Map.empty[String, Long]).writeStream
          .outputMode("append").format("parquet")
          .option("path", s"$root/data")
          .option("checkpointLocation", s"$root/checkpoint")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
  }

  test("transition screen rejects a cross-batch ts TIE with a smaller event_id") {
    // the batch twin's (ts_us, event_id) sort folds the tied smaller-id
    // event BEFORE the stored state; accepting it here would silently
    // count the inverted transition — the guard must be the full
    // lexicographic key, not ts alone (ADVICE r13)
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainTransitions(orderedEvFiles(Seq(
        (1L, 5L, t, "view"),
        (1L, 3L, t, "click"))))
    }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    assert(chain.contains("in-order"),
      s"expected the in-order contract violation to surface, got:\n$chain")
  }

  test("transition screen accepts a cross-batch ts tie in event_id order") {
    // tied ts with a LARGER event_id matches the batch sort order — the
    // guard must not reject the legitimate tie
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    drainTransitions(orderedEvFiles(Seq(
      (1L, 3L, t, "view"),
      (1L, 5L, t, "click"))))
  }

  test("a resume replans the batch a stop interrupted between the source and offset logs") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val src = orderedEvFiles((0 until 3).map(i => (1L, i.toLong, ts, "view")))
    val schema = spark.read.parquet(src).schema
    val root = Files.createTempDirectory("graft-resume-window").toString
    /** One-file-per-trigger pass from `checkpoint`: rows per batch. */
    def run(checkpoint: String): Seq[Long] = {
      val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.format("noop")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    }
    assert(run(s"$root/cp") == Seq(1L, 1L, 1L))
    // roll the checkpoint back into the stop window: batch 0 committed,
    // the file source already logged batch 1's file, no batch-1 offsets
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(root).getFileSystem(conf)
    Seq("offsets/1", "offsets/2", "commits/1", "commits/2", "sources/0/2")
      .foreach(p => assert(fs.delete(new Path(s"$root/cp/$p"), false), p))
    assert(FileUtil.copy(fs, new Path(s"$root/cp"), fs, new Path(s"$root/as_left"), false, conf))
    assert(run(s"$root/as_left") == Seq(2L),
      "a restart from the unreconciled checkpoint folds two files into one batch")
    assert(EventStream.reconcileSourceLogs(spark, s"$root/cp") == 1)
    assert(EventStream.reconcileSourceLogs(spark, s"$root/cp") == 0)
    assert(run(s"$root/cp") == Seq(1L, 1L), "the resume replans one file per batch")
  }
}
