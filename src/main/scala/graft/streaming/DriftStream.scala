package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Sessions
import graft.operators.{Corpus, Drift, KMeans, SnapshotFixture}

/** STREAMING SCORE-DRIFT MONITOR: q196's PSI maintained AT INGEST —
  * each arriving document lands in its quality-score bucket and the
  * live bucket histogram is compared against the FROZEN reference
  * snapshot's distribution (the deployment shape of drift monitoring:
  * the reference is last crawl's published distribution, the live side
  * is the firehose, and the monitor pages before a damaged crawl
  * lands). Completes the at-ingest monitoring family: q161 watches
  * VOLUME anomalies, this watches QUALITY drift.
  *
  * State is the 11-bucket histogram itself — the [[CmsStream]] regime
  * (a hard constant bound, not per-key state), with the same
  * map-side combine (≤ 11 rows per partition before the stateful
  * shuffle) and monotone-emission drain convergence. The per-document
  * bucket is [[Drift.bucketOf]] — the SAME column expression as the
  * batch scan — and the report tail is the shared [[Drift.psiTail]],
  * so maintained and batch PSI are equal by construction and the q196
  * oracle machinery gates this query value-for-value (reference = the
  * v1 snapshot, live = the full corpus).
  */
object DriftStream extends graft.QueryModule {

  private[streaming] case class BucketRow(bucket: Long)
  private[streaming] case class BucketCount(bucket: Long, n: Long)
  private[streaming] case class BucketState(n: Long)
  private[streaming] case class BucketOut(bucket: Long, n: Long)

  /** Map-side combine: each partition reduces its bucket hits to at
    * most [[Drift.Buckets]] rows before the stateful shuffle. */
  private[streaming] def combineLocal(
      it: Iterator[BucketRow]): Iterator[BucketCount] = {
    val m = new java.util.HashMap[Long, Long]()
    it.foreach(r => m.merge(r.bucket, 1L, (a, b) => a + b))
    val out = scala.collection.mutable.ArrayBuffer.empty[BucketCount]
    m.forEach((k, v) => { out += BucketCount(k, v); () })
    out.iterator
  }

  /** Fold arriving pre-combined counts into one bucket's counter;
    * emissions are the running total (monotone — latest = max). */
  private[streaming] def bucketUpdate(
      bucket: Long,
      rows: Iterator[BucketCount],
      state: GroupState[BucketState]): Iterator[BucketOut] = {
    val prev = if (state.exists) state.get.n else 0L
    var add = 0L
    rows.foreach(add += _.n)
    val n = prev + add
    state.update(BucketState(n))
    Iterator.single(BucketOut(bucket, n))
  }

  /** q197 — the live PSI report after draining the document firehose:
    * reference = the v1 snapshot's bucket distribution, live = the
    * ingest-maintained histogram. */
  def q197StreamScoreDrift(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    import spark.implicits._
    val stream = spark.readStream
      .schema(DedupStream.docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val hits = graft.core.Tables.fanout(spark, stream)
      .select(Drift.bucketOf(coalesce(col("text"), lit(""))).as("bucket"))
      .as[BucketRow]
    val summaries = hits
      .mapPartitions(combineLocal)
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(bucketUpdate)
      .toDF()
    val live = EventStream.drainToFiles(spark, summaries)
      .groupBy("bucket").agg(max(col("n")).as("n_v2"))
    val ref = SnapshotFixture.table(spark, dir, "documents_v1_edit")
      .select(Drift.bucketOf(col("text")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_v1"))
    val spine = spark.range(0, Drift.Buckets).select(col("id").as("bucket"))
    Drift.psiTail(spine
      .join(ref, Seq("bucket"), "left")
      .join(live, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_v1", "n_v2")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q197_stream_score_drift" -> (q197StreamScoreDrift _))

  /** q196's oracle with the live side = the FULL corpus (the stream
    * sees every document; the reference keeps the v1 edit rules). */
  val oracles: Map[String, String] = Map(
    "q197_stream_score_drift" -> {
      val score = """CAST(round((least(len(w) / 100.0, 1.0) * 0.5
        |    + len(list_distinct(w)) / greatest(len(w), 1.0) * 0.3
        |    + len(list_filter(w, x -> x = lower(x))) / greatest(len(w), 1.0) * 0.2)
        |    * 10000) AS BIGINT)""".stripMargin
      val lg = s"log2((CAST(n_v2 AS DOUBLE) + 1) / (t2 + ${Drift.Buckets}) / " +
        s"((CAST(n_v1 AS DOUBLE) + 1) / (t1 + ${Drift.Buckets}))) * 1000000"
      s"""WITH v1 AS (
         |  SELECT CASE WHEN doc_id % ${Corpus.ChangedMod} = 0
         |    THEN upper(text) ELSE text END AS text
         |  FROM documents
         |  WHERE doc_id % ${Corpus.RemovedInV2Mod} <> ${Corpus.RemovedInV2Rem}),
         |v2 AS (SELECT coalesce(text, '') AS text FROM documents),
         |s1 AS (SELECT $score AS q FROM
         |  (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM v1)),
         |s2 AS (SELECT $score AS q FROM
         |  (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM v2)),
         |spine AS (SELECT unnest(range(0, ${Drift.Buckets})) AS bucket),
         |c1 AS (SELECT q // ${Drift.BucketWidth} AS bucket, count(*) AS n1 FROM s1 GROUP BY 1),
         |c2 AS (SELECT q // ${Drift.BucketWidth} AS bucket, count(*) AS n2 FROM s2 GROUP BY 1),
         |t AS (
         |  SELECT spine.bucket, coalesce(n1, 0) AS n_v1, coalesce(n2, 0) AS n_v2
         |  FROM spine LEFT JOIN c1 USING (bucket) LEFT JOIN c2 USING (bucket)),
         |tot AS (SELECT sum(n_v1) AS t1, sum(n_v2) AS t2 FROM t),
         |m AS (
         |  SELECT bucket, n_v1, n_v2,
         |    ((n_v1 + 1) * 1000000) // (t1 + ${Drift.Buckets}) AS share_v1_micro,
         |    ((n_v2 + 1) * 1000000) // (t2 + ${Drift.Buckets}) AS share_v2_micro,
         |    ${KMeans.halfAwaySql(lg)} AS lg
         |  FROM t, tot)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(n_v1 AS BIGINT) AS n_v1, CAST(n_v2 AS BIGINT) AS n_v2,
         |  CAST(share_v1_micro AS BIGINT) AS share_v1_micro,
         |  CAST(share_v2_micro AS BIGINT) AS share_v2_micro,
         |  CAST(CASE WHEN (share_v2_micro - share_v1_micro) * lg >= 0
         |    THEN ((share_v2_micro - share_v1_micro) * lg) // 1000000
         |    ELSE -((-((share_v2_micro - share_v1_micro) * lg)) // 1000000)
         |  END AS BIGINT) AS psi_micro
         |FROM m ORDER BY bucket""".stripMargin
    })
}
