package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCORE-DISTRIBUTION DRIFT — PSI (SURVEY §2.9 audit family, beside
  * q71's composition drift and q163's filter correlations): the
  * Population Stability Index of the per-document quality score
  * between two corpus snapshots, per score bucket —
  * PSI_b = (p2_b − p1_b) · log(p2_b / p1_b), the standard model-ops
  * drift monitor (banking scorecards onward; ≥ 0 by construction,
  * conventionally >0.1 "investigate", >0.25 "shift"). q71 answers
  * "did the SOURCE/LANG composition move"; this answers "did the
  * QUALITY of what we crawl move" — a regression in the extraction
  * stack (encoding damage, boilerplate leak, case mangling) shows up
  * here even when composition is unchanged, before any model retrains
  * on the damaged crawl.
  *
  * The score adds a lowercase-token ratio to q189's length/diversity
  * signal (0.5·length + 0.3·distinct + 0.2·lowercase, one rounding to
  * integer ten-thousandths) — SHOUTING text is a real quality defect,
  * and the component makes the fixture's v1 case-mangling edits
  * ([[SnapshotFixture]] `documents_v1_edit`) land in a visibly
  * drifted bucket.
  *
  * Scale shape: one map-only scan per snapshot into an 11-bucket
  * count (map-side combined); everything after is bucket-grain (tens
  * of rows, broadcast scalar attaches). Parity: shares are add-one-
  * smoothed integer micros (truncating division, closed 11-bucket
  * spine so the smoothing denominator is a constant), the log ratio
  * is log2 in half-away micros over DOUBLE-DIVISION form (never an
  * integer product of corpus-sized terms — overflow-safe at any
  * scale), and the contribution is one sign-split truncating division
  * of their product.
  */
object Drift extends graft.QueryModule {

  /** Closed bucket spine: scores 0..10000 in [[BucketWidth]] bands →
    * buckets 0..10 (11 of them, the add-one smoothing denominator). */
  val Buckets = 11
  val BucketWidth = 1000L

  /** The case-aware quality score in integer ten-thousandths — one
    * rounding (the q131/q189 convention). */
  private[graft] def scoreE4(text: Column): Column = {
    val w = TextOps.tokens(text)
    val n = size(w).cast("double")
    round((least(n / 100.0, lit(1.0)) * 0.5 +
      size(array_distinct(w)).cast("double") / greatest(n, lit(1.0)) * 0.3 +
      size(filter(w, x => x === lower(x))).cast("double") /
        greatest(n, lit(1.0)) * 0.2) * 10000)
      .cast("long")
  }

  /** q196 — the bucket-grain PSI report between the fixture's two
    * snapshot versions (the q66/q71 snapshot machinery). */
  def q196ScoreDriftPsi(spark: SparkSession, dir: String): DataFrame = {
    psiOver(
      SnapshotFixture.table(spark, dir, "documents_v1_edit"),
      SnapshotFixture.table(spark, dir, "documents_v2"))
  }

  /** The PSI report over ANY two (…, text) snapshot frames — also the
    * `score_drift(v1, v2)` TVF body. */
  private[graft] def psiOver(v1: DataFrame, v2: DataFrame): DataFrame = {
    val spark = v1.sparkSession
    def counted(df: DataFrame, name: String): DataFrame =
      df.select(bucketOf(col("text")).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(name))
    val spine = spark.range(0, Buckets).select(col("id").as("bucket"))
    psiTail(spine
      .join(counted(v1, "n_v1"), Seq("bucket"), "left")
      .join(counted(v2, "n_v2"), Seq("bucket"), "left")
      .na.fill(0L, Seq("n_v1", "n_v2")))
  }

  /** The per-document bucket column — the ingest-side map the
    * streaming monitor (q197) shares with the batch scan (scores are
    * non-negative, so the floor IS the integer division). */
  private[graft] def bucketOf(text: Column): Column =
    floor(scoreE4(text) / lit(BucketWidth)).cast("long")

  /** The PSI arithmetic over an assembled (bucket, n_v1, n_v2) frame —
    * 11 rows; shared by the batch report and the streaming monitor so
    * the two can never drift. */
  private[graft] def psiTail(t: DataFrame): DataFrame = {
    val tot = t.agg(sum(col("n_v1")).as("t1"), sum(col("n_v2")).as("t2"))
    t.crossJoin(broadcast(tot))
      .withColumn("share_v1_micro",
        expr(s"((n_v1 + 1) * 1000000) div (t1 + $Buckets)"))
      .withColumn("share_v2_micro",
        expr(s"((n_v2 + 1) * 1000000) div (t2 + $Buckets)"))
      // double-division form: no corpus-sized integer product
      .withColumn("lg", KMeans.halfAway(
        log2((col("n_v2").cast("double") + 1) / (col("t2") + Buckets) /
          ((col("n_v1").cast("double") + 1) / (col("t1") + Buckets)))
          * 1000000))
      .withColumn("prod",
        (col("share_v2_micro") - col("share_v1_micro")) * col("lg"))
      .withColumn("psi_micro",
        when(col("prod") >= 0, expr("prod div 1000000"))
          .otherwise(-expr("(-prod) div 1000000")))
      .select(col("bucket"), col("n_v1"), col("n_v2"),
        col("share_v1_micro"), col("share_v2_micro"), col("psi_micro"))
      .orderBy("bucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q196_score_drift_psi" -> (q196ScoreDriftPsi _))

  /** Full value oracle: the snapshot version rules (q66's), the
    * case-aware score, the closed spine, and the share/log/PSI
    * arithmetic replayed value-for-value. */
  val oracles: Map[String, String] = Map(
    "q196_score_drift_psi" -> {
      val score = """CAST(round((least(len(w) / 100.0, 1.0) * 0.5
        |    + len(list_distinct(w)) / greatest(len(w), 1.0) * 0.3
        |    + len(list_filter(w, x -> x = lower(x))) / greatest(len(w), 1.0) * 0.2)
        |    * 10000) AS BIGINT)""".stripMargin
      val lg = s"log2((CAST(n_v2 AS DOUBLE) + 1) / (t2 + $Buckets) / " +
        s"((CAST(n_v1 AS DOUBLE) + 1) / (t1 + $Buckets))) * 1000000"
      s"""WITH v1 AS (
         |  SELECT CASE WHEN doc_id % ${Corpus.ChangedMod} = 0
         |    THEN upper(text) ELSE text END AS text
         |  FROM documents
         |  WHERE doc_id % ${Corpus.RemovedInV2Mod} <> ${Corpus.RemovedInV2Rem}),
         |v2 AS (
         |  SELECT text FROM documents
         |  WHERE doc_id % ${Corpus.DroppedFromV1Mod} <> ${Corpus.DroppedFromV1Rem}),
         |s1 AS (SELECT $score AS q FROM
         |  (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM v1)),
         |s2 AS (SELECT $score AS q FROM
         |  (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM v2)),
         |spine AS (SELECT unnest(range(0, $Buckets)) AS bucket),
         |c1 AS (SELECT q // $BucketWidth AS bucket, count(*) AS n1 FROM s1 GROUP BY 1),
         |c2 AS (SELECT q // $BucketWidth AS bucket, count(*) AS n2 FROM s2 GROUP BY 1),
         |t AS (
         |  SELECT spine.bucket, coalesce(n1, 0) AS n_v1, coalesce(n2, 0) AS n_v2
         |  FROM spine LEFT JOIN c1 USING (bucket) LEFT JOIN c2 USING (bucket)),
         |tot AS (SELECT sum(n_v1) AS t1, sum(n_v2) AS t2 FROM t),
         |m AS (
         |  SELECT bucket, n_v1, n_v2,
         |    ((n_v1 + 1) * 1000000) // (t1 + $Buckets) AS share_v1_micro,
         |    ((n_v2 + 1) * 1000000) // (t2 + $Buckets) AS share_v2_micro,
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
