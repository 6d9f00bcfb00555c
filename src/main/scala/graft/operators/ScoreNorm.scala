package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** CROSS-SOURCE SCORE NORMALIZATION (SURVEY §2.9 quality family): map
  * every document's quality score to its PERCENTILE WITHIN ITS SOURCE —
  * the calibration step before any cross-source comparison, because raw
  * quality scores are not comparable across sources (a median web doc
  * and a median reference doc score very differently); mixing planners
  * (q125/q193) and threshold filters that consume raw scores across
  * sources silently over-filter the noisier source. The standard fix is
  * per-source rank normalization, and the mid-rank convention makes it
  * tie-stable.
  *
  * Scale shape — the part worth copying: a naive per-source
  * `percent_rank()` window shuffles and sorts the CORPUS, and a 30 TB
  * single source becomes one window partition (the q189 problem,
  * per-source). This operator instead exploits the score domain being
  * CLOSED (the q23 score is one rounding to integer ten-thousandths →
  * ≤ 10001 distinct values): the CDF is a (source, q_micro)-grain
  * aggregate — vocabulary-sized, never corpus-sized — its cumulative
  * sum runs on that tiny frame, and the per-doc percentile attaches
  * back as a BROADCAST join. Two map passes + one value-grain shuffle,
  * no corpus sort, no corpus window, at any corpus size.
  *
  * Parity: mid-rank percentile entirely in integers —
  * `pct_micro = (1e6 · (2·cum_lt + cnt)) div (2·n)` (the standard
  * (avgrank − ½)/n mid-rank, cross-multiplied) — over integer counts
  * of the integer score; zero-token docs are excluded on both engines
  * (the q131 convention). */
object ScoreNorm extends graft.QueryModule {

  /** q218 — per-doc within-source percentile of the q23 quality score. */
  def q218ScorePercentiles(spark: SparkSession, dir: String): DataFrame = {
    percentilesOver(Tables.fanout(spark, Tables.documents(spark, dir)))
  }

  /** The scored (doc_id, source, q_micro) frame — q23's one-rounding
    * score, zero-token docs excluded. */
  private[graft] def scoredOf(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    docs
      .filter(size(toks) > 0)
      .select(col("doc_id"), col("source"),
        round((least(size(toks).cast("double") / 100.0, lit(1.0)) * 0.5 +
          size(array_distinct(toks)).cast("double") / size(toks) * 0.5) * 10000)
          .cast("long").as("q_micro"))
  }

  /** The per-source value-grain CDF (source, q_micro, pct_micro) —
    * ≤ 10001 rows per source by construction, so the windows here run
    * over a tiny frame (never the corpus). Shared by q218 and the q224
    * at-ingest screen (which ships it as the calibration artifact). */
  private[graft] def cdfOf(docs: DataFrame): DataFrame = {
    val grain = scoredOf(docs).groupBy("source", "q_micro")
      .agg(count(lit(1)).as("cnt"))
    val bySrc = Window.partitionBy("source")
    grain
      .withColumn("cum_le", sum(col("cnt")).over(
        bySrc.orderBy("q_micro").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(bySrc))
      .withColumn("pct_micro",
        expr("(1000000 * (2 * cum_le - cnt)) div (2 * n)"))
      .select("source", "q_micro", "pct_micro")
  }

  /** The normalization over ANY documents-shaped frame (also the
    * `score_percentiles()` TVF body). */
  private[graft] def percentilesOver(docs: DataFrame): DataFrame =
    scoredOf(docs).join(broadcast(cdfOf(docs)), Seq("source", "q_micro"))
      .select("doc_id", "source", "q_micro", "pct_micro")
      .orderBy("doc_id")

  /** q221 — TWO-SAMPLE KS DRIFT between corpus versions: the
    * Kolmogorov–Smirnov distance (max CDF gap) of the per-source
    * quality-score distributions across two snapshots — the
    * distribution-free complement of q196's PSI (PSI needs a bucket
    * choice and is unbounded on empty buckets; KS is the sup-norm on
    * the CDFs themselves, no binning decision at all). The significance
    * verdict is the classic large-sample bound D > c(α)·√((n1+n2)/n1n2)
    * at α = 0.05 (c = 1.358), cross-multiplied into exact integers.
    *
    * Scale shape: the q218 insight again — the score domain is closed
    * (≤ 10001 integer values), so both CDFs are value-grain aggregates
    * and the sup-gap is a max over the tiny full-outer grain; two map
    * passes + value-grain shuffles, no corpus sort at any size.
    * Parity: CDF steps are integer micros via `div`; the verdict
    * compares ks²·n1·n2 against 1844164e6·(n1+n2) in decimal(38,0)
    * (1358² = 1844164 — no square root ever computed). */
  def q221ScoreKsDrift(spark: SparkSession, dir: String): DataFrame = {
    ksOver(
      Tables.fanout(spark, SnapshotFixture.table(spark, dir, "documents_v1_growth")),
      Tables.fanout(spark, SnapshotFixture.table(spark, dir, "documents_v2")))
  }

  /** The KS report over ANY two documents-shaped frames (also the
    * `score_ks()` TVF body). */
  private[graft] def ksOver(v1: DataFrame, v2: DataFrame): DataFrame = {
    def grain(df: DataFrame, cnt: String): DataFrame = {
      val toks = TextOps.tokens(col("text"))
      df.filter(size(toks) > 0)
        .select(col("source"),
          round((least(size(toks).cast("double") / 100.0, lit(1.0)) * 0.5 +
            size(array_distinct(toks)).cast("double") / size(toks) * 0.5) * 10000)
            .cast("long").as("q_micro"))
        .groupBy("source", "q_micro").agg(count(lit(1)).as(cnt))
    }
    val g = grain(v1, "c1")
      .join(grain(v2, "c2"), Seq("source", "q_micro"), "full_outer")
      .na.fill(0L, Seq("c1", "c2"))
    val bySrc = Window.partitionBy("source")
    val runUp = bySrc.orderBy("q_micro")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g
      .withColumn("cum1", sum(col("c1")).over(runUp))
      .withColumn("cum2", sum(col("c2")).over(runUp))
      .withColumn("n1", sum(col("c1")).over(bySrc))
      .withColumn("n2", sum(col("c2")).over(bySrc))
      // greatest(…, 1): a source present in only ONE snapshot has no
      // defined KS (one sample is empty) — its rows are dropped below,
      // but the guarded division must not throw first (the q171
      // NULL-vs-error convention)
      .withColumn("gap",
        abs(expr("(1000000 * cum1) div greatest(n1, 1) - " +
          "(1000000 * cum2) div greatest(n2, 1)")))
      .groupBy("source")
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(col("gap")).as("ks_micro"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("drifted",
        expr("""CAST(ks_micro AS decimal(38,0)) * ks_micro * n1 * n2
                > CAST(1844164000000 AS decimal(38,0)) * (n1 + n2)"""))
      .select("source", "n1", "n2", "ks_micro", "drifted")
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q218_score_percentiles" -> (q218ScorePercentiles _),
    "q221_score_ks_drift" -> (q221ScoreKsDrift _))

  /** Shared q218/q224 oracle: the at-ingest screen (q224) must land on
    * the identical rows as the batch normalization, so BOTH queries
    * carry this text verbatim (the q62/q167 convention). */
  private[graft] lazy val percentileOracleSql: String =
    s"""WITH t AS (
         |  SELECT doc_id, source,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, source,
         |    CAST(round((least(len(w) / 100.0, 1.0) * 0.5 +
         |      len(list_distinct(w)) * 1.0 / len(w) * 0.5) * 10000) AS BIGINT)
         |      AS q_micro
         |  FROM t WHERE len(w) > 0),
         |g AS (SELECT source, q_micro, count(*) AS cnt FROM s GROUP BY 1, 2),
         |c AS (
         |  SELECT source, q_micro, cnt,
         |    sum(cnt) OVER (PARTITION BY source ORDER BY q_micro) AS cum_le,
         |    sum(cnt) OVER (PARTITION BY source) AS n
         |  FROM g)
         |SELECT s.doc_id, s.source, s.q_micro,
         |  CAST((1000000 * (2 * c.cum_le - c.cnt))
         |    // (2 * c.n) AS BIGINT) AS pct_micro
         |FROM s JOIN c USING (source, q_micro)
         |ORDER BY doc_id""".stripMargin

  /** Full value oracle: the same one-rounding score, the value-grain
    * counts, window cumulative sum and integer mid-rank formula. */
  val oracles: Map[String, String] = Map(
    "q218_score_percentiles" -> percentileOracleSql,
    // q221: both snapshots from the version rules (the SnapshotFixture
    // contract), per-side value-grain counts, one full-outer grain,
    // window CDFs, integer sup-gap and the cross-multiplied verdict
    "q221_score_ks_drift" -> {
      import Corpus._
      def sideCtes(rel: String, from: String) =
        s"""$rel AS (
           |  SELECT source, q_micro, count(*) AS cnt FROM (
           |    SELECT source,
           |      CAST(round((least(len(w) / 100.0, 1.0) * 0.5 +
           |        len(list_distinct(w)) * 1.0 / len(w) * 0.5) * 10000) AS BIGINT)
           |        AS q_micro
           |    FROM (SELECT source,
           |            list_filter(string_split(text, ' '), x -> x <> '') AS w
           |          FROM $from)
           |    WHERE len(w) > 0)
           |  GROUP BY 1, 2)""".stripMargin
      s"""WITH v1 AS (
         |  SELECT source,
         |    CASE WHEN doc_id % $ChangedMod = 0 THEN text || '$ChangedFooter'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % $RemovedInV2Mod <> $RemovedInV2Rem),
         |v2 AS (
         |  SELECT source, text
         |  FROM documents WHERE doc_id % $DroppedFromV1Mod <> $DroppedFromV1Rem),
         |${sideCtes("g1", "v1")},
         |${sideCtes("g2", "v2")},
         |g AS (
         |  SELECT source, q_micro,
         |    coalesce(g1.cnt, 0) AS c1, coalesce(g2.cnt, 0) AS c2
         |  FROM g1 FULL JOIN g2 USING (source, q_micro)),
         |c AS (
         |  SELECT source,
         |    sum(c1) OVER (PARTITION BY source ORDER BY q_micro) AS cum1,
         |    sum(c2) OVER (PARTITION BY source ORDER BY q_micro) AS cum2,
         |    sum(c1) OVER (PARTITION BY source) AS n1,
         |    sum(c2) OVER (PARTITION BY source) AS n2
         |  FROM g),
         |k AS (
         |  SELECT source, CAST(max(n1) AS BIGINT) AS n1,
         |    CAST(max(n2) AS BIGINT) AS n2,
         |    CAST(max(abs((1000000 * cum1) // greatest(n1, 1)
         |      - (1000000 * cum2) // greatest(n2, 1))) AS BIGINT) AS ks_micro
         |  FROM c GROUP BY source
         |  HAVING max(n1) > 0 AND max(n2) > 0)
         |SELECT source, n1, n2, ks_micro,
         |  CAST(ks_micro AS HUGEINT) * ks_micro * n1 * n2
         |    > CAST(1844164000000 AS HUGEINT) * (n1 + n2) AS drifted
         |FROM k ORDER BY source""".stripMargin
    })
}
