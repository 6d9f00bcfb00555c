package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** WEAK-SUPERVISION LABEL MODEL (SURVEY §2.9 classifier family, the
  * step BEFORE q151's trained classifier exists): combine several
  * cheap, noisy labeling functions (LFs) into one consensus label per
  * document and publish the per-LF diagnostics — coverage, polarity,
  * and agreement with the consensus — that decide which LFs to keep
  * (the data-programming workflow of Ratner et al. 2017 "Snorkel:
  * Rapid Training Data Creation with Weak Supervision"; the consensus
  * here is the deterministic majority vote, Snorkel's unweighted
  * baseline). This is how a training-data pipeline bootstraps labels
  * for q151's supervised stage when no hand labels exist at 100 TB.
  *
  * Three LFs over signals the engine already scores elsewhere, each
  * voting +1 (keep) / −1 (drop) / 0 (abstain) on integer-micro
  * thresholds: document length (tokens), type-token ratio, and
  * filler-word density. The vote is the sign of the LF sum — ties and
  * all-abstain rows abstain.
  *
  * Scale shape: the per-document LF pass is map-only row-local column
  * math (one scan, codegen'd, fan-out opted in); the q203 matrix then
  * stacks the LF columns (row-local explode of a 3-element literal
  * array) and aggregates to |LFs| rows — the shuffle carries partial
  * aggregates, never documents. The streaming twin (q204) reuses the
  * SAME labeling expression at ingest, stateless.
  *
  * Parity: thresholds compare integer micros ([[TtrHiMicro]] etc.),
  * ratios are truncating divisions of non-negative integers, and the
  * vote/agreement logic is pure integer CASE arithmetic in both
  * engines. */
object WeakLabels extends graft.QueryModule {

  /** LF thresholds (fixture-calibrated: token count p10/50/90 =
    * 21/56/88; TTR micros p10/50/90 ≈ 321k/462k/750k; filler micros
    * p50/p90 ≈ 61k/106k). A deployment recalibrates per corpus. */
  val LenHi = 70L
  val LenLo = 30L
  val TtrHiMicro = 550000L
  val TtrLoMicro = 380000L
  val FillerLoMicro = 30000L
  val FillerHiMicro = 90000L

  /** The filler lexicon of the density LF. */
  val FillerWords = Seq("a", "the")

  /** The per-document LF + vote frame over ANY (doc_id, text) frame —
    * shared verbatim by the q203 matrix and the q204 ingest stream. */
  private[graft] def labeled(df: DataFrame): DataFrame = {
    val w = TextOps.tokens(col("text"))
    df.select(col("doc_id"), w.as("w"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n"),
        size(array_distinct(col("w"))).cast("long").as("nd"),
        size(filter(col("w"),
          t => FillerWords.map(lit(_) === t).reduce(_ || _)))
          .cast("long").as("nf"))
      .withColumn("ttr_micro", expr("(1000000 * nd) div greatest(n, 1)"))
      .withColumn("fil_micro", expr("(1000000 * nf) div greatest(n, 1)"))
      .select(
        col("doc_id"),
        when(col("n") >= LenHi, 1).when(col("n") <= LenLo, -1)
          .otherwise(0).as("lf_length"),
        when(col("ttr_micro") >= TtrHiMicro, 1)
          .when(col("ttr_micro") <= TtrLoMicro, -1)
          .otherwise(0).as("lf_ttr"),
        when(col("fil_micro") <= FillerLoMicro, 1)
          .when(col("fil_micro") >= FillerHiMicro, -1)
          .otherwise(0).as("lf_filler"))
      .withColumn("vote",
        when(col("lf_length") + col("lf_ttr") + col("lf_filler") > 0, 1)
          .when(col("lf_length") + col("lf_ttr") + col("lf_filler") < 0, -1)
          .otherwise(0))
  }

  /** q203 — the LF diagnostic matrix: one row per labeling function
    * with coverage, polarity counts, and agreement with the majority
    * vote (agreement is measured where both the LF and the vote
    * decided). */
  def q203WeakLabelMatrix(spark: SparkSession, dir: String): DataFrame = {
    matrixOver(Tables.fanout(spark, Tables.documents(spark, dir)))
  }

  /** The matrix over ANY (doc_id, text) frame — also the
    * `weak_label_matrix()` TVF body. */
  private[graft] def matrixOver(docs: DataFrame): DataFrame = {
    val l = labeled(docs)
    val stacked = l.select(col("vote"), explode(array(
        struct(lit("filler").as("lf"), col("lf_filler").as("v")),
        struct(lit("length").as("lf"), col("lf_length").as("v")),
        struct(lit("ttr").as("lf"), col("lf_ttr").as("v")))).as("e"))
      .select(col("e.lf").as("lf"), col("e.v").as("v"), col("vote"))
    stacked.groupBy("lf")
      .agg(
        sum(when(col("v") =!= 0, 1L).otherwise(0L)).as("n_covered"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("v") === -1, 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("v") =!= 0 && col("vote") =!= 0, 1L).otherwise(0L))
          .as("n_decided"),
        sum(when(col("v") =!= 0 && col("vote") =!= 0 &&
          col("v") === col("vote"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("agreement_micro",
        expr("(1000000 * n_agree) div greatest(n_decided, 1)"))
      .orderBy("lf")
  }

  /** q223 — PAIRWISE LF AGREEMENT (Cohen's kappa): chance-corrected
    * agreement between each pair of labeling functions over the full
    * {−1, 0, +1} label domain — the diagnostic that tells a
    * weak-supervision pipeline whether two LFs are independent signals
    * or the same rule twice (high kappa → drop one; the q203 matrix
    * measures each LF against the VOTE, which cannot see pairwise
    * redundancy because the vote already mixes all three).
    *
    * Exact-integer kappa: with a = agreement count, n = docs and
    * s = Σ_c mᴬ_c·mᴮ_c (marginal products), κ = (a·n − s)/(n² − s) —
    * one integer division to micros, no floating intermediate. The
    * degenerate n² = s case (both LFs constant) is guarded to κ = 0.
    *
    * Scale shape: ONE corpus pass — all three agreement counts and all
    * nine marginals are conditional sums in a single 1-row aggregate;
    * the three output rows are driver-free literal pivots of it. */
  def q223LfAgreement(spark: SparkSession, dir: String): DataFrame = {
    agreementOver(Tables.fanout(spark, Tables.documents(spark, dir)))
  }

  /** The pairwise-kappa report over ANY (doc_id, text) frame (also the
    * `lf_agreement()` TVF body). */
  private[graft] def agreementOver(docs: DataFrame): DataFrame = {
    val l = labeled(docs)
    def m(c: String, v: Int) = sum(when(col(c) === v, 1L).otherwise(0L))
    val wide = l.agg(
      count(lit(1)).as("n"),
      sum(when(col("lf_length") === col("lf_ttr"), 1L).otherwise(0L)).as("a_lt"),
      sum(when(col("lf_length") === col("lf_filler"), 1L).otherwise(0L)).as("a_lf"),
      sum(when(col("lf_ttr") === col("lf_filler"), 1L).otherwise(0L)).as("a_tf"),
      m("lf_length", -1).as("ln"), m("lf_length", 0).as("lz"), m("lf_length", 1).as("lp"),
      m("lf_ttr", -1).as("tn"), m("lf_ttr", 0).as("tz"), m("lf_ttr", 1).as("tp"),
      m("lf_filler", -1).as("fn"), m("lf_filler", 0).as("fz"), m("lf_filler", 1).as("fp"))
    wide.select(explode(array(
        struct(lit("length").as("lf_a"), lit("ttr").as("lf_b"), col("n"),
          col("a_lt").as("agree"),
          (col("ln") * col("tn") + col("lz") * col("tz") + col("lp") * col("tp")).as("s")),
        struct(lit("length").as("lf_a"), lit("filler").as("lf_b"), col("n"),
          col("a_lf").as("agree"),
          (col("ln") * col("fn") + col("lz") * col("fz") + col("lp") * col("fp")).as("s")),
        struct(lit("ttr").as("lf_a"), lit("filler").as("lf_b"), col("n"),
          col("a_tf").as("agree"),
          (col("tn") * col("fn") + col("tz") * col("fz") + col("tp") * col("fp")).as("s"))))
        .as("e"))
      .select(col("e.lf_a").as("lf_a"), col("e.lf_b").as("lf_b"),
        col("e.n").as("n"), col("e.agree").as("agree"),
        // κ can be NEGATIVE (worse-than-chance) and integer-division
        // rounding on negatives is engine-defined — so divide the
        // ABSOLUTE numerator and re-apply the sign (identical on both
        // engines by construction)
        expr("""CASE WHEN e.agree * e.n - e.s < 0
                THEN -((1000000 * (e.s - e.agree * e.n))
                       div greatest(e.n * e.n - e.s, 1))
                ELSE (1000000 * (e.agree * e.n - e.s))
                     div greatest(e.n * e.n - e.s, 1) END""")
          .as("kappa_micro"))
      .orderBy("lf_a", "lf_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q203_weak_label_matrix" -> (q203WeakLabelMatrix _),
    "q223_lf_agreement" -> (q223LfAgreement _))

  /** The shared per-document LF CTE chain (also the q204 stream
    * oracle's body). */
  private[graft] def perDocOracleSql: String =
    s"""t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nd,
       |    len(list_filter(w, x -> x IN (${FillerWords.map(w => s"'$w'").mkString(", ")}))) AS nf
       |  FROM t),
       |m AS (
       |  SELECT doc_id, n,
       |    (1000000 * nd) // greatest(n, 1) AS ttr_micro,
       |    (1000000 * nf) // greatest(n, 1) AS fil_micro
       |  FROM f),
       |l AS (
       |  SELECT doc_id,
       |    CASE WHEN n >= $LenHi THEN 1 WHEN n <= $LenLo THEN -1 ELSE 0 END AS lf_length,
       |    CASE WHEN ttr_micro >= $TtrHiMicro THEN 1
       |         WHEN ttr_micro <= $TtrLoMicro THEN -1 ELSE 0 END AS lf_ttr,
       |    CASE WHEN fil_micro <= $FillerLoMicro THEN 1
       |         WHEN fil_micro >= $FillerHiMicro THEN -1 ELSE 0 END AS lf_filler
       |  FROM m),
       |v AS (
       |  SELECT doc_id, lf_length, lf_ttr, lf_filler,
       |    CASE WHEN lf_length + lf_ttr + lf_filler > 0 THEN 1
       |         WHEN lf_length + lf_ttr + lf_filler < 0 THEN -1 ELSE 0 END AS vote
       |  FROM l)""".stripMargin

  /** Full value oracle: the LF thresholds, vote, and matrix replayed
    * as integer CASE arithmetic. */
  val oracles: Map[String, String] = Map(
    "q203_weak_label_matrix" ->
      s"""WITH $perDocOracleSql,
         |s AS (
         |  SELECT vote, unnest(['filler', 'length', 'ttr']) AS lf,
         |    unnest([lf_filler, lf_length, lf_ttr]) AS v
         |  FROM v)
         |SELECT lf,
         |  CAST(sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
         |  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  CAST(sum(CASE WHEN v = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         |  CAST(sum(CASE WHEN v <> 0 AND vote <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_decided,
         |  CAST(sum(CASE WHEN v <> 0 AND vote <> 0 AND v = vote THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         |  CAST((1000000 * sum(CASE WHEN v <> 0 AND vote <> 0 AND v = vote THEN 1 ELSE 0 END))
         |    // greatest(sum(CASE WHEN v <> 0 AND vote <> 0 THEN 1 ELSE 0 END), 1)
         |    AS BIGINT) AS agreement_micro
         |FROM s GROUP BY lf ORDER BY lf""".stripMargin,
    // q223: the same per-doc CTEs into ONE wide aggregate, then three
    // literal pivots; κ via the sign-stable absolute-numerator division
    "q223_lf_agreement" -> {
      def kappa(a: String, s: String) =
        s"""CAST(CASE WHEN $a * n - $s < 0
           |  THEN -((1000000 * ($s - $a * n)) // greatest(n * n - $s, 1))
           |  ELSE (1000000 * ($a * n - $s)) // greatest(n * n - $s, 1)
           |  END AS BIGINT)""".stripMargin
      val sLt = "(ln * tn + lz * tz + lp * tp)"
      val sLf = "(ln * fn + lz * fz + lp * fp)"
      val sTf = "(tn * fn + tz * fz + tp * fp)"
      s"""WITH $perDocOracleSql,
         |w AS (
         |  SELECT count(*) AS n,
         |    sum(CASE WHEN lf_length = lf_ttr THEN 1 ELSE 0 END) AS a_lt,
         |    sum(CASE WHEN lf_length = lf_filler THEN 1 ELSE 0 END) AS a_lf,
         |    sum(CASE WHEN lf_ttr = lf_filler THEN 1 ELSE 0 END) AS a_tf,
         |    sum(CASE WHEN lf_length = -1 THEN 1 ELSE 0 END) AS ln,
         |    sum(CASE WHEN lf_length = 0 THEN 1 ELSE 0 END) AS lz,
         |    sum(CASE WHEN lf_length = 1 THEN 1 ELSE 0 END) AS lp,
         |    sum(CASE WHEN lf_ttr = -1 THEN 1 ELSE 0 END) AS tn,
         |    sum(CASE WHEN lf_ttr = 0 THEN 1 ELSE 0 END) AS tz,
         |    sum(CASE WHEN lf_ttr = 1 THEN 1 ELSE 0 END) AS tp,
         |    sum(CASE WHEN lf_filler = -1 THEN 1 ELSE 0 END) AS fn,
         |    sum(CASE WHEN lf_filler = 0 THEN 1 ELSE 0 END) AS fz,
         |    sum(CASE WHEN lf_filler = 1 THEN 1 ELSE 0 END) AS fp
         |  FROM v)
         |SELECT 'length' AS lf_a, 'ttr' AS lf_b, CAST(n AS BIGINT) AS n,
         |  CAST(a_lt AS BIGINT) AS agree, ${kappa("a_lt", sLt)} AS kappa_micro
         |FROM w
         |UNION ALL
         |SELECT 'length', 'filler', CAST(n AS BIGINT), CAST(a_lf AS BIGINT),
         |  ${kappa("a_lf", sLf)}
         |FROM w
         |UNION ALL
         |SELECT 'ttr', 'filler', CAST(n AS BIGINT), CAST(a_tf AS BIGINT),
         |  ${kappa("a_tf", sTf)}
         |FROM w
         |ORDER BY lf_a, lf_b""".stripMargin
    })
}
