package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** PII detection + redaction over the documents corpus — the scrubbing
  * stage every training-data pipeline runs before anything else sees the
  * text (emails, phone numbers, IP addresses → typed placeholders, with
  * per-category match counts for the compliance report).
  *
  * Scale shape: pure map-side `regexp_extract_all` / `regexp_replace`
  * chains over codegen'd built-ins — zero shuffles, zero UDFs, linear in
  * corpus bytes, embarrassingly parallel over document partitions. The
  * regexes avoid lookarounds and backreferences so they run identically
  * on Java's engine and RE2 (and stay in the linear-time subset).
  */
object Privacy extends graft.QueryModule {

  /** Conservative PII patterns (shared verbatim with the oracle SQL —
    * RE2/Java-common subset: no lookaround, no backrefs). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  val EmailTag = "<EMAIL>"
  val PhoneTag = "<PHONE>"
  val IpTag = "<IP>"

  /** Three-phase scrub of one text column: redact emails, then phone
    * numbers, then IPs, counting matches on the text each phase actually
    * sees (so a phase never double-counts bytes an earlier phase already
    * replaced). Returns (n_emails, n_phones, n_ips, redacted). */
  def scrub(text: Column): (Column, Column, Column, Column) = {
    val nEmails = size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long")
    val t1 = regexp_replace(text, EmailRe, EmailTag)
    val nPhones = size(regexp_extract_all(t1, lit(PhoneRe), lit(0))).cast("long")
    val t2 = regexp_replace(t1, PhoneRe, PhoneTag)
    val nIps = size(regexp_extract_all(t2, lit(IpRe), lit(0))).cast("long")
    val t3 = regexp_replace(t2, IpRe, IpTag)
    (nEmails, nPhones, nIps, t3)
  }

  /** The synthetic corpus carries no PII, so the fixture query plants a
    * deterministic contact trailer per document (a pure function of
    * doc_id, reconstructed identically by the oracle) and scrubs the
    * combined text. The operator itself ([[scrub]]) takes any text
    * column. */
  private[operators] def withPlantedPii(text: Column, docId: Column): Column =
    concat(text,
      lit(" contact user"), docId.cast("string"), lit("@example.com"),
      lit(" tel 555-"), lpad((docId % 1000).cast("string"), 3, "0"),
      lit("-"), lpad((docId % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (docId % 256).cast("string"),
      lit(".0."), (docId % 100).cast("string"))

  /** q67 — PII redaction report: per-document counts by category plus the
    * redacted text's length and fingerprint (the downstream stages consume
    * the redacted fingerprint; shipping the full scrubbed text back to the
    * gate would just re-test parquet IO). */
  /** [[scrub]] applied to a (doc_id, text) frame — per-doc category
    * counts + redacted-text fingerprint. Map-only at any scale. */
  def redact(docs: DataFrame, text: org.apache.spark.sql.Column): DataFrame = {
    val (nEmails, nPhones, nIps, redacted) = scrub(text)
    docs.select(
      col("doc_id"),
      nEmails.as("n_emails"),
      nPhones.as("n_phones"),
      nIps.as("n_ips"),
      length(redacted).cast("long").as("redacted_len"),
      md5(redacted).as("redacted_fp"))
      .orderBy("doc_id")
  }

  def q67PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    redact(Tables.documents(spark, dir), withPlantedPii(col("text"), col("doc_id")))
  }

  /** k-anonymity threshold for [[q101KAnonymity]]: a quasi-identifier
    * cell smaller than this re-identifies its members. */
  val KAnonThreshold = 5L

  /** q101 — k-anonymity audit over the customer dimension: group by the
    * quasi-identifier (market segment × nation), flag every cell whose
    * population is below [[KAnonThreshold]] — the release-readiness
    * check a privacy review runs before an extract ships (the
    * structured-data complement of q67's free-text redaction).
    *
    * Shape: one partial-agged shuffle on the QI key; the flagging is a
    * map over the cell frame (cells = segments × nations, tiny at any
    * scale). A 100 TB fact table audits the same way: the cell frame,
    * not the row count, bounds everything after the first aggregate. */
  /** k-anonymity audit over ANY frame and quasi-identifier column set —
    * the generic entry the `k_anonymity(k)` TVF resolves;
    * [[q101KAnonymity]] runs it on the customer⋈nation QI. */
  def kAnonymity(rows: DataFrame, qi: Seq[String], k: Long): DataFrame = {
    require(qi.nonEmpty, "k-anonymity needs at least one quasi-identifier column")
    rows
      .groupBy(qi.map(col): _*)
      .agg(count(lit(1)).as("k"))
      .select(qi.map(col) ++ Seq(col("k"), (col("k") < k).as("at_risk")): _*)
      .orderBy(qi.map(col): _*)
  }

  def q101KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    kAnonymity(
      Tables.customer(spark, dir)
        .join(Tables.nation(spark, dir),
          col("c_nationkey") === col("n_nationkey")),
      Seq("c_mktsegment", "n_name"), KAnonThreshold)
  }

  /** l-diversity threshold for [[q225LDiversity]]: a quasi-identifier
    * cell whose sensitive attribute takes fewer than this many distinct
    * values is open to a homogeneity attack even when k-anonymous. */
  val LDiversityThreshold = 3L

  /** l-diversity audit over ANY frame, QI column set and sensitive
    * column (Machanavajjhala et al. 2006: k-anonymity protects
    * membership, l-diversity protects the VALUE — a k=50 cell whose 50
    * members all share one account-balance band still leaks it). Same
    * cell-grain shape as [[kAnonymity]]: one partial-agged shuffle, the
    * cell frame bounds everything after. */
  def lDiversity(rows: DataFrame, qi: Seq[String], sensitive: Column,
      l: Long): DataFrame = {
    require(qi.nonEmpty, "l-diversity needs at least one quasi-identifier column")
    rows
      .groupBy(qi.map(col): _*)
      .agg(count(lit(1)).as("k"),
        countDistinct(sensitive).as("l_distinct"))
      .select(qi.map(col) ++ Seq(col("k"), col("l_distinct"),
        (col("l_distinct") < l).as("at_risk")): _*)
      .orderBy(qi.map(col): _*)
  }

  /** q225 — l-diversity over the q101 quasi-identifier with the
    * account-balance BAND as the sensitive attribute. Band arithmetic
    * is exact integer cents (the tie-proof convention), SHIFTED
    * non-negative before the integer division — negative-operand `div`
    * rounding is engine-defined, and acctbal goes to −999.99. */
  def q225LDiversity(spark: SparkSession, dir: String): DataFrame = {
    lDiversity(
      Tables.customer(spark, dir)
        .join(Tables.nation(spark, dir),
          col("c_nationkey") === col("n_nationkey")),
      Seq("c_mktsegment", "n_name"),
      expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000"),
      LDiversityThreshold)
  }

  /** q178 release parameters: ε = 1 (micro-units) and the release-run
    * salt that seeds the noise draw. Sensitivity of a per-source doc
    * count under add/remove-one-document neighbors is 1. */
  val DpEpsilonMicros = 1000000L
  val DpSalt = "dp:v1:"

  /** 2⁴⁸ — the modulus of the 12-nibble md5 uniform draw. */
  private val DpH = 1L << 48

  /** q178 — DIFFERENTIALLY-PRIVATE RELEASE of the per-source document
    * counts (Dwork et al. 2006 Laplace mechanism): the third privacy
    * surface beside redaction (q67, removes identifiers from content)
    * and k-anonymity (q101, audits quasi-identifier cells) — this one
    * protects the AGGREGATE ITSELF, the published statistic a corpus
    * datasheet exposes about its sources. `released = n + Lap(1/ε)`,
    * sensitivity 1 per document.
    *
    * The noise draw is DERANDOMIZED for engine parity (the
    * [[Sampling]] content-hash convention): u comes from 48 bits of
    * `md5(salt ‖ source)` — a fixed draw per (release, key), which is
    * how DP deployments make releases reproducible ACROSS REGENERATION
    * (fresh noise per re-run would let an observer average the noise
    * away; a keyed PRF draw is standard practice, with the salt in the
    * secret). Inverse-CDF: with t = 2h − 2⁴⁸,
    * `noise = −sgn(t)·(1/ε)·ln((2⁴⁸ − |t|)/2⁴⁸)`; the one
    * transcendental is quantized immediately —
    * `floor(−log2(arg)·693147 + 0.5)` micro-units, log2·ln2 = ln — on
    * both engines (the established log2-micro contract). The argument
    * is an exact dyadic rational (int64 over 2⁴⁸), so both engines
    * evaluate log2 of the SAME double.
    *
    * Scale shape: one partial-agged count shuffle; noise is a map over
    * the source-grain cell frame (tiny at any corpus size). */
  def q178DpRelease(spark: SparkSession, dir: String): DataFrame = {
    dpRelease(Tables.documents(spark, dir))
  }

  /** The release over ANY frame with a `source` column — also the
    * `dp_release()` TVF body. */
  private[graft] def dpRelease(docs: DataFrame): DataFrame = {
    val h = conv(substring(md5(concat(lit(DpSalt), col("source"))), 1, 12), 16, 10)
      .cast("long")
    docs
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("t", h * 2 - DpH)
      .withColumn("arg",
        greatest(lit(DpH) - abs(col("t")), lit(1L)).cast("double") / lit(DpH.toDouble))
      .withColumn("noise_micro",
        (when(col("t") >= 0, lit(1L)).otherwise(lit(-1L)) *
          floor(-log2(col("arg")) * lit(693147.0) + lit(0.5)).cast("long")).as("noise_micro"))
      .select(col("source"), col("n_docs"),
        lit(DpEpsilonMicros).as("epsilon_micro"),
        col("noise_micro"),
        (col("n_docs") * 1000000L + col("noise_micro")).as("released_micro"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q101_k_anonymity" -> (q101KAnonymity _),
    "q225_l_diversity" -> (q225LDiversity _),
    "q67_pii_redact" -> (q67PiiRedact _),
    "q178_dp_release" -> (q178DpRelease _))

  // DuckDB single-quoted strings do no backslash processing, so the
  // patterns interpolate verbatim — the same bytes Spark's Java engine
  // compiles.
  private val emailSql = EmailRe
  private val phoneSql = PhoneRe
  private val ipSql = IpRe

  /** The 48-bit value of the first 12 md5 hex nibbles (the q154 hex12
    * move): nibble i × 16^(11−i). */
  private def hex12Sql(hx: String): String = "(" + (0 until 12).map { i =>
    s"(strpos('0123456789abcdef', substr($hx, ${1 + i}, 1)) - 1) * ${1L << (4 * (11 - i))}"
  }.mkString(" +\n     ") + ")"

  val oracles: Map[String, String] = Map(
    "q178_dp_release" -> {
      val h = hex12Sql(s"md5('$DpSalt' || source)")
      s"""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         |t AS (SELECT source, n_docs, $h * 2 - $DpH AS t FROM c),
         |z AS (
         |  SELECT source, n_docs, t,
         |    CASE WHEN t >= 0 THEN 1 ELSE -1 END
         |      * CAST(floor(-log2(greatest($DpH - abs(t), 1) / $DpH.0) * 693147 + 0.5)
         |             AS BIGINT) AS noise_micro
         |  FROM t)
         |SELECT source, n_docs, CAST($DpEpsilonMicros AS BIGINT) AS epsilon_micro,
         |  noise_micro, n_docs * 1000000 + noise_micro AS released_micro
         |FROM z ORDER BY source""".stripMargin
    },
    "q101_k_anonymity" ->
      s"""SELECT c_mktsegment, n_name, count(*) AS k,
         |  count(*) < $KAnonThreshold AS at_risk
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY c_mktsegment, n_name
         |ORDER BY c_mktsegment, n_name""".stripMargin,
    // q225: the same QI cells; sensitive band = exact shifted cents
    "q225_l_diversity" ->
      s"""SELECT c_mktsegment, n_name, count(*) AS k,
         |  CAST(count(DISTINCT (CAST(round(c_acctbal * 100) AS BIGINT) + 100000)
         |    // 100000) AS BIGINT) AS l_distinct,
         |  count(DISTINCT (CAST(round(c_acctbal * 100) AS BIGINT) + 100000)
         |    // 100000) < $LDiversityThreshold AS at_risk
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY c_mktsegment, n_name
         |ORDER BY c_mktsegment, n_name""".stripMargin,
    "q67_pii_redact" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |      || ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
         |      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.0.' || CAST(doc_id % 100 AS VARCHAR) AS t0
         |  FROM documents),
         |s1 AS (
         |  SELECT doc_id, t0,
         |    len(regexp_extract_all(t0, '$emailSql')) AS n_emails,
         |    regexp_replace(t0, '$emailSql', '$EmailTag', 'g') AS t1
         |  FROM p),
         |s2 AS (
         |  SELECT doc_id, n_emails,
         |    len(regexp_extract_all(t1, '$phoneSql')) AS n_phones,
         |    regexp_replace(t1, '$phoneSql', '$PhoneTag', 'g') AS t2
         |  FROM s1),
         |s3 AS (
         |  SELECT doc_id, n_emails, n_phones,
         |    len(regexp_extract_all(t2, '$ipSql')) AS n_ips,
         |    regexp_replace(t2, '$ipSql', '$IpTag', 'g') AS t3
         |  FROM s2)
         |SELECT doc_id,
         |  CAST(n_emails AS BIGINT) AS n_emails,
         |  CAST(n_phones AS BIGINT) AS n_phones,
         |  CAST(n_ips AS BIGINT) AS n_ips,
         |  CAST(length(t3) AS BIGINT) AS redacted_len,
         |  md5(t3) AS redacted_fp
         |FROM s3 ORDER BY doc_id""".stripMargin)
}
