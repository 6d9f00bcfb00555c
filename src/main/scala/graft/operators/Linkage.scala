package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}

/** CROSS-TABLE RECORD LINKAGE (SURVEY §2.9 dedup family, the entity-
  * resolution complement of the self-join near-dup operators): assign
  * each record of a NEW table its best content match in a REGISTRY
  * table — the recrawl identity-assignment problem (same page under a
  * new crawl id, syndicated copy under a new outlet, re-ingested row
  * under a regenerated key). Every dedup operator so far (q26/q27/q49/
  * q99/q176) mines pairs WITHIN one relation; linkage is the asymmetric
  * two-relation form: a fuzzy top-1 join, not a pair mine.
  *
  * The fixture linkage runs the [[SnapshotFixture]] corpus versions —
  * registry = `documents_v1_growth` (last crawl, footer edits on the
  * changed slice), new side = `documents_v2` (current crawl) — and the
  * doc_id equality that the linker NEVER SEES is held-out ground truth,
  * so the output carries a per-link `is_true` audit column: false rows
  * are either genuine content collisions (the corpus' planted
  * near-duplicates make some distinct records content-identical —
  * irreducible for any content-only linker) or linker mistakes, and the
  * spec bounds precision from exactly this column.
  *
  * Scale shape: candidate generation is PREFIX FILTERING (Bayardo
  * et al. WWW'07), the cross-table form of q99 — any pair with
  * J ≥ τ must share a prefix element under the global shingle-hash
  * order, so each side explodes only its ~(1−τ) prefix fraction and the
  * join never goes all-pairs. Verify is pair-local ([[Dedup]]'s PPJoin
  * shape: `array_intersect` over the two DISTINCT-shingle-hash arrays
  * riding the candidate row). The best-match election is one window
  * over the τ-passing candidates — candidate-sized, never corpus-sized.
  * Prefix filtering is provably lossless at τ, so the DuckDB oracle
  * replays plain blocking (all shared-shingle pairs) and MUST land on
  * the identical link set.
  *
  * Parity: similarity is integer micros — `(1e6·inter) div union` with
  * the τ gate as an integer cross-multiply (`1e6·inter ≥ τµ·union`), so
  * no float ever orders or filters; ties break (jac DESC, old_id ASC)
  * via row_number on both engines. */
object Linkage extends graft.QueryModule {

  /** Linkage acceptance threshold (Jaccard, micros): below this a new
    * record is a birth, not a match. Lower than the 0.6 dedup threshold
    * on purpose — linkage wants the footer-edited recrawls too. */
  val LinkTauMicro = 500000L

  /** q213 — link the current crawl against the previous-crawl registry;
    * one row per new doc that found a τ-passing match. */
  def q213RecordLinkage(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val reg = SnapshotFixture.table(spark, dir, "documents_v1_growth")
      .select(col("doc_id").as("old_id"), col("text"))
    val crawl = SnapshotFixture.table(spark, dir, "documents_v2")
      .select(col("doc_id").as("new_id"), col("text"))
    bestMatch(Tables.fanout(spark, reg), Tables.fanout(spark, crawl))
      .withColumn("is_true", col("new_id") === col("old_id"))
      .orderBy("new_id")
  }

  /** The `record_link(registry, crawl)` TVF body: both inputs are
    * documents-shaped (doc_id, text). */
  private[graft] def linkTables(reg: DataFrame, crawl: DataFrame): DataFrame =
    bestMatch(
      reg.select(col("doc_id").as("old_id"), col("text")),
      crawl.select(col("doc_id").as("new_id"), col("text")))

  /** Best-match linkage over ANY two (id, text) frames (also the
    * `record_link()` TVF body): top-1 registry match per new row among
    * candidates with Jaccard ≥ τ. Columns: new_id, old_id, jac_micro,
    * n_candidates. */
  private[graft] def bestMatch(reg: DataFrame, crawl: DataFrame): DataFrame = {
    val sr = Dedup.sigsOf(reg.select(col("old_id").as("doc_id"), col("text")))
      .select(col("doc_id").as("old_id"), col("hs").as("hs_r"), col("n_sh").as("n_r"))
    val sn = Dedup.sigsOf(crawl.select(col("new_id").as("doc_id"), col("text")))
      .select(col("doc_id").as("new_id"), col("hs").as("hs_n"), col("n_sh").as("n_n"))
    val tau = LinkTauMicro.toDouble / 1000000.0
    def prefix(sigs: DataFrame, id: String, hs: String, n: String): DataFrame = {
      val prefLen = (col(n) - ceil(col(n) * tau) + 1).cast("int")
      sigs.select(col(id), explode(slice(array_sort(col(hs)), lit(1), prefLen)).as("h"))
    }
    val cands = prefix(sn, "new_id", "hs_n", "n_n")
      .join(prefix(sr, "old_id", "hs_r", "n_r"), Seq("h"))
      .select("new_id", "old_id").distinct()
    val scored = cands
      .join(sn, Seq("new_id")).join(sr, Seq("old_id"))
      .withColumn("inter", size(array_intersect(col("hs_n"), col("hs_r"))).cast("long"))
      .withColumn("union_", col("n_n") + col("n_r") - col("inter"))
      .filter(col("inter") * lit(1000000L) >= lit(LinkTauMicro) * col("union_"))
      // integer division on both engines — no double ever touches the
      // score that orders the election
      .withColumn("jac_micro", expr("(1000000 * inter) div union_"))
    scored
      .withColumn("n_candidates", count(lit(1)).over(Window.partitionBy("new_id")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("new_id").orderBy(desc("jac_micro"), col("old_id"))))
      .filter(col("rk") === 1)
      .select(col("new_id"), col("old_id"), col("jac_micro"),
        col("n_candidates").cast("long").as("n_candidates"))
  }

  /** q220 — TIERED record linkage: the production cost shape of q213.
    * On a recrawl, the overwhelming majority of records are byte-
    * identical to their registry row — paying the shingle join for
    * them is waste. Tier 1 resolves exact content matches with one
    * fingerprint equi-join (md5, the q24 convention; ties → lowest
    * old_id); ONLY the residue — new and edited content, the
    * change-sized slice — enters the q213 fuzzy prefix join. At a
    * 100 TB recrawl with ~1% churn the fuzzy tier's input is ~1% of
    * the corpus, so the expensive stage rides the DIFF (the q149/q100
    * incremental posture applied to linkage).
    *
    * Same output contract as q213 plus the `tier` column; exact-tier
    * rows carry jac_micro = 1e6 by definition. A doc whose text
    * exactly matches a DIFFERENT registry record (the corpus' planted
    * duplicates) resolves in tier 1 with is_true = false — the
    * irreducible content-collision case, now visible per tier. */
  def q220TieredLinkage(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val reg = SnapshotFixture.table(spark, dir, "documents_v1_growth")
      .select(col("doc_id").as("old_id"), col("text"))
    val crawl = SnapshotFixture.table(spark, dir, "documents_v2")
      .select(col("doc_id").as("new_id"), col("text"))
    tieredLink(Tables.fanout(spark, reg), Tables.fanout(spark, crawl))
      .withColumn("is_true", col("new_id") === col("old_id"))
      .orderBy("new_id")
  }

  /** The tiered assignment over ANY two (id, text) frames. */
  private[graft] def tieredLink(reg: DataFrame, crawl: DataFrame): DataFrame = {
    val regFp = reg.select(col("old_id"), md5(col("text")).as("fp"))
    val crawlFp = crawl.select(col("new_id"), md5(col("text")).as("fp"))
    // localCheckpoint (the q175/q193 convention): the exact frame feeds
    // BOTH the output union and the residue anti-join — without it the
    // fingerprint join runs twice; the materialized frame is id-pairs
    // only (2 longs per resolved row), bounded by the crawl
    val exact = crawlFp.join(regFp, Seq("fp"))
      .groupBy("new_id").agg(min(col("old_id")).as("old_id"))
      .select(col("new_id"), col("old_id"),
        lit(1000000L).as("jac_micro"), lit("exact").as("tier"))
      .transform(graft.core.Materialize.once(_))
    // the fuzzy tier's INPUT is the residue — change-sized, never the
    // crawl; the registry side stays whole (an edited doc may best-match
    // a registry row that also resolved exactly for another doc)
    val residue = crawl.join(exact.select("new_id"), Seq("new_id"), "left_anti")
    val fuzzy = bestMatch(reg, residue)
      .select(col("new_id"), col("old_id"), col("jac_micro"),
        lit("fuzzy").as("tier"))
    exact.unionByName(fuzzy)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q213_record_linkage" -> (q213RecordLinkage _),
    "q220_tiered_linkage" -> (q220TieredLinkage _))

  /** Full value oracle: both snapshot derivations reconstructed from the
    * version rules (the [[SnapshotFixture]] contract — the oracle cannot
    * see the materialized parquet), plain shared-shingle blocking (prefix
    * filtering is lossless at τ, so the unpruned join is the same set),
    * integer-micro Jaccard with the cross-multiplied τ gate, and the
    * (jac DESC, old_id) window election. */
  /** The two snapshot derivations (the [[SnapshotFixture]] rules) as
    * oracle CTEs — shared by q213 and q220. */
  private lazy val versionCtes: String = {
    import Corpus._
    s"""v1 AS (
       |  SELECT doc_id AS old_id,
       |    CASE WHEN doc_id % $ChangedMod = 0 THEN text || '$ChangedFooter'
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id % $RemovedInV2Mod <> $RemovedInV2Rem),
       |v2 AS (
       |  SELECT doc_id AS new_id, text
       |  FROM documents WHERE doc_id % $DroppedFromV1Mod <> $DroppedFromV1Rem)""".stripMargin
  }

  /** Blocking + scoring + election CTEs over registry `v1` and a crawl
    * relation (`v2` for q213, the exact-tier residue for q220). */
  private def matchCtes(crawlRel: String): String =
    s"""s1 AS (
       |  SELECT old_id, list_distinct(list_transform(
       |      range(1, greatest(len(w) - 4, 1) + 1),
       |      i -> array_to_string(list_slice(w, CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' '))) AS sh
       |  FROM (SELECT old_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM v1)),
       |s2 AS (
       |  SELECT new_id, list_distinct(list_transform(
       |      range(1, greatest(len(w) - 4, 1) + 1),
       |      i -> array_to_string(list_slice(w, CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' '))) AS sh
       |  FROM (SELECT new_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM $crawlRel)),
       |o1 AS (SELECT old_id, len(sh) AS n_r, unnest(sh) AS s FROM s1),
       |o2 AS (SELECT new_id, len(sh) AS n_n, unnest(sh) AS s FROM s2),
       |p AS (
       |  SELECT new_id, old_id, any_value(n_n) AS n_n, any_value(n_r) AS n_r,
       |    count(*) AS inter
       |  FROM o2 JOIN o1 USING (s) GROUP BY 1, 2),
       |sc AS (
       |  SELECT new_id, old_id,
       |    CAST((1000000 * inter) // (n_n + n_r - inter) AS BIGINT) AS jac_micro
       |  FROM p WHERE 1000000 * inter >= $LinkTauMicro * (n_n + n_r - inter)),
       |r AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY new_id ORDER BY jac_micro DESC, old_id) AS rk,
       |    count(*) OVER (PARTITION BY new_id) AS n_candidates
       |  FROM sc)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q213_record_linkage" ->
      s"""WITH $versionCtes,
         |${matchCtes("v2")}
         |SELECT new_id, old_id, jac_micro, CAST(n_candidates AS BIGINT) AS n_candidates,
         |  new_id = old_id AS is_true
         |FROM r WHERE rk = 1 ORDER BY new_id""".stripMargin,
    // q220: md5-equality tier first (ties → lowest old_id), then the
    // SAME match CTEs over only the unresolved residue
    "q220_tiered_linkage" ->
      s"""WITH $versionCtes,
         |x AS (
         |  SELECT v2.new_id, min(v1.old_id) AS old_id
         |  FROM v2 JOIN v1 ON md5(v2.text) = md5(v1.text)
         |  GROUP BY v2.new_id),
         |res AS (
         |  SELECT new_id, text FROM v2
         |  WHERE new_id NOT IN (SELECT new_id FROM x)),
         |${matchCtes("res")}
         |SELECT new_id, old_id, CAST(1000000 AS BIGINT) AS jac_micro,
         |  'exact' AS tier, new_id = old_id AS is_true
         |FROM x
         |UNION ALL
         |SELECT new_id, old_id, jac_micro, 'fuzzy' AS tier,
         |  new_id = old_id AS is_true
         |FROM r WHERE rk = 1
         |ORDER BY new_id""".stripMargin)
}
