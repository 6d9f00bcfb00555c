package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}

/** INCREMENTAL ADMISSION — the continuous-ingest front door of the
  * curation pipeline. The composed pipeline (q228/q229) answers "curate
  * this corpus from scratch"; a production pipeline mostly faces the
  * other question: a NEW BATCH of documents arrives and each one must
  * be admitted or rejected against the already-materialized corpus
  * store, without re-running curation over 100 TB. This operator runs
  * the per-document screens of the batch pipeline, in the same order
  * and with the same arithmetic, but each dedup screen probes the
  * STORE-SIDE artifact the engine already maintains incrementally
  * (q100 signatures, q116 token stats, q149 dHashes, q170 IVF lists):
  *
  *   1. `empty_text`      — zero tokens (the pipeline's stage-1 rule)
  *   2. `low_quality`     — q23's single-rounded score below the q228
  *                          floor ([[Curation.QualityFloorMicro]])
  *   3. `exact_duplicate` — content fingerprint already in the store
  *                          (hash-keyed membership against the store's
  *                          fingerprint index)
  *   4. `batch_duplicate` — an EARLIER arriving document (smaller
  *                          doc_id) in this batch has the same
  *                          fingerprint; fp-transitivity makes this
  *                          order-independent: copies of a stored text
  *                          are all `exact_duplicate`, copies of a new
  *                          text elect exactly one batch keeper
  *   5. `near_duplicate`  — shingle-Jaccard ≥ 0.6 against some STORE
  *                          document (LSH candidates × exact verify,
  *                          the q27 regime, restricted to
  *                          arriving × store pairs)
  *   6. `batch_near_duplicate` — lost the WITHIN-BATCH near-dup
  *                          election: the document near-dups another
  *                          arriving document and is not its group's
  *                          keeper. Groups are the q38 closure over the
  *                          batch-internal verified pairs; the keeper is
  *                          the minimum group member that SURVIVED
  *                          screens 1-5 (the ledger's alive3→alive4
  *                          re-election rule — a group whose naive
  *                          minimum was itself rejected, e.g. as a store
  *                          near-dup, must not drag its surviving
  *                          members down with it). With this screen the
  *                          admitted set is near-dup-free BY
  *                          CONSTRUCTION: two near-identical documents
  *                          arriving in the same crawl batch — exactly
  *                          where near-dups cluster — admit exactly one.
  *   7. `eval_reserved`   — the document belongs to the held-out eval
  *                          slice (routed to the benchmark store, never
  *                          the training corpus)
  *   8. `contaminated`    — shares ≥ 1 shingle with the eval set (q62's
  *                          screen, arriving side only)
  *   9. `admitted`
  *
  * The verdict is the FIRST failing screen in pipeline order — exactly
  * q229's outcome convention, so an admission verdict and a from-scratch
  * ledger outcome can be diffed 1:1: screens 5+6 together are the
  * ledger's near-dedup stage (`alive4`) with the pair graph split by
  * which side of the store boundary the counterpart sits on.
  *
  * The "arriving batch" is the deterministic `doc_id % 11 = 3` slice of
  * the corpus (the [[Corpus]] snapshot convention: fixture rules an
  * oracle reconstructs exactly); the store is the complement. Scale
  * shape: the arriving side is batch-sized by definition — every join
  * here is (arriving × index) with the store side keyed by fingerprint
  * or shingle hash (pre-partitioned when the [[SignatureStage]] stages
  * are persisted bucketed), the near-dup screen rides the cached
  * verified-pair artifact restricted pair-locally, the keeper election
  * is one fingerprint window over the BATCH only, and nothing ever
  * scans the store's text. Reference behavior studied:
  * freddiemo/data-pipeline-python-aws-cdk `data_extractor.py:14-89`
  * (the daily append-only ingest this screen gates) and
  * `sql/sample_athena_queries.sql:113-119` (the duplicate check run
  * as a post-hoc sweep there, at the door here).
  */
object Admission extends graft.QueryModule {

  /** Arriving-batch fixture rule: doc_id ≡ 3 (mod 11) — ~9% of the
    * corpus plays the day's ingest; disjoint from no other rule by
    * design (eval docs CAN arrive — rule 6 routes them). */
  val ArrivingMod = 11L
  val ArrivingRem = 3L

  private[graft] def isArriving: Column =
    col("doc_id") % ArrivingMod === ArrivingRem

  /** Row-local screen columns over a (doc_id, source, text) frame: token
    * count, distinct-token count, q23's quality score via the SHARED
    * [[Curation.qMicro]] expression (one definition for the admission
    * floor and the curation ledger — they cannot desync) and the
    * content fingerprint. Pure map work — the SAME projection serves
    * the batch path and the streaming screen. */
  private[graft] def screenCols(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    docs
      .select(col("doc_id"), col("source"),
        coalesce(col("text"), lit("")).as("text"))
      .select(col("doc_id"), col("source"), col("text"),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_dis"))
      .withColumn("q_micro", Curation.qMicro(col("n_tok"), col("n_dis")))
      .withColumn("fp", md5(trim(col("text"))))
  }

  /** First-failing-screen verdict over normalized flag columns
    * (`in_store`, `batch_keeper`, `near_hit`, `contam` — non-null
    * booleans; `bgrp`/`bgk` — the within-batch near-dup group label and
    * its surviving keeper, null off the pair graph). One shared
    * expression = the batch path and the streaming twin can never
    * disagree on priority order. The `bgk` comparison only decides for
    * rows that survived screens 1-5, where the group keeper is
    * guaranteed non-null (the row itself is a surviving member). */
  private[graft] def verdictExpr: Column =
    when(col("n_tok") === 0, "empty_text")
      .when(col("q_micro") < Curation.QualityFloorMicro, "low_quality")
      .when(col("in_store"), "exact_duplicate")
      .when(!col("batch_keeper"), "batch_duplicate")
      .when(col("near_hit"), "near_duplicate")
      .when(col("bgrp").isNotNull && col("doc_id") =!= col("bgk"),
        "batch_near_duplicate")
      .when(col("doc_id") % Dedup.EvalDocModulus === 0, "eval_reserved")
      .when(col("contam"), "contaminated")
      .otherwise("admitted")

  /** Survival of screens 1-5 — the electorate of the within-batch
    * keeper election (the ledger's "re-elect among survivors" rule). */
  private def survives15: Column =
    col("n_tok") > 0 && col("q_micro") >= Curation.QualityFloorMicro &&
      !col("in_store") && col("batch_keeper") && !col("near_hit")

  /** Verdict assembly over a screened arriving frame plus the probe
    * results: `storeFps` (distinct store fingerprints), `nearHitIds` /
    * `contamIds` (arriving doc_ids flagged by the respective screens)
    * and `batchLabels` — (doc_id, bgrp) group labels from the q38
    * closure over the WITHIN-BATCH verified pair list. The fingerprint
    * keeper election is a window over the arriving batch; the near-dup
    * keeper is the min surviving member per group — both batch-sized
    * (the pair graph is a subset of the batch), never store-sized. */
  private[graft] def verdictsOver(arrive: DataFrame, storeFps: DataFrame,
      nearHitIds: DataFrame, contamIds: DataFrame,
      batchLabels: DataFrame): DataFrame = {
    val flagged = arrive
      .withColumn("batch_keeper",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy("fp")))
      .join(storeFps.select(col("fp"), lit(true).as("in_store")), Seq("fp"), "left")
      .join(nearHitIds.select(col("doc_id"), lit(true).as("near_hit")),
        Seq("doc_id"), "left")
      .join(contamIds.select(col("doc_id"), lit(true).as("contam")),
        Seq("doc_id"), "left")
      .na.fill(false, Seq("in_store", "near_hit", "contam"))
      .join(batchLabels.select(col("doc_id"), col("bgrp")), Seq("doc_id"), "left")
    // keeper re-election among screen-1-5 survivors, per batch group:
    // pair-graph-sized aggregate joined back on the group label
    val keepers = flagged.filter(col("bgrp").isNotNull)
      .groupBy("bgrp")
      .agg(min(when(survives15, col("doc_id"))).as("bgk"))
    flagged.join(keepers, Seq("bgrp"), "left")
      .select(col("doc_id"), col("source"), col("n_tok").as("n_tokens"),
        col("q_micro"), verdictExpr.as("verdict"))
  }

  /** The screen over ANY documents-shaped frame with both probe inputs
    * computed from the frame itself — the `incremental_admission()` TVF
    * body (the [[Curation.tableLedger]] convention): pairs via the
    * exact-verified Jaccard join at the q27 threshold, contamination
    * via the bounded decontaminate over the same signature frame. */
  private[graft] def tableVerdicts(spark: SparkSession, docs: DataFrame): DataFrame = {
    val base = screenCols(docs)
    val sigs = Dedup.sigsOf(docs)
    val pairs = Dedup.jaccardPairs(sigs, 0.6).select("d1", "d2")
    val nearHitIds = pairs
      .select(col("d1").as("doc_id"), col("d2").as("other"))
      .unionAll(pairs.select(col("d2").as("doc_id"), col("d1").as("other")))
      .filter(col("doc_id") % ArrivingMod === ArrivingRem &&
        col("other") % ArrivingMod =!= ArrivingRem)
      .select("doc_id").distinct()
    val isEval = col("doc_id") % Dedup.EvalDocModulus === 0
    val contamIds = Dedup.decontaminate(spark,
        sigs.filter(isArriving && !isEval), sigs.filter(isEval))
      .select("doc_id")
    verdictsOver(base.filter(isArriving),
      base.filter(!isArriving).select("fp").distinct(), nearHitIds, contamIds,
      batchLabelsOf(spark, pairs))
      .orderBy("doc_id")
  }

  /** Within-batch near-dup group labels — (doc_id, bgrp) — from the q38
    * closure over the verified pairs whose BOTH endpoints arrive. The
    * batch-internal pair graph is batch-sized by definition, so the
    * closure is cheap regardless of store size. */
  private[graft] def batchLabelsOf(spark: SparkSession, pairs: DataFrame): DataFrame =
    Dedup.minLabelComponents(spark,
        pairs.filter(col("d1") % ArrivingMod === ArrivingRem &&
          col("d2") % ArrivingMod === ArrivingRem))
      .select(col("doc_id"), col("keeper").as("bgrp"))

  /** q234 — admission verdicts for the arriving batch against the
    * store: one row per arriving document with its first-failing screen
    * (or `admitted`). The near-dup screens ride the corpus's cached
    * verified-pair artifact ([[Dedup.verifiedPairs]]): cross-side pairs
    * feed the store screen, batch-internal pairs feed the within-batch
    * election ([[batchLabelsOf]]); contamination rides the bucketed
    * shingle stage exactly as q62 does, filtered to the arriving
    * side. */
  def q234IncrementalAdmission(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val base = screenCols(Tables.fanout(spark, Tables.documents(spark, dir)))
    val arrive = base.filter(isArriving)
    val storeFps = base.filter(!isArriving).select("fp").distinct()
    val pairs = Dedup.verifiedPairs(spark, dir).select("d1", "d2")
    // a verified pair with exactly one arriving endpoint = a store hit
    // for that endpoint; pair-list-sized, never corpus-sized
    val nearHitIds = pairs
      .select(col("d1").as("doc_id"), col("d2").as("other"))
      .unionAll(pairs.select(col("d2").as("doc_id"), col("d1").as("other")))
      .filter(col("doc_id") % ArrivingMod === ArrivingRem &&
        col("other") % ArrivingMod =!= ArrivingRem)
      .select("doc_id").distinct()
    val contamIds = Dedup.decontaminateExploded(spark,
        Dedup.shingleHashes(spark, dir)
          .filter(isArriving && col("doc_id") % Dedup.EvalDocModulus =!= 0),
        Dedup.shingleSigs(spark, dir)
          .filter(col("doc_id") % Dedup.EvalDocModulus === 0))
      .select("doc_id")
    verdictsOver(arrive, storeFps, nearHitIds, contamIds,
      batchLabelsOf(spark, pairs)).orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q234_incremental_admission" -> (q234IncrementalAdmission _))

  /** The whole screen replayed in SQL: q26's exact-Jaccard pair CTEs
    * split by the store boundary (cross-side pairs → the store near-dup
    * screen; batch-internal pairs → the recursive q38 closure feeding
    * the within-batch election), the store fingerprint set, the batch
    * keeper window, the survivor-keeper election and q62's
    * string-shingle contamination join — the same CASE priority as
    * [[verdictExpr]]. */
  private[graft] val admissionOracle: String = {
    val M = ArrivingMod; val R = ArrivingRem; val E = Dedup.EvalDocModulus
    s"""${Dedup.jaccardCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |jp AS MATERIALIZED (
       |  SELECT p.d1, p.d2
       |  FROM p JOIN n n1 ON p.d1 = n1.doc_id JOIN n n2 ON p.d2 = n2.doc_id
       |  WHERE round(CAST(inter AS DOUBLE) / (n1.n_sh + n2.n_sh - inter), 4) >= 0.6),
       |bedges AS MATERIALIZED (
       |  SELECT d1 AS s, d2 AS t FROM jp WHERE d1 % $M = $R AND d2 % $M = $R
       |  UNION ALL
       |  SELECT d2, d1 FROM jp WHERE d1 % $M = $R AND d2 % $M = $R),
       |breach(id, r) AS (
       |  SELECT DISTINCT s, s FROM bedges
       |  UNION
       |  SELECT e.s, breach.r FROM bedges e JOIN breach ON e.t = breach.id),
       |blab AS (SELECT id, min(r) AS bgrp FROM breach GROUP BY id),
       |f AS (
       |  SELECT doc_id, source,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CASE WHEN len(w) > 0 THEN
       |      CAST(round((least(len(w) / 100.0, 1.0) * 0.5 +
       |        len(list_distinct(w)) * 1.0 / len(w) * 0.5) * 10000) AS BIGINT)
       |    ELSE 0 END AS q_micro,
       |    md5(trim(coalesce(text, ''))) AS fp
       |  FROM (SELECT doc_id, source, text,
       |          list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
       |        FROM documents)),
       |arrive AS (SELECT * FROM f WHERE doc_id % $M = $R),
       |store AS (SELECT DISTINCT fp FROM f WHERE doc_id % $M <> $R),
       |keeper AS (
       |  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY fp) AS batch_keeper
       |  FROM arrive),
       |nearhit AS (
       |  SELECT DISTINCT CASE WHEN d1 % $M = $R THEN d1 ELSE d2 END AS doc_id
       |  FROM jp WHERE (d1 % $M = $R) <> (d2 % $M = $R)),
       |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % $E = 0),
       |cont AS (
       |  SELECT DISTINCT a.doc_id FROM sh a JOIN ev USING (s)
       |  WHERE a.doc_id % $M = $R AND a.doc_id % $E <> 0),
       |sv AS (
       |  SELECT a.doc_id, blab.bgrp,
       |    a.n_tok > 0 AND a.q_micro >= ${Curation.QualityFloorMicro}
       |      AND st.fp IS NULL AND k.batch_keeper AND nh.doc_id IS NULL AS s15
       |  FROM arrive a
       |  JOIN keeper k ON a.doc_id = k.doc_id
       |  LEFT JOIN store st ON a.fp = st.fp
       |  LEFT JOIN nearhit nh ON a.doc_id = nh.doc_id
       |  LEFT JOIN blab ON a.doc_id = blab.id),
       |bgk AS (
       |  SELECT bgrp, min(CASE WHEN s15 THEN doc_id END) AS gk
       |  FROM sv WHERE bgrp IS NOT NULL GROUP BY bgrp)
       |SELECT a.doc_id, a.source, a.n_tok AS n_tokens, a.q_micro,
       |  CASE WHEN a.n_tok = 0 THEN 'empty_text'
       |       WHEN a.q_micro < ${Curation.QualityFloorMicro} THEN 'low_quality'
       |       WHEN st.fp IS NOT NULL THEN 'exact_duplicate'
       |       WHEN NOT k.batch_keeper THEN 'batch_duplicate'
       |       WHEN nh.doc_id IS NOT NULL THEN 'near_duplicate'
       |       WHEN sv.bgrp IS NOT NULL AND a.doc_id <> bg.gk
       |         THEN 'batch_near_duplicate'
       |       WHEN a.doc_id % $E = 0 THEN 'eval_reserved'
       |       WHEN c.doc_id IS NOT NULL THEN 'contaminated'
       |       ELSE 'admitted' END AS verdict
       |FROM arrive a
       |JOIN keeper k ON a.doc_id = k.doc_id
       |LEFT JOIN store st ON a.fp = st.fp
       |LEFT JOIN nearhit nh ON a.doc_id = nh.doc_id
       |LEFT JOIN sv ON a.doc_id = sv.doc_id
       |LEFT JOIN bgk bg ON sv.bgrp = bg.bgrp
       |LEFT JOIN cont c ON a.doc_id = c.doc_id
       |ORDER BY a.doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q234_incremental_admission" -> admissionOracle)
}
