package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** THE COMPOSED CURATION PIPELINE (round-11 verdict item 3): the one
  * job an actual 100 TB training-data run executes, chaining the
  * engine's curation stages END-TO-END over the same corpus —
  *
  *   ingest → quality screen (q23's score) → exact dedup (q24's
  *   fingerprint groups) → near dedup (q27 pairs → q38 closure,
  *   keeper re-elected among survivors) → decontaminate (q62's eval
  *   overlap + the eval slice itself) → temperature mix/reweight
  *   (q64) → sequence pack (q63's budget arithmetic) → shard export
  *   (q128's content-hash shards)
  *
  * — and emitting the PER-STAGE LINEAGE MANIFEST (docs and tokens in
  * and out, drop counts, drop reasons) that makes the run auditable.
  * Every stage reuses the exact arithmetic of its standalone query
  * (same thresholds, same single-rounded scores, same hash draws), so
  * the composed pipeline is definitionally consistent with the
  * per-operator gates; what is NEW here is the chaining semantics:
  * each stage filters the SURVIVORS of the previous one, and the
  * near-dup keeper is re-elected among survivors (the group minimum
  * that is still alive), because the standalone q38 keeper may itself
  * have been dropped by the quality screen upstream.
  *
  * Scale shape: ONE corpus scan builds the per-document ledger
  * ([[ledger]]); the exact-dedup election is a fingerprint-partitioned
  * window (the shuffle any exact dedup pays); the near-dup election is
  * pair-graph-sized (labels and group minima never touch non-graph
  * docs); contamination is the q62 bounded-broadcast join off the
  * shared [[SignatureStage]] stages; mix rates are a sources-sized
  * aggregate broadcast back; packing and sharding are one grouped
  * aggregate each. The manifest itself is 8 rows. [[manifest]]
  * localCheckpoints the ledger before aggregating it three ways — the
  * materialized ledger IS the curation run's record (a deployment
  * writes it next to the corpus), not a fixture shortcut.
  */
object Curation extends graft.QueryModule {

  /** Quality floor in score ten-thousandths: q23's "low" tier boundary
    * (score < 0.4) — the screen drops exactly the docs q23 tiers low. */
  val QualityFloorMicro = 4000L

  /** q23's single-rounded quality score in ten-thousandths over token /
    * distinct-token counts — THE ONE quality arithmetic of the pipeline.
    * Shared by [[ledgerOver]] (the stage-2 screen) and
    * [[Admission.screenCols]] (the admission floor): a future edit to
    * the score changes both sides together, so the admission verdict
    * stays diffable 1:1 against the from-scratch ledger by
    * construction. Zero-token docs carry the placeholder 0 (they are
    * dead at stage 1, so it never decides anything). */
  private[graft] def qMicro(nTok: Column, nDis: Column): Column =
    when(nTok > 0,
      round((least(nTok.cast("double") / 100.0, lit(1.0)) * 0.5 +
        nDis.cast("double") / nTok * 0.5) * 10000)
        .cast("long"))
      .otherwise(lit(0L))

  /** The per-document lineage ledger: every stage's survival flag plus
    * the mix copy count, one row per corpus document. Column contract
    * (consumed by [[manifest]], [[q229CurationLedger]] and
    * `jobs.CurationPipeline`): doc_id, source, text (null-coalesced),
    * n_tok, q_micro, alive1..alive5, n_copies. */
  private[graft] def ledger(spark: SparkSession, dir: String): DataFrame =
    ledgerOver(spark,
      Tables.fanout(spark, Tables.documents(spark, dir)),
      Dedup.verifiedPairs(spark, dir).select("d1", "d2"),
      // q62's contamination verdict over the shared signature stages:
      // train = non-eval docs, eval = the held-out slice; membership is
      // all the pipeline needs
      Dedup.decontaminateExploded(spark,
        Dedup.shingleHashes(spark, dir)
          .filter(col("doc_id") % Dedup.EvalDocModulus =!= 0),
        Dedup.shingleSigs(spark, dir)
          .filter(col("doc_id") % Dedup.EvalDocModulus === 0))
        .select("doc_id"))

  /** The ledger over ANY documents-shaped frame with a supplied
    * verified near-dup pair list and contaminated-id set — the generic
    * body the `curation_manifest()`/`curation_ledger()` TVFs resolve
    * (computing both inputs from the session table, the `dedup_apply`
    * TVF convention) and the dir-based [[ledger]] wraps with the
    * cached [[SignatureStage]] artifacts. */
  private[graft] def ledgerOver(spark: SparkSession, documents: DataFrame,
      pairs: DataFrame, contaminatedIds: DataFrame): DataFrame = {
    val labels = Dedup.minLabelComponents(spark, pairs)
      .select(col("doc_id"), col("keeper").as("grp"))
    val contaminated = contaminatedIds
      .select(col("doc_id"), lit(true).as("contam"))
    val toks = graft.operators.TextOps.tokens(col("text"))
    val base = documents
      // NULL text is coalesced to '' on BOTH engines (the q184/q190
      // convention) — unreachable with current fixtures, but the
      // pipeline must not hash-diverge on the first null that appears
      .select(col("doc_id"), col("source"),
        coalesce(col("text"), lit("")).as("text"))
      .select(col("doc_id"), col("source"), col("text"),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_dis"))
      // the q23/q131 single-rounded quality score — the shared [[qMicro]]
      .withColumn("q_micro", qMicro(col("n_tok"), col("n_dis")))
      .withColumn("alive1", col("n_tok") > 0)
      .withColumn("alive2", col("alive1") && col("q_micro") >= QualityFloorMicro)
      .withColumn("fp", md5(trim(col("text"))))
    // exact-dedup election among stage-2 survivors: min surviving
    // doc_id per content fingerprint (one fingerprint-keyed window —
    // the exact-dedup shuffle)
    val f3 = base.withColumn("alive3",
      col("alive2") && col("doc_id") ===
        min(when(col("alive2"), col("doc_id")))
          .over(Window.partitionBy("fp")))
    // near-dup election among stage-3 survivors: group minimum of the
    // ALIVE members per q38 component — pair-graph-sized aggregate,
    // joined back on the group label; docs outside the pair graph pass
    val grpKeeper = f3.join(labels, Seq("doc_id"))
      .groupBy("grp")
      .agg(min(when(col("alive3"), col("doc_id"))).as("gk"))
    val f4 = f3.join(labels, Seq("doc_id"), "left")
      .join(grpKeeper, Seq("grp"), "left")
      .withColumn("alive4",
        col("alive3") && (col("grp").isNull || col("doc_id") === col("gk")))
    // materialized once (eager localCheckpoint): the screened frame
    // feeds THREE consumers — the mix-rate aggregate, the mix join-back
    // and the final copy-count join — and without the checkpoint each
    // re-runs the corpus tokenize + fingerprint window + three
    // election joins behind it (the q175/q168 double-compute lesson,
    // measured as 3 full base recomputes in the q229 plan). This is
    // also the semantic record: the screened per-document frame is
    // what a real run persists before mixing.
    val f5 = graft.core.Materialize.once(
      f4.join(contaminated, Seq("doc_id"), "left")
        .withColumn("alive5",
          col("alive4") && col("doc_id") % Dedup.EvalDocModulus =!= 0 &&
            col("contam").isNull))
    // q64 temperature rates computed over the SURVIVORS (the corpus the
    // mix actually serves), joined back; non-survivors carry 0 copies
    val mixed = Sampling.temperatureMix(
        f5.filter(col("alive5")).select("doc_id", "source", "text"),
        Sampling.MixAlpha)
      .select(col("doc_id"), col("n_copies"))
    f5.join(mixed, Seq("doc_id"), "left")
      .withColumn("n_copies", coalesce(col("n_copies"), lit(0L)))
      .select("doc_id", "source", "text", "fp", "n_tok", "q_micro",
        "alive1", "alive2", "alive3", "alive4", "alive5", "n_copies")
  }

  /** [[ledgerOver]] with both inputs computed from the given table —
    * the `curation_manifest()`/`curation_ledger()` TVF body: pairs via
    * the exact-verified Jaccard join at the q27 threshold (the
    * `dedup_apply` TVF convention), contamination via the bounded
    * decontaminate over the same signature frame. */
  private[graft] def tableLedger(spark: SparkSession, docs: DataFrame): DataFrame = {
    val sigs = Dedup.sigsOf(docs)
    val isEval = col("doc_id") % Dedup.EvalDocModulus === 0
    ledgerOver(spark, docs,
      Dedup.jaccardPairs(sigs, 0.6).select("d1", "d2"),
      Dedup.decontaminate(spark, sigs.filter(!isEval), sigs.filter(isEval))
        .select("doc_id"))
  }

  /** The q229 outcome projection over a ledger frame (shared with the
    * `curation_ledger()` TVF). */
  private[graft] def ledgerOutcomes(led: DataFrame): DataFrame =
    led.select(col("doc_id"),
      when(!col("alive1"), "empty_text")
        .when(!col("alive2"), "low_quality")
        .when(!col("alive3"), "exact_duplicate")
        .when(!col("alive4"), "near_duplicate")
        .when(!col("alive5"), "eval_leak")
        .when(col("n_copies") === 0, "mix_thinned")
        .otherwise("kept").as("outcome"),
      col("n_tok").as("n_tokens"), col("q_micro"), col("n_copies"))
    .orderBy("doc_id")

  private def stageRow(ord: Long, stage: String, unit: String,
      nIn: Column, nOut: Column, tIn: Column, tOut: Column,
      dropped: Column, reason: String): Column =
    struct(lit(ord).as("stage_ord"), lit(stage).as("stage"),
      lit(unit).as("unit"), nIn.as("n_in"), nOut.as("n_out"),
      tIn.as("tokens_in"), tOut.as("tokens_out"),
      dropped.as("n_dropped"), lit(reason).as("drop_reason"))

  /** The 8-row lineage manifest over an already-materialized ledger. */
  private[graft] def manifestOver(led: DataFrame): DataFrame = {
    val a = led.agg(
      count(lit(1)).as("n0"), sum(col("n_tok")).as("t0"),
      sum(when(col("alive1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("alive1"), col("n_tok")).otherwise(0L)).as("t1"),
      sum(when(col("alive2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("alive2"), col("n_tok")).otherwise(0L)).as("t2"),
      sum(when(col("alive3"), 1L).otherwise(0L)).as("n3"),
      sum(when(col("alive3"), col("n_tok")).otherwise(0L)).as("t3"),
      sum(when(col("alive4"), 1L).otherwise(0L)).as("n4"),
      sum(when(col("alive4"), col("n_tok")).otherwise(0L)).as("t4"),
      sum(when(col("alive5"), 1L).otherwise(0L)).as("n5"),
      sum(when(col("alive5"), col("n_tok")).otherwise(0L)).as("t5"),
      sum(when(col("alive5"), col("n_copies")).otherwise(0L)).as("n6"),
      sum(when(col("alive5"), col("n_copies") * col("n_tok")).otherwise(0L)).as("t6"),
      sum(when(col("alive5") && col("n_copies") === 0, 1L).otherwise(0L)).as("thinned"))
    // q63's budget arithmetic over the post-mix multiset: per pack
    // shard, ceil(token mass / budget) sequences. Both shard draws
    // derive from the ledger's fp column (= md5(trim(text)), exactly
    // hexBucket's inner hash), so the text column never has to survive
    // into the manifest's checkpointed frame.
    def fpBucket(pos: Int): Column =
      conv(substring(col("fp"), pos, 4), 16, 10).cast("long")
    val pk = led.filter(col("alive5") && col("n_copies") > 0)
      .groupBy((fpBucket(5) % Sampling.PackShards).as("shard"))
      .agg(sum(col("n_copies") * col("n_tok")).as("tot"))
      .agg(coalesce(
        sum(expr(s"(tot + ${Sampling.SeqBudget - 1}) div ${Sampling.SeqBudget}")),
        lit(0L)).as("n_seq"))
    val sh = led.filter(col("alive5") && col("n_copies") > 0)
      .agg(countDistinct(Sampling.fpExportShard(col("fp"))).as("n_shards"))
    a.crossJoin(pk).crossJoin(sh)
      .select(explode(array(
        stageRow(1L, "ingest", "docs", col("n0"), col("n1"), col("t0"), col("t1"),
          col("n0") - col("n1"), "empty_text"),
        stageRow(2L, "quality_screen", "docs", col("n1"), col("n2"), col("t1"), col("t2"),
          col("n1") - col("n2"), "low_quality"),
        stageRow(3L, "exact_dedup", "docs", col("n2"), col("n3"), col("t2"), col("t3"),
          col("n2") - col("n3"), "exact_duplicate"),
        stageRow(4L, "near_dedup", "docs", col("n3"), col("n4"), col("t3"), col("t4"),
          col("n3") - col("n4"), "near_duplicate"),
        stageRow(5L, "decontaminate", "docs", col("n4"), col("n5"), col("t4"), col("t5"),
          col("n4") - col("n5"), "eval_leak"),
        stageRow(6L, "mix_reweight", "weighted_docs", col("n5"), col("n6"),
          col("t5"), col("t6"), col("thinned"), "mix_thinned"),
        stageRow(7L, "pack", "sequences", col("n6"), col("n_seq"), col("t6"),
          col("n_seq") * lit(Sampling.SeqBudget), lit(0L), ""),
        stageRow(8L, "shard_export", "shards", col("n6"), col("n_shards"),
          col("t6"), col("t6"), lit(0L), ""))).as("e"))
      .select("e.*")
      .orderBy("stage_ord")
  }

  /** q228 — the curation-pipeline lineage manifest: one row per stage
    * with docs/tokens in and out, the drop count and the drop reason.
    * The ledger is localCheckpointed once (the materialization a real
    * run keeps anyway) and aggregated three ways — without it the
    * pair-graph closure and the mix-rate aggregate would re-run per
    * manifest aggregate (the q175 double-compute lesson). */
  def q228CurationManifest(spark: SparkSession, dir: String): DataFrame = {
    // text dropped before the checkpoint: the manifest's aggregates and
    // shard draws ride fp/n_tok, and materializing corpus text three
    // aggregates never read was most of the q228 checkpoint cost
    manifestOver(graft.core.Materialize.once(ledger(spark, dir).drop("text")))
  }

  /** q229 — the per-document curation ledger: each document's OUTCOME
    * (which stage dropped it, or `kept`) with its token count, quality
    * score and mix copy count — the row-grain record behind the q228
    * manifest, and the answer to "why is doc X not in the training
    * set". */
  def q229CurationLedger(spark: SparkSession, dir: String): DataFrame = {
    ledgerOutcomes(ledger(spark, dir))
  }

  /** The export rollup over a SURVIVOR ledger slice (alive5 ∧ copies>0)
    * with a (doc_id, has_vec) embedding-presence frame attached —
    * shared by q247 and the `training_export()` TVF. Shard draw =
    * q128's content-hash nibble rule (the same `fpBucket(15)` the q228
    * manifest's shard_export stage counts), so the export's shard set
    * IS the manifest's. The per-shard content sum rides 48-bit
    * md5-prefix values accumulated in decimal(38,0) — at 100 TB a
    * BIGINT sum of billions of 48-bit values would wrap silently. */
  private[graft] def exportOver(survivors: DataFrame, hasVec: DataFrame): DataFrame = {
    val hasAsset = col("doc_id") % Audit.MissingAssetMod =!= Audit.MissingAssetRem
    survivors
      // distinct matches the oracle's SELECT DISTINCT vec_id: a duplicate
      // vec_id (plausible via the training_export() TVF, where the
      // embeddings table is user-supplied) would otherwise fan out
      // survivor rows and silently inflate every per-shard aggregate,
      // including the content checksum
      .join(hasVec.distinct(), Seq("doc_id"), "left")
      .withColumn("shard", Sampling.fpExportShard(col("fp")))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_records"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_copies") * col("n_tok")).as("n_weighted_tokens"),
        sum(when(col("has_vec"), 1L).otherwise(0L)).as("n_with_vec"),
        sum(when(hasAsset, 1L).otherwise(0L)).as("n_with_asset"),
        // decimal(38,0) accumulator (a BIGINT sum of billions of 48-bit
        // values wraps), folded mod 10^18 back into BIGINT — the driver's
        // pandas hash layer renders decimal columns as floats, so the
        // published checksum must be int64 (HarnessCompatSpec rule 3)
        (sum(conv(substring(col("fp"), 1, 12), 16, 10).cast("decimal(38,0)"))
          % lit(1000000000000000000L)).cast("long").as("content_sum"))
      .orderBy("shard")
  }

  /** q247 — TRAINING-SET EXPORT MANIFEST: the pipeline's LAST MILE. The
    * q228 manifest accounts for the run and q229 explains each document,
    * but neither emits the artifact a training job actually consumes:
    * the per-shard record manifest of the EXPORTED corpus — survivors
    * (alive5, mix copies > 0) sharded by q128's content-hash draw, each
    * shard with its record/token/weighted-token counts, how many records
    * carry an embedding (the doc_id↔vec_id link q72 audits) and a
    * present image asset (the q246 store rule), and a DETERMINISTIC
    * content checksum (summed 48-bit md5 prefixes) that lets a consumer
    * verify a shard without re-reading the corpus. One ledger pass + one
    * id-keyed presence join + one shard-grain aggregate; nothing after
    * the ledger is corpus-sized except the single groupBy shuffle. */
  def q247TrainingExport(spark: SparkSession, dir: String): DataFrame = {
    exportOver(
      ledger(spark, dir).filter(col("alive5") && col("n_copies") > 0)
        .select("doc_id", "fp", "n_tok", "n_copies"),
      Tables.embeddings(spark, dir)
        .select(col("vec_id").as("doc_id"), lit(true).as("has_vec")))
  }

  /** The `training_export()` TVF body — ledger and embedding presence
    * resolved from the session tables (the `curation_ledger()`
    * convention). */
  private[graft] def tableExport(spark: SparkSession, docs: DataFrame,
      emb: DataFrame): DataFrame =
    exportOver(
      tableLedger(spark, docs)
        .filter(col("alive5") && col("n_copies") > 0)
        .select("doc_id", "fp", "n_tok", "n_copies"),
      emb.select(col("vec_id").as("doc_id"), lit(true).as("has_vec")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q228_curation_manifest" -> (q228CurationManifest _),
    "q229_curation_ledger"   -> (q229CurationLedger _),
    "q247_training_export"   -> (q247TrainingExport _))

  /** The whole chain replayed in SQL: the q38 reachability closure
    * (shared CTEs), the same five survival flags in sequence, q64's
    * pow/round mix rates over the survivors, q63's ceil-division
    * packing and q128's shard draw — hex draws replayed with the
    * established nibble arithmetic over the same content md5. */
  private[operators] def ledgerCtes: String = {
    val M = Dedup.EvalDocModulus
    s"""${Dedup.reachCtes},
       |lab AS (SELECT id, min(r) AS grp FROM reach GROUP BY id),
       |base AS (
       |  SELECT doc_id, source, coalesce(text, '') AS text,
       |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w,
       |    md5(trim(coalesce(text, ''))) AS fp
       |  FROM documents),
       |f2 AS (
       |  SELECT doc_id, source, fp, CAST(len(w) AS BIGINT) AS n_tok,
       |    CASE WHEN len(w) > 0 THEN
       |      CAST(round((least(len(w) / 100.0, 1.0) * 0.5 +
       |        len(list_distinct(w)) * 1.0 / len(w) * 0.5) * 10000) AS BIGINT)
       |    ELSE 0 END AS q_micro,
       |    len(w) > 0 AS alive1,
       |    len(w) > 0 AND
       |      CASE WHEN len(w) > 0 THEN
       |        CAST(round((least(len(w) / 100.0, 1.0) * 0.5 +
       |          len(list_distinct(w)) * 1.0 / len(w) * 0.5) * 10000) AS BIGINT)
       |      ELSE 0 END >= $QualityFloorMicro AS alive2
       |  FROM base),
       |f3 AS (
       |  SELECT *, alive2 AND doc_id = min(CASE WHEN alive2 THEN doc_id END)
       |    OVER (PARTITION BY fp) AS alive3
       |  FROM f2),
       |gk AS (
       |  SELECT lab.grp, min(CASE WHEN alive3 THEN f3.doc_id END) AS gk
       |  FROM f3 JOIN lab ON f3.doc_id = lab.id GROUP BY lab.grp),
       |f4 AS (
       |  SELECT f3.*, lab.grp,
       |    alive3 AND (lab.grp IS NULL OR f3.doc_id = gk.gk) AS alive4
       |  FROM f3 LEFT JOIN lab ON f3.doc_id = lab.id
       |  LEFT JOIN gk ON lab.grp = gk.grp),
       |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % $M = 0),
       |cont AS (
       |  SELECT DISTINCT a.doc_id FROM sh a JOIN ev USING (s)
       |  WHERE a.doc_id % $M <> 0),
       |f5 AS (
       |  SELECT f4.*, alive4 AND f4.doc_id % $M <> 0 AND cont.doc_id IS NULL AS alive5
       |  FROM f4 LEFT JOIN cont ON f4.doc_id = cont.doc_id),
       |srcs AS (
       |  SELECT source, CAST(count(*) AS DOUBLE) AS n_s
       |  FROM f5 WHERE alive5 GROUP BY source),
       |tt AS (SELECT sum(pow(n_s, ${Sampling.MixAlpha})) AS w_tot,
       |       sum(n_s) AS k_tot FROM srcs),
       |rr AS (
       |  SELECT source, round(k_tot * pow(n_s, ${Sampling.MixAlpha}) / (w_tot * n_s), 6) AS rep
       |  FROM srcs, tt),
       |f6 AS (
       |  SELECT f5.*, CASE WHEN alive5 THEN
       |    CAST(floor(rep) + CASE WHEN ${Sampling.hex6Sql("fp", 9)} / 16777216.0
       |      < rep - floor(rep) THEN 1 ELSE 0 END AS BIGINT)
       |  ELSE 0 END AS n_copies
       |  FROM f5 LEFT JOIN rr USING (source))""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q228_curation_manifest" -> {
      val B = Sampling.SeqBudget
      s"""$ledgerCtes,
         |packsh AS (
         |  SELECT ${Sampling.hex4Sql("fp", 5)} % ${Sampling.PackShards} AS shard,
         |    sum(n_copies * n_tok) AS tot
         |  FROM f6 WHERE alive5 AND n_copies > 0 GROUP BY 1),
         |pk AS (SELECT CAST(coalesce(sum((tot + ${B - 1}) // $B), 0) AS BIGINT) AS n_seq
         |       FROM packsh),
         |shx AS (SELECT CAST(count(DISTINCT ${Sampling.hex4Sql("fp", 15)}
         |          % ${Sampling.ExportShards}) AS BIGINT) AS n_shards
         |        FROM f6 WHERE alive5 AND n_copies > 0),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n0, CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS t0,
         |    CAST(coalesce(sum(CASE WHEN alive1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n1,
         |    CAST(coalesce(sum(CASE WHEN alive1 THEN n_tok ELSE 0 END), 0) AS BIGINT) AS t1,
         |    CAST(coalesce(sum(CASE WHEN alive2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n2,
         |    CAST(coalesce(sum(CASE WHEN alive2 THEN n_tok ELSE 0 END), 0) AS BIGINT) AS t2,
         |    CAST(coalesce(sum(CASE WHEN alive3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n3,
         |    CAST(coalesce(sum(CASE WHEN alive3 THEN n_tok ELSE 0 END), 0) AS BIGINT) AS t3,
         |    CAST(coalesce(sum(CASE WHEN alive4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n4,
         |    CAST(coalesce(sum(CASE WHEN alive4 THEN n_tok ELSE 0 END), 0) AS BIGINT) AS t4,
         |    CAST(coalesce(sum(CASE WHEN alive5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n5,
         |    CAST(coalesce(sum(CASE WHEN alive5 THEN n_tok ELSE 0 END), 0) AS BIGINT) AS t5,
         |    CAST(coalesce(sum(CASE WHEN alive5 THEN n_copies ELSE 0 END), 0) AS BIGINT) AS n6,
         |    CAST(coalesce(sum(CASE WHEN alive5 THEN n_copies * n_tok ELSE 0 END), 0) AS BIGINT) AS t6,
         |    CAST(coalesce(sum(CASE WHEN alive5 AND n_copies = 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |      AS thinned
         |  FROM f6)
         |SELECT * FROM (
         |  SELECT 1 AS stage_ord, 'ingest' AS stage, 'docs' AS unit,
         |    n0 AS n_in, n1 AS n_out, t0 AS tokens_in, t1 AS tokens_out,
         |    n0 - n1 AS n_dropped, 'empty_text' AS drop_reason FROM a
         |  UNION ALL
         |  SELECT 2, 'quality_screen', 'docs', n1, n2, t1, t2, n1 - n2, 'low_quality' FROM a
         |  UNION ALL
         |  SELECT 3, 'exact_dedup', 'docs', n2, n3, t2, t3, n2 - n3, 'exact_duplicate' FROM a
         |  UNION ALL
         |  SELECT 4, 'near_dedup', 'docs', n3, n4, t3, t4, n3 - n4, 'near_duplicate' FROM a
         |  UNION ALL
         |  SELECT 5, 'decontaminate', 'docs', n4, n5, t4, t5, n4 - n5, 'eval_leak' FROM a
         |  UNION ALL
         |  SELECT 6, 'mix_reweight', 'weighted_docs', n5, n6, t5, t6, thinned, 'mix_thinned' FROM a
         |  UNION ALL
         |  SELECT 7, 'pack', 'sequences', n6, pk.n_seq, t6, pk.n_seq * $B, 0, '' FROM a, pk
         |  UNION ALL
         |  SELECT 8, 'shard_export', 'shards', n6, shx.n_shards, t6, t6, 0, '' FROM a, shx
         |) ORDER BY stage_ord""".stripMargin
    },
    // q247: the ledger chain's survivor slice rolled up per q128 shard
    // draw, embedding presence by vec_id membership, the q246 asset
    // rule, and the 48-bit md5-prefix checksum summed in HUGEINT
    // (mirroring the engine's decimal(38,0) accumulator).
    "q247_training_export" ->
      s"""$ledgerCtes,
         |hv AS (SELECT DISTINCT vec_id AS doc_id FROM embeddings)
         |SELECT CAST(${Sampling.hex4Sql("fp", 15)} % ${Sampling.ExportShards}
         |    AS BIGINT) AS shard,
         |  count(*) AS n_records,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_copies * n_tok) AS BIGINT) AS n_weighted_tokens,
         |  CAST(sum(CASE WHEN hv.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_with_vec,
         |  CAST(sum(CASE WHEN f6.doc_id % ${Audit.MissingAssetMod}
         |      <> ${Audit.MissingAssetRem} THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_with_asset,
         |  CAST(sum(CAST(${Sampling.hex12Sql("fp", 1)} AS HUGEINT))
         |    % 1000000000000000000 AS BIGINT) AS content_sum
         |FROM f6 LEFT JOIN hv ON f6.doc_id = hv.doc_id
         |WHERE alive5 AND n_copies > 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q229_curation_ledger" ->
      s"""$ledgerCtes
         |SELECT doc_id,
         |  CASE WHEN NOT alive1 THEN 'empty_text'
         |       WHEN NOT alive2 THEN 'low_quality'
         |       WHEN NOT alive3 THEN 'exact_duplicate'
         |       WHEN NOT alive4 THEN 'near_duplicate'
         |       WHEN NOT alive5 THEN 'eval_leak'
         |       WHEN n_copies = 0 THEN 'mix_thinned'
         |       ELSE 'kept' END AS outcome,
         |  n_tok AS n_tokens, q_micro, n_copies
         |FROM f6 ORDER BY doc_id""".stripMargin)
}
