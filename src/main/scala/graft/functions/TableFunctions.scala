package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, count, explode, expr, lit, size}

import graft.operators._

/** SQL table functions over the LLM-pipeline operator family.
  *
  * The reference's one query API is SQL-in, CSV-out
  * (reference `test_pipeline.py:144-214` — `start_query_execution` with a
  * SQL string); graft mirrors it in
  * [[graft.exec.QueryExecutionManager]]. Until now the table-SHAPED
  * operators (BM25 retrieval, decontamination, semantic dedup, source
  * quotas, corpus diff) were reachable only as Scala calls — a user of
  * the SQL surface could not run them at all. This registrar puts them
  * behind Spark's native table-valued-function resolution, so
  *
  * {{{
  *   SELECT * FROM bm25('spark join', 5)
  *   SELECT * FROM source_cap(50) WHERE source = 'web'
  *   SELECT * FROM sem_dedup(0.45)
  *   SELECT * FROM decontaminate('eval_docs')
  *   SELECT * FROM corpus_diff('documents_v1', 'documents')
  *   SELECT * FROM near_dup_pairs(0.6)
  *   SELECT * FROM containment(0.8)
  *   SELECT * FROM token_fertility()
  *   SELECT * FROM sem_decontaminate()
  *   SELECT * FROM dedup_apply(0.6) WHERE NOT is_keeper
  *   SELECT * FROM temperature_mix(0.7)
  *   SELECT * FROM corpus_drift('documents_v1', 'documents')
  *   SELECT * FROM chunk(40, 30)
  *   SELECT * FROM pii_redact()
  *   SELECT * FROM scd2('documents_v1', 'documents')
  *   SELECT * FROM quantize_error()
  *   SELECT * FROM novelty('reference_docs')
  *   SELECT * FROM heavy_hitters()
  *   SELECT * FROM weighted_sample(200)
  *   SELECT * FROM cooccurrence(0.1)
  *   SELECT * FROM k_anonymity(5) WHERE at_risk
  *   SELECT * FROM winsorize(0.05)
  *   SELECT * FROM cohort_retention()
  *   SELECT * FROM funnel()
  *   SELECT * FROM hybrid_rrf('spark join', 1, 10)
  *   SELECT * FROM corpus_datasheet()
  *   SELECT * FROM nb_quality()
  *   SELECT * FROM ingest_anomaly() WHERE is_spike
  *   SELECT * FROM hard_negatives(0.15, 0.45, 5)
  *   SELECT * FROM embedding_diversity()
  *   SELECT * FROM quality_propagation(0.6)
  *   SELECT * FROM cms_sketch()
  *   SELECT * FROM edit_verify(0.6) WHERE tier = 'near_exact'
  *   SELECT * FROM sorted_neighborhood()
  *   SELECT * FROM sq_search()
  *   SELECT * FROM truncation_sweep()
  *   SELECT * FROM nb_calibration()
  *   SELECT * FROM dp_release()
  *   SELECT * FROM langid_confusion() WHERE NOT agree
  *   SELECT * FROM source_quality_shrunk()
  *   SELECT * FROM quantile_sketch()
  *   SELECT * FROM z_range(5, 15, 10000, 20000)
  *   SELECT * FROM cms_probe('the quick brown fox jumps')
  *   SELECT * FROM ivf_maintain() WHERE drift
  *   SELECT * FROM topic_tag() WHERE topic = 'none'
  *   SELECT * FROM cdc_apply() WHERE alive
  *   SELECT * FROM hll_rollup()
  *   SELECT * FROM curriculum_shards()
  *   SELECT * FROM margin_pairs()
  *   SELECT * FROM embedding_outliers() WHERE is_outlier
  *   SELECT * FROM domain_reweight()
  *   SELECT * FROM score_drift('documents_v1_edit', 'documents_v2')
  *   SELECT * FROM skew_report()
  *   SELECT * FROM retrieval_eval()
  *   SELECT * FROM record_link('documents_v1', 'documents')
  *   SELECT * FROM phrase_search('hash join')
  *   SELECT * FROM pref_pairs(0.6) WHERE informative
  *   SELECT * FROM dedup_weights(0.6)
  *   SELECT * FROM jl_distortion()
  *   SELECT * FROM score_percentiles() WHERE pct_micro > 900000
  *   SELECT * FROM score_ks('documents_v1', 'documents') WHERE drifted
  *   SELECT * FROM tiered_link('documents_v1', 'documents')
  *   SELECT * FROM shard_rebalance()
  *   SELECT * FROM lf_agreement() WHERE kappa_micro > 400000
  *   SELECT * FROM l_diversity(3) WHERE at_risk
  *   SELECT * FROM source_ablation() WHERE delta_e4 < 0
  *   SELECT * FROM bootstrap_ci() WHERE replicate >= 0
  *   SELECT * FROM incremental_admission() WHERE verdict <> 'admitted'
  *   SELECT * FROM budget_waterfill() WHERE saturated
  *   SELECT * FROM cluster_prune() WHERE kept
  *   SELECT * FROM transition_matrix() WHERE p_micro > 500000
  *   SELECT * FROM flow_mining()
  *   SELECT * FROM rare_transitions()
  *   SELECT * FROM cross_modal_audit()
  *   SELECT * FROM training_export()
  *   SELECT * FROM bpe_train(4)
  *   SELECT * FROM bpe_encode() WHERE fertility_micro > 3000000
  *   SELECT * FROM retrieval_quality() WHERE query_id = -1
  * }}}
  *
  * all work through `spark.sql(...)` — and therefore through the
  * manager's submit/status/results lifecycle, composing with ordinary
  * SQL around them (projection, WHERE, joins, LIMIT).
  *
  * Each builder resolves its input tables BY NAME from the session
  * catalog (`spark.table`), the same way the reference's SQL addresses
  * crawler-registered tables — so the corpus the function sees is
  * whatever `documents`/`embeddings` resolve to (temp view, catalog
  * table, [[graft.catalog.TableRegistry]] registration). The returned
  * plan is the operator's ordinary DataFrame plan: everything downstream
  * (pushdown into the function's output, AQE, codegen) behaves exactly
  * as the Scala call does, because it IS the same plan.
  *
  * Arguments must be literals (they parameterize plan construction at
  * analysis time); [[Args]] reads and checks them, and each function's
  * signature fixes its arity (see [[Fn]]). `sem_dedup` additionally
  * trains its capped-sample quantizer during resolution — a bounded
  * (≤4096-row) job, the same cost the Scala entry pays.
  */
object TableFunctions {

  /** Cluster count for the `sem_dedup` TVF quantizer — corpus-sized via
    * [[graft.operators.Similarity.semClustersFor]] (a resolution-time
    * count over the named table, metadata-cheap on parquet; the same
    * bounded index-build work as the quantizer fit itself). */
  private def semClusters(emb: DataFrame): Int = Similarity.semClustersFor(emb.count())

  /** A table function whose builder runs `f` against the session
    * resolving the query and hands the frame's analyzed plan to the outer
    * analyzer (idempotent on resolved subtrees). */
  private def tvf(name: String, sig: String)(f: (SparkSession, Args) => DataFrame): Fn[LogicalPlan] =
    new Fn[LogicalPlan](name, sig, "graft LLM-pipeline table function (see TableFunctions)")(
      a => f(SparkSession.active, a).queryExecution.analyzed)

  private def docs(spark: SparkSession): DataFrame = spark.table("documents")
  private def emb(spark: SparkSession): DataFrame = spark.table("embeddings")
  private def events(spark: SparkSession): DataFrame = spark.table("events")
  private def table(spark: SparkSession, a: Args, i: Int): DataFrame = spark.table(a.string(i))

  private def tokens(docs: DataFrame): DataFrame =
    TextOps.tokenized(docs).filter(col("token").isNotNull)
  private def nTok(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
  private def jaccard(docs: DataFrame, threshold: Double): DataFrame =
    Dedup.jaccardPairs(Dedup.sigsOf(docs), threshold)
  private def vecSources(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("vec_id"), col("source"))
  private def steps(spark: SparkSession): DataFrame =
    events(spark).select("user_id", "ts", "event_id", "event_type")
  private def customerNation(spark: SparkSession): DataFrame =
    spark.table("customer").join(spark.table("nation"), col("c_nationkey") === col("n_nationkey"))

  /** The table functions, each declared once; [[FunctionCatalog]]
    * installs them on a prepared session and injects them through
    * [[GraftExtensions]]. */
  private[graft] val builders: Seq[Fn[LogicalPlan]] = Seq(
    tvf("bm25", "query string, k") { (s, a) =>
      val terms = a.string(0).split("\\s+").filter(_.nonEmpty).distinct.toSeq
      require(terms.nonEmpty, "bm25: query must contain at least one term")
      Retrieval.bm25TopK(docs(s), terms.map(0L -> _), a.int(1))
    },
    tvf("corpus_datasheet", "")((s, _) => Corpus.corpusDatasheet(docs(s))),
    tvf("inverted_index", "k")((s, a) => Retrieval.invertedIndexAudit(tokens(docs(s)), a.int(0))),
    tvf("bpe_merges", "k")((s, a) => TextOps.bpeMergeCounts(tokens(docs(s)), a.int(0))),
    tvf("vocab_coverage", "v") { (s, a) =>
      val d = docs(s)
      TextOps.vocabCoverage(tokens(d), d.select("doc_id", "source", "lang"), a.int(0))
    },
    // NOTE (round-15 advisor): resolving this TVF EXECUTES jobs — the
    // operator body eagerly materializes its distinct (source, shingle)
    // frame (Materialize.once), so even EXPLAIN over source_overlap()
    // runs the shingle explode + distinct. Deliberate: the lazy form
    // measured worse (concurrent consumers recompute partitions), and
    // the materialized frame is distinct-shingle grain, far below the
    // corpus the explode scans.
    tvf("source_overlap", "") { (s, _) =>
      val d = docs(s)
      Dedup.sourceOverlap(Dedup.sigsOf(d), d.select("doc_id", "source"))
    },
    tvf("dup_clusters", "threshold") { (s, a) =>
      Dedup.clusterHistogram(Dedup.minLabelComponents(s,
        jaccard(docs(s), a.double(0)).select("d1", "d2")))
    },
    tvf("mix_manifest", "budget")((s, a) =>
      Sampling.mixManifest(nTok(docs(s)), Sampling.MixAlpha, a.long(0))),
    tvf("split_leakage", "") { (s, _) =>
      val d = docs(s)
      Dedup.splitLeakage(Dedup.prefixJaccardPairs(Dedup.sigsOf(d), 0.6), Sampling.splitAssign(d))
    },
    tvf("token_budget", "budget")((s, a) => Sampling.tokenBudgetFill(nTok(docs(s)), a.long(0))),
    tvf("zipf_slope", "k")((s, a) => TextOps.zipfSlope(tokens(docs(s)), a.int(0))),
    tvf("hybrid_rrf", "query string, probe_id, k")((s, a) =>
      Retrieval.hybridRrf(docs(s), emb(s), a.string(0), a.long(1), a.int(2))),
    tvf("source_cap", "cap")((s, a) => Sampling.sourceCap(docs(s), a.int(0))),
    tvf("sem_dedup", "threshold") { (s, a) =>
      val e = emb(s)
      Similarity.semDedup(e, IvfIndex.centroidsOf(e, semClusters(e)), a.double(0))
    },
    tvf("decontaminate", "eval_table")((s, a) =>
      Dedup.decontaminate(s, Dedup.sigsOf(docs(s)), Dedup.sigsOf(table(s, a, 0)))),
    tvf("eval_leak", "eval_table")((s, a) =>
      Dedup.evalLeakOver(Dedup.sigsOf(table(s, a, 0)),
        Dedup.sigsOf(docs(s)).select(col("doc_id"), explode(col("hs")).as("h")))),
    tvf("corpus_diff", "v1 table, v2 table")((s, a) => Corpus.diff(table(s, a, 0), table(s, a, 1))),
    tvf("near_dup_pairs", "threshold")((s, a) => jaccard(docs(s), a.double(0))),
    tvf("containment", "threshold") { (s, a) =>
      val t = a.double(0)
      require(t >= 0.0 && t <= 1.0, "containment: threshold must be in [0, 1]")
      Dedup.containmentPairs(Dedup.sigsOf(docs(s)), math.round(t * 1e6), Dedup.ContainMinShingles)
    },
    tvf("token_fertility", "")((s, _) => TextOps.tokenFertility(docs(s))),
    tvf("sem_decontaminate", "")((s, _) => Similarity.semDecontaminate(emb(s), docs(s))),
    tvf("dedup_apply", "threshold") { (s, a) =>
      Dedup.minLabelComponents(s, jaccard(docs(s), a.double(0)).select("d1", "d2"))
        .select(col("doc_id"), col("keeper"), (col("doc_id") === col("keeper")).as("is_keeper"))
        .orderBy("doc_id")
    },
    tvf("temperature_mix", "alpha")((s, a) => Sampling.temperatureMix(docs(s), a.double(0))),
    tvf("corpus_drift", "v1 table, v2 table") { (s, a) =>
      def cells(i: Int, out: String) =
        table(s, a, i).groupBy("source", "lang").agg(count(lit(1)).as(out))
      Corpus.drift(cells(0, "n1").join(cells(1, "n2"), Seq("source", "lang"), "full_outer")
        .na.fill(0L, Seq("n1", "n2")))
    },
    tvf("chunk", "size, stride")((s, a) => TextOps.chunkOverlap(docs(s), a.int(0), a.int(1))),
    tvf("pii_redact", "")((s, _) => Privacy.redact(docs(s), col("text"))),
    tvf("lm_score", "")((s, _) => TextOps.unigramLogprob(docs(s))),
    tvf("scd2", "v1 table, v2 table")((s, a) => Corpus.scd2(table(s, a, 0), table(s, a, 1))),
    tvf("quantize_error", "")((s, _) => Quantize.int8Error(emb(s), col("embedding"))),
    tvf("novelty", "reference_table")((s, a) =>
      Corpus.novelty(Dedup.shingles(docs(s), TextOps.BoilerK),
        Dedup.shingles(table(s, a, 0), TextOps.BoilerK))),
    // like sem_dedup's quantizer fit, the bounded sketch pass runs at
    // resolution time (state <= SketchK entries; the recount is the plan)
    tvf("heavy_hitters", "") { (s, _) =>
      import org.apache.spark.sql.functions.{broadcast, min}
      import s.implicits._
      val sh = Dedup.shingles(docs(s), TextOps.BoilerK)
      val (cands, total) = HeavyHitters.candidates(sh, "s")
      val floor = total / HeavyHitters.SketchK
      sh.join(broadcast(cands.toDF("s")), Seq("s"))
        .groupBy("s")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .filter(col("n_docs") > floor)
        .select(col("s").as("shingle"), col("n_docs"), col("first_doc"), lit(floor).as("floor_docs"))
    },
    tvf("span_dedup", "[window_tokens]")((s, a) =>
      Dedup.spanDedup(docs(s), if (a.size == 0) Dedup.SpanWindow else a.int(0))),
    tvf("weighted_sample", "k")((s, a) => Sampling.weightedSample(docs(s), a.int(0))),
    tvf("cooccurrence", "support")((s, a) => TextOps.cooccurrence(docs(s), a.double(0))),
    tvf("k_anonymity", "k")((s, a) =>
      Privacy.kAnonymity(customerNation(s), Seq("c_mktsegment", "n_name"), a.long(0))),
    tvf("winsorize", "p")((s, a) => Analytics.winsorizedStats(s.table("orders"), a.double(0))),
    tvf("cohort_retention", "")((s, _) => Analytics.cohortRetention(events(s))),
    tvf("funnel", "")((s, _) => Analytics.funnelOver(events(s))),
    tvf("nb_quality", "")((s, _) => Classify.nbQualityOver(docs(s))),
    tvf("ingest_anomaly", "")((s, _) => Analytics.ingestAnomaly(events(s))),
    tvf("hard_negatives", "lo, hi, k") { (s, a) =>
      val (lo, hi) = (a.double(0), a.double(1))
      require(lo < hi, "hard_negatives: lo must be < hi")
      Similarity.hardNegatives(emb(s), lo, hi, a.int(2))
    },
    tvf("embedding_diversity", "")((s, _) =>
      Similarity.embeddingDiversity(emb(s), vecSources(docs(s)))),
    tvf("quality_propagation", "jaccard threshold") { (s, a) =>
      val d = docs(s)
      Propagate.qualityPropagation(d, jaccard(d, a.double(0)))
    },
    tvf("cms_sketch", "")((s, _) => Cms.cmsAudit(docs(s))),
    tvf("edit_verify", "jaccard threshold") { (s, a) =>
      val d = docs(s)
      Dedup.editVerify(jaccard(d, a.double(0)), d)
    },
    tvf("sorted_neighborhood", "")((s, _) => Dedup.snPairs(docs(s))),
    tvf("sq_search", "")((s, _) => Sq.sqGateOver(s, KMeans.quantizedOf(emb(s)))),
    tvf("truncation_sweep", "")((s, _) => Matryoshka.sweepOver(s, KMeans.quantizedOf(emb(s)))),
    tvf("nb_calibration", "")((s, _) => Classify.nbCalibrationOver(docs(s))),
    tvf("dp_release", "")((s, _) => Privacy.dpRelease(docs(s))),
    tvf("langid_confusion", "")((s, _) => TextOps.langidConfusion(docs(s))),
    tvf("source_quality_shrunk", "")((s, _) => Classify.shrunkQualityOver(docs(s))),
    tvf("quantile_sketch", "")((s, _) => QuantileSketch.gateOver(events(s))),
    tvf("z_range", "user_lo, user_hi, cents_lo, cents_hi")((s, a) =>
      graft.layout.ZOrderLayout.rangeAggOverEvents(
        events(s), a.long(0), a.long(1), a.long(2), a.long(3))),
    tvf("cms_probe", "ngram, ...")((s, a) => Cms.probe(docs(s), (0 until a.size).map(a.string))),
    tvf("ivf_maintain", "")((s, _) => IvfMaintain.maintainFromEmbeddings(emb(s))),
    tvf("topic_tag", "")((s, _) => Taxonomy.tagged(docs(s))),
    tvf("cdc_apply", "")((s, _) => Cdc.applyOver(events(s))),
    tvf("hll_rollup", "")((s, _) => HllRollup.rollupOver(events(s))),
    // resolution runs the global-rank sort eagerly (the ivf_maintain /
    // sem_dedup resolution-time-job convention)
    tvf("curriculum_shards", "")((s, _) => Curriculum.shardsOver(docs(s))),
    // NOTE (round-15 advisor): resolving this TVF EXECUTES the full n²
    // cosine kernel — minedPairs rides marginRankTail, whose scored
    // candidate frame is eagerly materialized (Materialize.once) because
    // it feeds three incompatibly-partitioned consumers; even EXPLAIN
    // runs the kernel and pins the candidate frame (3 int64s per
    // positive-cosine pair — O(n²) worst case) in executor storage.
    // Deliberate: the lazy checkpoint measured worse on both miners
    // (round-15 log §1); a deployment that must EXPLAIN cheaply points
    // the TVF at the IVF-blocked miner instead.
    tvf("margin_pairs", "")((s, _) => Margin.minedPairs(emb(s))),
    tvf("embedding_outliers", "")((s, _) => Outlier.scoresOver(emb(s), vecSources(docs(s)))),
    tvf("domain_reweight", "")((s, _) => Mixture.reweightDocs(docs(s))),
    tvf("score_drift", "v1 table, v2 table")((s, a) => Drift.psiOver(table(s, a, 0), table(s, a, 1))),
    tvf("skew_report", "")((s, _) => Skew.skewReport(events(s), "user_id")),
    tvf("retrieval_eval", "")((s, _) => Retrieval.evalDocs(docs(s))),
    tvf("template_spans", "")((s, _) => TextOps.templateSpansOver(docs(s))),
    tvf("purge_audit", "")((s, _) => Purge.auditOver(s, docs(s), emb(s))),
    tvf("weak_labels", "")((s, _) => WeakLabels.labeled(docs(s))),
    tvf("weak_label_matrix", "")((s, _) => WeakLabels.matrixOver(docs(s))),
    tvf("code_switch", "")((s, _) => LangSegments.segmentsOver(docs(s))),
    tvf("phrase_tags", "")((s, _) => Taxonomy.phraseTagsOver(s, docs(s))),
    tvf("trajectories", "")((s, _) => Trajectory.assembled(steps(s))),
    tvf("record_link", "registry table, crawl table")((s, a) =>
      Linkage.linkTables(table(s, a, 0), table(s, a, 1))),
    tvf("phrase_search", "two-word phrase") { (s, a) =>
      import s.implicits._
      // normalize BEFORE joining: the bigram table is built with
      // single-space concat_ws, so a phrase with a double space or
      // stray edge whitespace would pass the two-word validation
      // yet silently return zero hits
      val norm = a.string(0).trim.split("\\s+")
      require(norm.length == 2, "phrase_search expects a two-word phrase")
      Retrieval.phraseHits(docs(s), Seq(norm.mkString(" ")).toDF("phrase"))
    },
    tvf("pref_pairs", "threshold") { (s, a) =>
      val d = docs(s)
      Dedup.prefPairsOver(
        Dedup.minLabelComponents(s, jaccard(d, a.double(0)).select("d1", "d2"))
          .select(col("doc_id"), col("keeper").as("grp")),
        Dedup.qualityMicroOf(d))
    },
    tvf("cluster_safe_split", "threshold") { (s, a) =>
      val d = docs(s)
      Sampling.clusterSafeSplitOver(s, d, jaccard(d, a.double(0)).select("d1", "d2"))
    },
    tvf("curation_manifest", "")((s, _) =>
      Curation.manifestOver(graft.core.Materialize.once(
        Curation.tableLedger(s, docs(s)).drop("text")))),
    tvf("curation_ledger", "")((s, _) => Curation.ledgerOutcomes(Curation.tableLedger(s, docs(s)))),
    tvf("dedup_weights", "threshold") { (s, a) =>
      val d = docs(s)
      Dedup.softWeightsOver(
        Dedup.minLabelComponents(s, jaccard(d, a.double(0)).select("d1", "d2")), d)
    },
    tvf("jl_distortion", "")((s, _) => RandomProjection.distortionOver(emb(s))),
    tvf("score_percentiles", "")((s, _) => ScoreNorm.percentilesOver(docs(s))),
    tvf("score_ks", "v1 table, v2 table")((s, a) => ScoreNorm.ksOver(table(s, a, 0), table(s, a, 1))),
    tvf("tiered_link", "registry table, crawl table")((s, a) =>
      Linkage.tieredLink(
        table(s, a, 0).select(col("doc_id").as("old_id"), col("text")),
        table(s, a, 1).select(col("doc_id").as("new_id"), col("text")))),
    tvf("shard_rebalance", "")((s, _) => Sharding.rebalanceOver(docs(s))),
    tvf("lf_agreement", "")((s, _) => WeakLabels.agreementOver(docs(s))),
    tvf("l_diversity", "l")((s, a) =>
      Privacy.lDiversity(customerNation(s), Seq("c_mktsegment", "n_name"),
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000"), a.long(0))),
    tvf("bootstrap_ci", "")((s, _) => Sampling.bootstrapCi(docs(s))),
    tvf("incremental_admission", "")((s, _) => Admission.tableVerdicts(s, docs(s))),
    tvf("cross_modal_audit", "")((s, _) => Audit.tableCrossModal(s, docs(s))),
    tvf("training_export", "")((s, _) => Curation.tableExport(s, docs(s), emb(s))),
    tvf("bpe_train", "[rounds]") { (s, a) =>
      val rounds = if (a.size == 0) TextOps.BpeTrainRounds else a.int(0)
      if (rounds < 1 || rounds > 1000) throw new IllegalArgumentException(
        s"bpe_train: rounds must be in [1, 1000], got $rounds")
      TextOps.tableBpeTrain(docs(s), rounds)
    },
    tvf("bpe_encode", "")((s, _) => TextOps.tableBpeEncode(docs(s))),
    tvf("retrieval_quality", "")((s, _) => Retrieval.tableQuality(docs(s), emb(s))),
    tvf("budget_waterfill", "")((s, _) => Sampling.waterfillOver(docs(s))),
    tvf("cluster_prune", "") { (s, _) =>
      val q = KMeans.quantizedOf(emb(s))
      KMeans.pruneOver(q, KMeans.trainOn(q))
    },
    tvf("transition_matrix", "")((s, _) => Trajectory.transitionsOver(steps(s))),
    tvf("flow_mining", "")((s, _) => Trajectory.flowsOver(steps(s))),
    tvf("rare_transitions", "")((s, _) => Trajectory.rareOver(steps(s))),
    tvf("source_ablation", "") { (s, _) =>
      import org.apache.spark.sql.functions.sum
      val d = docs(s)
      val toks = TextOps.tokens(col("text"))
      Mixture.ablationOver(Mixture.sourceLoss(
        d.select(col("doc_id"), explode(toks).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")),
        d.agg(sum(size(toks)).cast("long").as("n_total")),
        d.select("doc_id", "source")))
    })
}
