package graft.functions

import java.nio.file.{Files, Paths}
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.exec.QueryExecutionManager
import graft.exec.QueryExecutionManager.Status

/** The LLM-pipeline operator family reached through the SQL surface:
  * each table function must return EXACTLY the frame its Scala entry
  * returns (same plan, same rows), compose with ordinary SQL, and run
  * end-to-end through the query-execution lifecycle (submit → CSV +
  * metadata), since SQL-in/CSV-out is the reference's one query API. */
class TableFunctionsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("bm25 TVF = Scala bm25TopK on the same corpus") {
    Tables.registerAll(spark, sf)
    val viaSql = spark.sql("SELECT * FROM bm25('spark join', 5)")
    val viaScala = graft.operators.Retrieval.bm25TopK(
      Tables.documents(spark, sf), Seq(0L -> "spark", 0L -> "join"), 5)
    assert(rows(viaSql) == rows(viaScala))
    assert(viaSql.columns.toSeq == Seq("query_id", "rnk", "doc_id", "score"))
    assert(viaSql.count() == 5)
  }

  test("corpus_datasheet TVF = Scala corpusDatasheet on the same corpus") {
    Tables.registerAll(spark, sf)
    val viaSql = spark.sql("SELECT * FROM corpus_datasheet()")
    val viaScala = graft.operators.Corpus.corpusDatasheet(Tables.documents(spark, sf))
    assert(rows(viaSql) == rows(viaScala))
    assert(viaSql.columns.toSeq == Seq("source", "lang", "n_docs", "doc_share",
      "total_chars", "avg_chars", "total_tokens", "avg_tokens"))
  }

  test("hybrid_rrf TVF = Scala hybridRrf on the same corpus") {
    Tables.registerAll(spark, sf)
    val viaSql = spark.sql("SELECT * FROM hybrid_rrf('spark join', 1, 10)")
    val viaScala = graft.operators.Retrieval.hybridRrf(
      Tables.documents(spark, sf), Tables.embeddings(spark, sf), "spark join", 1L, 10)
    assert(rows(viaSql) == rows(viaScala))
    assert(viaSql.columns.toSeq ==
      Seq("query_id", "rnk", "doc_id", "rrf_micro", "bm25_rnk", "cos_rnk"))
    assert(viaSql.count() == 10)
  }

  test("source_cap TVF = Scala sourceCap, and composes with WHERE") {
    Tables.registerAll(spark, sf)
    val viaSql = spark.sql("SELECT * FROM source_cap(10)")
    val viaScala = graft.operators.Sampling.sourceCap(Tables.documents(spark, sf), 10)
    assert(rows(viaSql) == rows(viaScala))
    // ordinary SQL composes around the function's output
    val one = spark.sql(
      "SELECT count(*) AS n FROM source_cap(10) WHERE rnk <= 3 GROUP BY source LIMIT 1")
    assert(one.collect().head.getLong(0) == 3L)
  }

  test("sem_dedup TVF = Scala semDedup at the same threshold") {
    Tables.registerAll(spark, sf)
    val thr = graft.operators.Similarity.NearDupThreshold
    val viaSql = spark.sql(s"SELECT * FROM sem_dedup($thr)")
    val emb = Tables.embeddings(spark, sf)
    val viaScala = graft.operators.Similarity.semDedup(
      emb,
      graft.operators.IvfIndex.centroidsOf(emb, graft.operators.Similarity.SemClusters),
      thr)
    assert(rows(viaSql) == rows(viaScala))
  }

  test("decontaminate TVF finds overlap against a named eval table") {
    Tables.registerAll(spark, sf)
    // eval set = the q62 fixture slice, registered as its own table — the
    // production shape (a benchmark table by name)
    Tables.documents(spark, sf)
      .filter(col("doc_id") % graft.operators.Dedup.EvalDocModulus === 0)
      .createOrReplaceTempView("eval_docs")
    val viaSql = spark.sql("SELECT * FROM decontaminate('eval_docs')")
    // eval docs share all their shingles with themselves (they are in
    // `documents` too), so every eval doc appears; q62's train-only
    // variant is the subset with the eval slice removed from train
    assert(viaSql.count() > 0)
    val sigs = graft.operators.Dedup.sigsOf(Tables.documents(spark, sf))
    val viaScala = graft.operators.Dedup.decontaminate(
      spark, sigs,
      graft.operators.Dedup.sigsOf(spark.table("eval_docs")))
    assert(rows(viaSql) == rows(viaScala))
  }

  test("corpus_diff TVF diffs two named corpus versions") {
    Tables.registerAll(spark, sf)
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 10 =!= 0).createOrReplaceTempView("docs_v1")
    val viaSql = spark.sql("SELECT * FROM corpus_diff('docs_v1', 'documents')")
    val viaScala = graft.operators.Corpus.diff(
      spark.table("docs_v1"), docs)
    assert(rows(viaSql) == rows(viaScala))
    // every tenth doc was absent from v1 ⇒ shows up as added
    val added = viaSql.filter(col("status") === "added").count()
    assert(added == docs.filter(col("doc_id") % 10 === 0).count())
  }

  test("near_dup_pairs / dedup_apply TVFs = Scala pipeline at the same threshold") {
    Tables.registerAll(spark, sf)
    val sigs = graft.operators.Dedup.sigsOf(Tables.documents(spark, sf))
    val pairsSql = spark.sql("SELECT * FROM near_dup_pairs(0.6)")
    val pairsScala = graft.operators.Dedup.jaccardPairs(sigs, 0.6)
    assert(rows(pairsSql) == rows(pairsScala))
    assert(pairsSql.count() > 0, "fixture corpus has planted near-dups")
    val applySql = spark.sql("SELECT * FROM dedup_apply(0.6)")
    // group semantics: every keeper is its own group min
    val byKeeper = applySql.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .groupBy(_._2)
    byKeeper.foreach { case (keeper, members) =>
      assert(members.map(_._1).min == keeper, s"keeper $keeper must be the group min")
      assert(members.count(_._3) == 1, s"exactly one is_keeper row per group")
    }
  }

  test("containment / token_fertility / sem_decontaminate TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    val docs = Tables.documents(spark, sf)
    assert(rows(spark.sql("SELECT * FROM containment(0.8)")) ==
      rows(graft.operators.Dedup.containmentPairs(
        graft.operators.Dedup.sigsOf(docs),
        graft.operators.Dedup.ContainMicros, graft.operators.Dedup.ContainMinShingles)))
    assert(rows(spark.sql("SELECT * FROM token_fertility()")) ==
      rows(graft.operators.TextOps.tokenFertility(docs)))
    assert(rows(spark.sql("SELECT * FROM sem_decontaminate()")) ==
      rows(graft.operators.Similarity.semDecontaminate(
        Tables.embeddings(spark, sf), docs)))
  }

  test("temperature_mix / chunk / pii_redact TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    val docs = Tables.documents(spark, sf)
    assert(rows(spark.sql("SELECT * FROM temperature_mix(0.7)")) ==
      rows(graft.operators.Sampling.temperatureMix(docs, 0.7)))
    assert(rows(spark.sql("SELECT * FROM chunk(40, 30)")) ==
      rows(graft.operators.TextOps.chunkOverlap(docs, 40, 30)))
    assert(rows(spark.sql("SELECT * FROM pii_redact()")) ==
      rows(graft.operators.Privacy.redact(docs, col("text"))))
    assert(rows(spark.sql("SELECT * FROM lm_score()")) ==
      rows(graft.operators.TextOps.unigramLogprob(docs)))
    assert(rows(spark.sql("SELECT * FROM span_dedup(10)")) ==
      rows(graft.operators.Dedup.spanDedup(docs, 10)))
  }

  test("corpus_drift TVF over two named versions matches the cell-join twin") {
    Tables.registerAll(spark, sf)
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 3 =!= 0).createOrReplaceTempView("drift_v1")
    val viaSql = spark.sql("SELECT * FROM corpus_drift('drift_v1', 'documents')")
    def cells(df: org.apache.spark.sql.DataFrame, out: String) =
      df.groupBy("source", "lang").agg(count(lit(1)).as(out))
    val viaScala = graft.operators.Corpus.drift(
      cells(spark.table("drift_v1"), "n1")
        .join(cells(docs, "n2"), Seq("source", "lang"), "full_outer")
        .na.fill(0L, Seq("n1", "n2")))
    assert(rows(viaSql) == rows(viaScala))
    // dropping a third of every cell shifts no SHARE (uniform thinning):
    // drift ≈ 0 per cell, but the columns exist and totals differ
    assert(viaSql.agg(sum(col("n1"))).head.getLong(0) <
      viaSql.agg(sum(col("n2"))).head.getLong(0))
  }

  test("TVFs run end-to-end through the query-execution lifecycle") {
    Tables.registerAll(spark, sf)
    val dir = Files.createTempDirectory("graft_tvf_results").toString
    val mgr = new QueryExecutionManager(spark, dir)
    val id = mgr.submit("SELECT query_id, rnk, doc_id FROM bm25('customer batch', 3)")
    val st = mgr.await(id)
    assert(st.status == Status.Succeeded, st.reason)
    assert(Files.exists(Paths.get(dir, s"$id.csv")))
    assert(Files.exists(Paths.get(dir, s"$id.csv.metadata")))
    val Some((header, rs)) = mgr.results(id)
    assert(header == Seq("query_id", "rnk", "doc_id"))
    assert(rs.length == 3)
  }

  test("literal-argument contract: non-literal or malformed args fail cleanly") {
    Tables.registerAll(spark, sf)
    val e = intercept[Exception](spark.sql("SELECT * FROM bm25('', 5)").collect())
    assert(e.getMessage.contains("at least one term"))
    val e2 = intercept[Exception](spark.sql("SELECT * FROM corpus_diff('docs_v1')").collect())
    assert(e2.getMessage.toLowerCase.contains("expects"))
    // an integer argument outside the Int range is rejected, not narrowed
    // (2^32 would run as source_cap(0), 2^32+1 as weighted_sample(1))
    Seq("source_cap(4294967296)" -> "source_cap expects (cap)",
        "weighted_sample(4294967297)" -> "weighted_sample expects (k)").foreach { case (call, msg) =>
      val e3 = intercept[IllegalArgumentException](spark.sql(s"SELECT * FROM $call").collect())
      assert(e3.getMessage.contains(msg) && e3.getMessage.contains("outside the Int range"),
        e3.getMessage)
    }
  }

  test("scd2 / quantize_error TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 10 =!= 0).createOrReplaceTempView("docs_v1")
    val scd = spark.sql("SELECT * FROM scd2('docs_v1', 'documents')")
    assert(rows(scd) == rows(graft.operators.Corpus.scd2(
      spark.table("docs_v1"), docs)))
    // composes with SQL around it: as-of-now slice equals v2
    val current = spark.sql(
      "SELECT count(*) AS n FROM scd2('docs_v1', 'documents') WHERE is_current")
      .collect().head.getLong(0)
    assert(current == docs.count())
    val qe = spark.sql("SELECT * FROM quantize_error()")
    assert(rows(qe) == rows(graft.operators.Quantize.int8Error(
      Tables.embeddings(spark, sf), col("embedding"))))
  }

  test("novelty / heavy_hitters TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 10 =!= 0).createOrReplaceTempView("ref_docs")
    val nov = spark.sql("SELECT * FROM novelty('ref_docs')")
    assert(rows(nov) == rows(graft.operators.Corpus.novelty(
      graft.operators.Dedup.shingles(docs, graft.operators.TextOps.BoilerK),
      graft.operators.Dedup.shingles(spark.table("ref_docs"),
        graft.operators.TextOps.BoilerK))))
    // docs present in the reference score zero novelty through SQL too
    val zero = spark.sql(
      "SELECT count(*) AS n FROM novelty('ref_docs') WHERE novelty = 0.0")
      .collect().head.getLong(0)
    assert(zero >= docs.filter(col("doc_id") % 10 =!= 0).count())
    val hh = spark.sql("SELECT * FROM heavy_hitters()").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val scala_ = graft.operators.HeavyHitters.q90HeavyHitters(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(hh == scala_)
  }

  test("weighted_sample / cooccurrence TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    val docs = Tables.documents(spark, sf)
    val ws = spark.sql("SELECT * FROM weighted_sample(50)")
    assert(rows(ws) == rows(graft.operators.Sampling.weightedSample(docs, 50)))
    assert(ws.count() == 50)
    val co = spark.sql("SELECT * FROM cooccurrence(0.2)")
    assert(rows(co) == rows(graft.operators.TextOps.cooccurrence(docs, 0.2)))
    // and the generic path agrees with the stage-backed q109 at its floor
    val q109 = graft.operators.TextOps.q109Cooccurrence(spark, sf)
    val generic = graft.operators.TextOps.cooccurrence(
      docs, graft.operators.TextOps.CoocSupport)
    assert(rows(q109) == rows(generic))
  }

  test("k_anonymity / winsorize TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    val ka = spark.sql(
      s"SELECT * FROM k_anonymity(${graft.operators.Privacy.KAnonThreshold})")
    assert(rows(ka) == rows(graft.operators.Privacy.q101KAnonymity(spark, sf)))
    // a different threshold flips flags, not populations
    val strict = spark.sql("SELECT * FROM k_anonymity(1000000)").collect()
    assert(strict.forall(_.getBoolean(3)), "an impossible k flags every cell")
    val wz = spark.sql("SELECT * FROM winsorize(0.05)")
    assert(rows(wz) == rows(graft.operators.Analytics.q89Winsorized(spark, sf)))
    // composes with ordinary SQL
    val n = spark.sql("SELECT count(*) AS n FROM winsorize(0.1) WHERE n_clamped > 0")
      .collect().head.getLong(0)
    assert(n >= 0L)
  }

  test("cohort_retention / funnel TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    val cr = spark.sql("SELECT * FROM cohort_retention()")
    assert(rows(cr) == rows(graft.operators.Analytics.q102CohortRetention(spark, sf)))
    val fu = spark.sql("SELECT * FROM funnel()")
    assert(rows(fu) == rows(graft.operators.Analytics.q84Funnel(spark, sf)))
    assert(fu.columns.toSeq == Seq("n_users", "view_users", "click_users",
      "purchase_users", "view_to_click", "click_to_purchase"))
  }

  test("index/tokenizer/overlap audit TVFs = their Scala query entries") {
    Tables.registerAll(spark, sf)
    val ii = spark.sql(s"SELECT * FROM inverted_index(${graft.operators.Retrieval.IndexTopK})")
    assert(rows(ii) == rows(graft.operators.Retrieval.q117InvertedIndex(spark, sf)))
    assert(ii.columns.toSeq == Seq("token", "df", "cf", "first_doc", "postings_fp"))
    val bp = spark.sql(s"SELECT * FROM bpe_merges(${graft.operators.TextOps.BpeTopK})")
    assert(rows(bp) == rows(graft.operators.TextOps.q118BpeMerges(spark, sf)))
    assert(bp.columns.toSeq == Seq("left_sym", "right_sym", "pair_count"))
    val vc = spark.sql(s"SELECT * FROM vocab_coverage(${graft.operators.TextOps.VocabTopV})")
    assert(rows(vc) == rows(graft.operators.TextOps.q119VocabCoverage(spark, sf)))
    assert(vc.columns.toSeq == Seq("source", "lang", "n_occ", "oov_occ", "oov_rate"))
    val so = spark.sql("SELECT * FROM source_overlap()")
    assert(rows(so) == rows(graft.operators.Dedup.q120SourceOverlap(spark, sf)))
    assert(so.columns.toSeq ==
      Seq("src_a", "src_b", "n_a", "n_b", "inter", "union_sh", "jaccard"))
    val tb = spark.sql(
      s"SELECT * FROM token_budget(${graft.operators.Sampling.TokenBudgetPerSource})")
    assert(rows(tb) == rows(graft.operators.Sampling.q121TokenBudget(spark, sf)))
    assert(tb.columns.toSeq == Seq("doc_id", "source", "n_tok", "cum_tokens"))
    val zs = spark.sql(s"SELECT * FROM zipf_slope(${graft.operators.TextOps.ZipfTopK})")
    assert(rows(zs) == rows(graft.operators.TextOps.q122ZipfSlope(spark, sf)))
    assert(zs.columns.toSeq == Seq("n_terms", "zipf_slope", "intercept_ln"))
    val sl = spark.sql("SELECT * FROM split_leakage()")
    assert(rows(sl) == rows(graft.operators.Dedup.q123SplitLeakage(spark, sf)))
    assert(sl.columns.toSeq == Seq("d1", "d2", "jaccard", "split_1", "split_2"))
    val mm = spark.sql(s"SELECT * FROM mix_manifest(${graft.operators.Sampling.MixBudget})")
    assert(rows(mm) == rows(graft.operators.Sampling.q125MixManifest(spark, sf)))
    assert(mm.columns.toSeq ==
      Seq("source", "avail_tokens", "share_micros", "epochs_micros"))
    val dc = spark.sql("SELECT * FROM dup_clusters(0.6)")
    assert(rows(dc) == rows(graft.operators.Dedup.q126ClusterHistogram(spark, sf)))
    assert(dc.columns.toSeq == Seq("cluster_size", "n_clusters", "n_docs"))
  }

  test("nb_quality / ingest_anomaly / hard_negatives / embedding_diversity TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    val nb = spark.sql("SELECT * FROM nb_quality()")
    assert(rows(nb) == rows(graft.operators.Classify.q151NbQuality(spark, sf)))
    assert(nb.columns.toSeq ==
      Seq("source", "n_docs", "n_label_hq", "n_pred_hq", "n_agree", "accuracy"))
    val ia = spark.sql("SELECT * FROM ingest_anomaly()")
    assert(rows(ia) == rows(graft.operators.Analytics.q155IngestAnomaly(spark, sf)))
    // composes with WHERE on the verdict column
    val spikes = spark.sql("SELECT * FROM ingest_anomaly() WHERE is_spike").count()
    assert(spikes == ia.filter(col("is_spike")).count())
    val hn = spark.sql(
      s"SELECT * FROM hard_negatives(${graft.operators.Similarity.HnLoCos}, " +
        s"${graft.operators.Similarity.HnHiCos}, ${graft.operators.Similarity.HnK})")
    assert(rows(hn) == rows(graft.operators.Similarity.q156HardNegatives(spark, sf)))
    val ed = spark.sql("SELECT * FROM embedding_diversity()")
    assert(rows(ed) == rows(graft.operators.Similarity.q157EmbeddingDiversity(spark, sf)))
    assert(ed.columns.toSeq == Seq("source", "n_vecs", "mean_pair_cos_micro"))
  }

  test("quality_propagation / cms_sketch TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    // the TVF derives pairs from the named table with the exact Jaccard
    // detector at the same threshold the cached q27 stage verifies at —
    // identical pair set, so identical propagation
    val qp = spark.sql("SELECT * FROM quality_propagation(0.6)")
    assert(rows(qp) == rows(graft.operators.Propagate.q168QualityPropagation(spark, sf)))
    assert(qp.columns.toSeq ==
      Seq("doc_id", "deg", "s0_micro", "s2_micro", "shift_micro"))
    // composes with SQL around it
    val shifted = spark.sql(
      "SELECT count(*) FROM quality_propagation(0.6) WHERE shift_micro <> 0").collect()(0).getLong(0)
    assert(shifted == qp.filter(col("shift_micro") =!= 0).count())
    val cs = spark.sql("SELECT * FROM cms_sketch()")
    assert(rows(cs) == rows(graft.operators.Cms.q169CmsSketch(spark, sf)))
    assert(cs.columns.toSeq == Seq("shingle", "exact_df", "cms_est", "overcount"))
  }

  test("edit_verify / sorted_neighborhood TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    // the TVF derives pairs from the named table at the same threshold
    // the cached q27 stage verifies at — identical pair set
    val ev = spark.sql("SELECT * FROM edit_verify(0.6)")
    assert(rows(ev) == rows(graft.operators.Dedup.q171EditVerifiedDedup(spark, sf)))
    assert(ev.columns.toSeq ==
      Seq("d1", "d2", "jaccard", "edit_dist", "edit_sim_micro", "tier"))
    val tiered = spark.sql(
      "SELECT count(*) FROM edit_verify(0.6) WHERE tier = 'near_exact'").collect()(0).getLong(0)
    assert(tiered == ev.filter(col("tier") === "near_exact").count())
    val sn = spark.sql("SELECT * FROM sorted_neighborhood()")
    assert(rows(sn) == rows(graft.operators.Dedup.q176SortedNeighborhood(spark, sf)))
    assert(sn.columns.toSeq == Seq("d1", "d2", "edit_dist", "sim_micro"))
  }

  test("sq_search / truncation_sweep TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    val sq = spark.sql("SELECT * FROM sq_search()")
    assert(rows(sq) == rows(graft.operators.Sq.q173SqAdc(spark, sf)))
    assert(sq.columns.toSeq ==
      Seq("probe_id", "n_exact", "n_hits", "recall_micro", "sq_err"))
    val ts = spark.sql("SELECT * FROM truncation_sweep()")
    assert(rows(ts) == rows(graft.operators.Matryoshka.q174TruncationSweep(spark, sf)))
    assert(ts.columns.toSeq == Seq("trunc_dim", "n_probes", "sum_hits", "recall_micro"))
  }

  test("nb_calibration / dp_release / langid_confusion / source_quality_shrunk TVFs match") {
    Tables.registerAll(spark, sf)
    val cal = spark.sql("SELECT * FROM nb_calibration()")
    assert(rows(cal) == rows(graft.operators.Classify.q175NbCalibration(spark, sf)))
    assert(cal.columns.toSeq ==
      Seq("decile", "n_docs", "n_hq", "hq_rate_micro", "score_lo", "score_hi"))
    val dp = spark.sql("SELECT * FROM dp_release()")
    assert(rows(dp) == rows(graft.operators.Privacy.q178DpRelease(spark, sf)))
    assert(dp.columns.toSeq ==
      Seq("source", "n_docs", "epsilon_micro", "noise_micro", "released_micro"))
    val lc = spark.sql("SELECT * FROM langid_confusion()")
    assert(rows(lc) == rows(graft.operators.TextOps.q179LangidConfusion(spark, sf)))
    val off = spark.sql("SELECT count(*) FROM langid_confusion() WHERE NOT agree").collect()(0).getLong(0)
    assert(off == lc.filter(!col("agree")).count())
    val sh = spark.sql("SELECT * FROM source_quality_shrunk()")
    assert(rows(sh) == rows(graft.operators.Classify.q180SourceQualityShrunk(spark, sf)))
    assert(sh.columns.toSeq == Seq("source", "n_docs", "n_hq",
      "raw_rate_micro", "global_rate_micro", "shrunk_rate_micro"))
  }

  test("quantile_sketch / z_range / cms_probe / ivf_maintain TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    val qsk = spark.sql("SELECT * FROM quantile_sketch()")
    assert(rows(qsk) == rows(graft.operators.QuantileSketch.q182QuantileSketch(spark, sf)))
    assert(qsk.columns.toSeq == Seq("event_type", "n_events",
      "exact_p50_cents", "ok_p50", "exact_p90_cents", "ok_p90",
      "exact_p99_cents", "ok_p99"))
    // z_range over the RAW named table must agree with the q181 gate
    // over the z-ordered copy at the same band — layout never changes
    // answers, which is exactly q181's contract
    import graft.layout.ZOrderLayout
    val zr = spark.sql(s"SELECT * FROM z_range(${ZOrderLayout.UserLo}, " +
      s"${ZOrderLayout.UserHi}, ${ZOrderLayout.CentsLo}, ${ZOrderLayout.CentsHi})")
    assert(rows(zr) == rows(ZOrderLayout.q181ZorderRange(spark, sf)))
    assert(zr.columns.toSeq ==
      Seq("n_events", "n_users", "sum_cents", "min_cents", "max_cents"))
    // cms_probe: the audit's top shingle must read back its own audited
    // estimate; a fabricated never-seen gram must read a cell floor
    // that is at most any real cell it collides into (≥ 0 always)
    val top = graft.operators.Cms.q169CmsSketch(spark, sf).collect()(0)
    val esc = top.getString(0).replace("'", "''")
    val probed = spark.sql(s"SELECT * FROM cms_probe('$esc')").collect()(0)
    assert(probed.getString(0) == top.getString(0))
    assert(probed.getLong(1) == top.getLong(2),
      s"cms_probe(${top.getString(0)}) = ${probed.getLong(1)}, audit said ${top.getLong(2)}")
    val never = spark.sql(
      "SELECT * FROM cms_probe('zz-never-seen-gram-zz')").collect()(0)
    assert(never.getLong(1) >= 0L)
    val iv = spark.sql("SELECT * FROM ivf_maintain()")
    assert(rows(iv) == rows(graft.operators.IvfMaintain.q170IncrementalIvf(spark, sf)))
    assert(iv.columns.toSeq == Seq("cluster", "n_v1", "d_sum_v1_micro",
      "n_added", "d_sum_added_micro", "drift"))
  }

  test("topic_tag / cdc_apply / hll_rollup TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    // topic_tag returns the per-doc grain; the q184 report is its
    // (source, topic) aggregate — recomputed here through plain SQL
    // over the TVF to prove composition
    val viaTvf = spark.sql(
      """SELECT source, topic, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(topic_hits) AS BIGINT) AS sum_hits
        |FROM topic_tag() GROUP BY 1, 2 ORDER BY source, topic""".stripMargin)
    assert(rows(viaTvf) == rows(graft.operators.Taxonomy.q184TopicTag(spark, sf)))
    val cdc = spark.sql("SELECT * FROM cdc_apply() ORDER BY user_id")
    assert(rows(cdc) == rows(graft.operators.Cdc.q185CdcApply(spark, sf)))
    assert(cdc.columns.toSeq == Seq("user_id", "n_ops", "alive", "last_value_cents"))
    val hll = spark.sql("SELECT * FROM hll_rollup()")
    assert(rows(hll) == rows(graft.operators.HllRollup.q187HllRollup(spark, sf)))
    assert(hll.columns.toSeq ==
      Seq("scope", "n_exact", "est_within_bound", "merge_consistent"))
    val cur = spark.sql("SELECT * FROM curriculum_shards()")
    assert(rows(cur) == rows(graft.operators.Curriculum.q189CurriculumShards(spark, sf)))
    assert(cur.columns.toSeq ==
      Seq("shard", "n_docs", "rank_lo", "rank_hi", "q_max", "q_min"))
    val mp = spark.sql("SELECT * FROM margin_pairs()")
    assert(rows(mp) == rows(graft.operators.Margin.q191MarginMining(spark, sf)))
    assert(mp.columns.toSeq == Seq("a_id", "b_id", "cos_micro", "margin_micro"))
    val eo = spark.sql("SELECT * FROM embedding_outliers()")
    assert(rows(eo) == rows(graft.operators.Outlier.q192EmbeddingOutliers(spark, sf)))
    assert(eo.columns.toSeq ==
      Seq("vec_id", "source", "centroid_cos_micro", "is_outlier"))
    val dw = spark.sql("SELECT * FROM domain_reweight()")
    assert(rows(dw) == rows(graft.operators.Mixture.q193DomainReweight(spark, sf)))
    assert(dw.columns.toSeq == Seq("source", "loss_e4",
      "w0_micro", "w1_micro", "w2_micro", "w3_micro"))
    graft.core.Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 =!= 0).createOrReplaceTempView("psi_v1")
    val sd = spark.sql("SELECT * FROM score_drift('psi_v1', 'documents')")
    assert(rows(sd) == rows(graft.operators.Drift.psiOver(
      spark.table("psi_v1"), spark.table("documents"))))
    assert(sd.columns.toSeq == Seq("bucket", "n_v1", "n_v2",
      "share_v1_micro", "share_v2_micro", "psi_micro"))
    val sr = spark.sql("SELECT * FROM skew_report()")
    assert(rows(sr) == rows(graft.operators.Skew.q198SkewReport(spark, sf)))
    assert(sr.columns.toSeq ==
      Seq("key", "cnt", "n_keys", "total", "share_micro", "salt_rec"))
    val re = spark.sql("SELECT * FROM retrieval_eval()")
    assert(rows(re) == rows(graft.operators.Retrieval.q199RetrievalEval(spark, sf)))
    assert(re.columns.toSeq == Seq("query_id", "n_terms", "n_relevant",
      "hits_at_k", "recall_micro", "rr_micro"))
  }

  test("round-11 TVFs match their Scala twins") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val ts = spark.sql("SELECT * FROM template_spans()")
    assert(rows(ts) == rows(graft.operators.TextOps.q201TemplateSpans(spark, sf)))
    assert(ts.columns.toSeq == Seq("gram", "n_docs", "n_repeats"))
    val pa = spark.sql("SELECT * FROM purge_audit()")
    assert(rows(pa) == rows(graft.operators.Purge.q202PurgeCascade(spark, sf)))
    assert(pa.columns.toSeq == Seq("surface", "n_before", "n_tombstoned",
      "n_after", "residual_clean"))
    val wl = spark.sql("SELECT * FROM weak_labels()")
    assert(rows(wl) == rows(graft.operators.WeakLabels.labeled(
      graft.core.Tables.documents(spark, sf))))
    assert(wl.columns.toSeq ==
      Seq("doc_id", "lf_length", "lf_ttr", "lf_filler", "vote"))
    val wm = spark.sql("SELECT * FROM weak_label_matrix()")
    assert(rows(wm) == rows(graft.operators.WeakLabels.q203WeakLabelMatrix(spark, sf)))
    val cs = spark.sql("SELECT * FROM code_switch()")
    assert(rows(cs) == rows(graft.operators.LangSegments.q205CodeSwitchSegments(spark, sf)))
    assert(cs.columns.toSeq == Seq("doc_id", "n_windows", "n_switches",
      "dominant_lang", "dominant_share_micro"))
    val pt = spark.sql("SELECT * FROM phrase_tags()")
    assert(rows(pt) == rows(graft.operators.Taxonomy.q206PhraseTags(spark, sf)))
    val tr = spark.sql("SELECT * FROM trajectories()")
    assert(rows(tr) == rows(graft.operators.Trajectory.q207SessionTrajectories(spark, sf)))
    assert(tr.columns.toSeq ==
      Seq("user_id", "session_start", "n_events", "trajectory"))
  }

  test("batch-3 TVFs match their Scala twins") {
    import graft.operators.{Dedup, Linkage, RandomProjection, Retrieval}
    Tables.registerAll(spark, sf)
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 10 =!= 0).createOrReplaceTempView("link_v1")

    val rl = spark.sql("SELECT * FROM record_link('link_v1', 'documents')")
    assert(rows(rl) == rows(Linkage.linkTables(
      docs.filter(col("doc_id") % 10 =!= 0), docs)))
    assert(rl.columns.toSeq == Seq("new_id", "old_id", "jac_micro", "n_candidates"))

    val ph = spark.sql("SELECT * FROM phrase_search('hash join')")
    assert(ph.columns.toSeq == Seq("phrase", "doc_id", "n_hits", "first_pos"))
    import spark.implicits._
    assert(rows(ph) == rows(Retrieval.phraseHits(
      docs, Seq("hash join").toDF("phrase"))))

    val pairs = Dedup.jaccardPairs(Dedup.sigsOf(docs), 0.6).select("d1", "d2")
    val labels = Dedup.minLabelComponents(spark, pairs)
    val pp = spark.sql("SELECT * FROM pref_pairs(0.6)")
    assert(rows(pp) == rows(Dedup.prefPairsOver(
      labels.select(col("doc_id"), col("keeper").as("grp")),
      Dedup.qualityMicroOf(docs))))
    val dw = spark.sql("SELECT * FROM dedup_weights(0.6)")
    assert(rows(dw) == rows(Dedup.softWeightsOver(labels, docs)))

    val jl = spark.sql("SELECT * FROM jl_distortion()")
    assert(rows(jl) == rows(RandomProjection.distortionOver(
      Tables.embeddings(spark, sf))))
    assert(jl.columns.toSeq ==
      Seq("v1", "v2", "d2_orig_micro", "d2_proj_micro", "ratio_micro"))

    val sp = spark.sql("SELECT * FROM score_percentiles() WHERE pct_micro > 900000")
    val spScala = graft.operators.ScoreNorm.percentilesOver(docs)
      .filter(col("pct_micro") > 900000)
    assert(rows(sp) == rows(spScala))
    assert(sp.columns.toSeq == Seq("doc_id", "source", "q_micro", "pct_micro"))

    val ks = spark.sql("SELECT * FROM score_ks('link_v1', 'documents')")
    assert(rows(ks) == rows(graft.operators.ScoreNorm.ksOver(
      docs.filter(col("doc_id") % 10 =!= 0), docs)))
    assert(ks.columns.toSeq == Seq("source", "n1", "n2", "ks_micro", "drifted"))

    val tl = spark.sql("SELECT * FROM tiered_link('link_v1', 'documents')")
    assert(rows(tl) == rows(graft.operators.Linkage.tieredLink(
      docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("old_id"), col("text")),
      docs.select(col("doc_id").as("new_id"), col("text")))))
    assert(tl.columns.toSeq == Seq("new_id", "old_id", "jac_micro", "tier"))

    val sr = spark.sql("SELECT * FROM shard_rebalance()")
    assert(rows(sr) == rows(graft.operators.Sharding.rebalanceOver(docs)))
    val lf = spark.sql("SELECT * FROM lf_agreement()")
    assert(rows(lf) == rows(graft.operators.WeakLabels.agreementOver(docs)))
    assert(lf.columns.toSeq == Seq("lf_a", "lf_b", "n", "agree", "kappa_micro"))

    val ld = spark.sql("SELECT * FROM l_diversity(3)")
    assert(rows(ld) == rows(graft.operators.Privacy.q225LDiversity(spark, sf)))
    val bc = spark.sql("SELECT * FROM bootstrap_ci()")
    assert(rows(bc) == rows(graft.operators.Sampling.bootstrapCi(docs)))
    assert(bc.columns.toSeq == Seq("replicate", "n_eff", "mean_score_micro"))
    val sa = spark.sql("SELECT * FROM source_ablation()")
    assert(rows(sa) == rows(graft.operators.Mixture.q226SourceAblation(spark, sf)))
    assert(sa.columns.toSeq == Seq("source", "n_tok", "loss_e4",
      "corpus_loss_e4", "loss_without_e4", "delta_e4"))
  }

  test("cluster_safe_split TVF matches its Scala twin") {
    Tables.registerAll(spark, sf)
    val docs = Tables.documents(spark, sf)
    val tv = spark.sql("SELECT * FROM cluster_safe_split(0.6)")
    assert(tv.columns.toSeq == Seq("doc_id", "grp", "split"))
    assert(rows(tv) == rows(graft.operators.Sampling.clusterSafeSplitOver(
      spark, docs,
      graft.operators.Dedup.jaccardPairs(
        graft.operators.Dedup.sigsOf(docs), 0.6).select("d1", "d2"))))
  }

  test("eval_leak TVF matches its Scala twin") {
    import org.apache.spark.sql.functions.{col, explode}
    Tables.registerAll(spark, sf)
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 7 === 0).createOrReplaceTempView("leak_eval")
    val tv = spark.sql("SELECT * FROM eval_leak('leak_eval')")
    assert(tv.columns.toSeq == Seq("eval_id", "n_shingles", "n_train_docs",
      "n_shared_shingles", "leak_frac_micro"))
    val sigs = graft.operators.Dedup.sigsOf _
    assert(rows(tv) == rows(graft.operators.Dedup.evalLeakOver(
      sigs(docs.filter(col("doc_id") % 7 === 0)),
      sigs(docs).select(col("doc_id"), explode(col("hs")).as("h")))))
  }

  test("curation TVFs match their Scala twins") {
    import graft.operators.Curation
    Tables.registerAll(spark, sf)
    val docs = Tables.documents(spark, sf)
    val cm = spark.sql("SELECT * FROM curation_manifest()")
    assert(cm.columns.toSeq == Seq("stage_ord", "stage", "unit", "n_in",
      "n_out", "tokens_in", "tokens_out", "n_dropped", "drop_reason"))
    assert(rows(cm) == rows(Curation.manifestOver(
      Curation.tableLedger(spark, docs).drop("text").localCheckpoint())))
    val cl = spark.sql("SELECT * FROM curation_ledger()")
    assert(cl.columns.toSeq ==
      Seq("doc_id", "outcome", "n_tokens", "q_micro", "n_copies"))
    assert(rows(cl) == rows(Curation.q229CurationLedger(spark, sf)),
      "table-derived ledger diverges from the dir-based q229 twin")
    // the TVF ledger reconciles with the TVF manifest's stage counts
    val byOutcome = cl.collect().groupBy(_.getString(1)).view.mapValues(_.length.toLong)
    val ingest = cm.collect().find(_.getString(1) == "ingest").get
    assert(byOutcome.values.sum == ingest.getLong(3))
  }

  test("incremental_admission / budget_waterfill / cluster_prune TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    val ia = spark.sql("SELECT * FROM incremental_admission()")
    assert(ia.columns.toSeq ==
      Seq("doc_id", "source", "n_tokens", "q_micro", "verdict"))
    // the dir-based q234 rides the cached LSH-verified pair stage; the
    // TVF derives pairs from the table exactly — same verdicts
    assert(rows(ia) ==
      rows(graft.operators.Admission.q234IncrementalAdmission(spark, sf)),
      "table-derived admission diverges from the dir-based q234 twin")
    val bw = spark.sql("SELECT * FROM budget_waterfill() WHERE saturated")
    assert(bw.columns.toSeq == Seq("source", "avail_tokens", "w", "g1", "g2",
      "grant_tokens", "saturated", "fill_micro"))
    assert(bw.count() > 0)
    val cp = spark.sql("SELECT * FROM cluster_prune()")
    assert(rows(cp) == rows(graft.operators.KMeans.q237ClusterPrune(spark, sf)),
      "TVF-trained prune diverges from the dir-based q237 twin")
  }

  test("bpe_train / retrieval_quality TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    // the TVF tokenizes the session table inline; q250 rides the shared
    // token stage — identical occurrence multiset, identical merges
    val bt = spark.sql("SELECT * FROM bpe_train()")
    assert(bt.columns.toSeq == Seq("merge_ord", "left_sym", "right_sym",
      "pair_count", "n_symbols_after"))
    assert(rows(bt) == rows(graft.operators.TextOps.q250BpeTrain(spark, sf)),
      "table-derived BPE training diverges from the dir-based q250 twin")
    // explicit rounds arg: a 2-round run is the 4-round run's prefix
    val bt2 = spark.sql("SELECT * FROM bpe_train(2)").collect()
    assert(bt2.length == 2)
    assert(rows(spark.sql("SELECT * FROM bpe_train() WHERE merge_ord <= 2")) ==
      bt2.map(_.toString).toSeq.sorted)
    val be = spark.sql("SELECT * FROM bpe_encode()")
    assert(be.columns.toSeq == Seq("source", "n_words", "n_bpe_tokens",
      "fertility_micro"))
    assert(rows(be) == rows(graft.operators.TextOps.q252BpeEncode(spark, sf)),
      "table-derived BPE encode diverges from the dir-based q252 twin")
    val rq = spark.sql("SELECT * FROM retrieval_quality()")
    assert(rq.columns.toSeq == Seq("system", "query_id", "dcg_units",
      "idcg_units", "ndcg_micro", "rr_micro"))
    assert(rows(rq) ==
      rows(graft.operators.Retrieval.q251RetrievalQuality(spark, sf)),
      "table-derived retrieval metrics diverge from the dir-based q251 twin")
  }

  test("bpe TVFs reject tokens carrying the reserved U+0001 delimiter") {
    Tables.registerAll(spark, sf)
    // the fixture corpus never contains U+0001, but the TVFs run over
    // ARBITRARY session tables — a delimiter-carrying token must fail
    // loudly, not silently corrupt the segmentation (round-14 advisor)
    import spark.implicits._
    Seq((1L, "src", "ok token"), (2L, "src", ("bad" + "\u0001" + "tok here")))
      .toDF("doc_id", "source", "text")
      .createOrReplaceTempView("documents")
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM bpe_train(1)").collect()
    }
    assert(e1.getMessage.contains("reserved segmentation delimiter") ||
      Option(e1.getCause).exists(_.getMessage
        .contains("reserved segmentation delimiter")))
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM bpe_encode()").collect()
    }
    assert(e2.getMessage.contains("reserved segmentation delimiter") ||
      Option(e2.getCause).exists(_.getMessage
        .contains("reserved segmentation delimiter")))
    // clean tables sail through the guard unchanged
    Tables.registerAll(spark, sf)
    assert(spark.sql("SELECT * FROM bpe_train(1)").count() == 1)
  }

  test("transition_matrix / flow_mining TVFs match their Scala twins") {
    Tables.registerAll(spark, sf)
    val tm = spark.sql("SELECT * FROM transition_matrix()")
    assert(tm.columns.toSeq == Seq("from_type", "to_type", "n", "n_from", "p_micro"))
    assert(rows(tm) == rows(graft.operators.Trajectory.q239TransitionMatrix(spark, sf)))
    val fm = spark.sql("SELECT * FROM flow_mining()")
    assert(rows(fm) == rows(graft.operators.Trajectory.q240FlowMining(spark, sf)))
    val rt = spark.sql("SELECT * FROM rare_transitions()")
    assert(rows(rt) == rows(graft.operators.Trajectory.q241RareTransitions(spark, sf)))
  }
}
