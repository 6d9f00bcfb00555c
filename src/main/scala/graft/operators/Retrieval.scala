package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}

/** Full-text retrieval over the corpus: BM25-ranked top-k per query — the
  * inverted-index search shape (Lucene/Elasticsearch scoring; Robertson &
  * Zaragoza 2009) expressed relationally, the way a Spark-resident corpus
  * serves ad-hoc "find me training docs about X" queries without an
  * external search cluster.
  *
  * Scale shape: the exploded token stream is filtered to the QUERY
  * VOCABULARY before any shuffle (a literal IN list — broadcast-free,
  * codegen'd), so the one aggregation shuffles only query-term
  * occurrences, never the corpus token stream. Document length rides the
  * explode (no corpus-sized join-back), corpus-level scalars (N, avgdl)
  * come from a 1-row aggregate cross-joined in, and the final ranking is
  * a per-query top-k window over candidate docs only.
  *
  * Oracle parity: per-term BM25 contributions are computed in double but
  * fixed to integer MICROS (round(contrib·10⁶) as BIGINT) before the
  * per-(query, doc) sum — integer addition is order-free, so the
  * engine's aggregation order can never flip a rank tie, and ranking on
  * the exact micro total (then doc_id) is fully deterministic across
  * engines. */
object Retrieval extends graft.QueryModule {

  /** BM25 constants (the classic defaults). Every constant reaches BOTH
    * engines as a parsed DECIMAL LITERAL derived from these two values —
    * runtime arithmetic like `k1 + 1` can land a half-ulp from the
    * literal `2.2` and break bit parity, so the derived literals are
    * computed once in exact decimal and rendered into the Spark plan and
    * the oracle SQL from the same strings (editing K1/B updates both
    * engines together; they cannot drift). */
  val K1 = BigDecimal("1.2")
  val B = BigDecimal("0.75")
  private val K1Plus1Lit = (K1 + 1).toString  // tf numerator factor
  private val K1Lit = K1.toString
  private val OneMinusBLit = (1 - B).toString
  private val BLit = B.toString

  val TopK = 10

  /** Fixture query set (terms from the synthetic corpus vocabulary). */
  val QuerySet: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "join",
    2L -> "window", 2L -> "merge",
    3L -> "customer", 3L -> "batch", 3L -> "query")

  /** BM25 top-k docs per query over any (doc_id, text) frame.
    * `queries` is (query_id, term) — one row per query term. */
  def bm25TopK(docs: DataFrame, queries: Seq[(Long, String)], k: Int): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val d = docs.select(col("doc_id"), toks.as("toks"), size(toks).cast("long").as("dl"))
    // corpus scalars: one tiny row, broadcast by the cross join
    val stats = d.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).as("n"))
    bm25Core(d.select(col("doc_id"), col("dl"), explode(col("toks")).as("token")),
      stats, queries, k)
  }

  /** The full candidate-scored frame `(query_id, doc_id, dl, micro)`
    * over a pre-tokenized occurrence stream — shared by the ranking
    * tail ([[bm25Core]]) and the context packer (q211), which needs
    * EVERY candidate plus its document length, not a top-k. */
  private def bm25Scores(tok: DataFrame, stats: DataFrame,
      queries: Seq[(Long, String)]): DataFrame = {
    val spark = tok.sparkSession
    import spark.implicits._
    val terms = queries.map(_._2).distinct
    // query-vocabulary filter BEFORE the aggregation shuffle
    val tf = tok
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    // document frequency as a window over the ALREADY-AGGREGATED tf frame
    // (candidate docs × query terms — small): deriving it with a second
    // groupBy + join-back would replan the whole explode subtree and scan
    // the corpus a second time
    val tfdf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("token")))
    val q = queries.toDF("query_id", "term")
    val contrib = q
      .join(tfdf, q("term") === tfdf("token"))
      .crossJoin(broadcast(stats))
      .select(
        col("query_id"), col("doc_id"), col("dl"),
        round(
          log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
            (col("tf") * lit(K1Plus1Lit.toDouble)) /
            (col("tf") + lit(K1Lit.toDouble) *
              (lit(OneMinusBLit.toDouble) + lit(BLit.toDouble) * col("dl") / col("avgdl"))) *
            lit(1000000)).cast("long").as("contrib"))
    contrib.groupBy("query_id", "doc_id")
      .agg(sum(col("contrib")).as("micro"), max(col("dl")).as("dl"))
  }

  /** Scoring core over a pre-tokenized occurrence stream
    * `(doc_id, dl, token)` + a 1-row `(avgdl, n)` stats frame. */
  private def bm25Core(tok: DataFrame, stats: DataFrame,
      queries: Seq[(Long, String)], k: Int): DataFrame =
    rankScores(bm25Scores(tok, stats, queries), k)

  /** The ranking tail over an already-scored `(query_id, doc_id, micro)`
    * frame — split out so q251 can score ONCE and rank twice (its two
    * systems share the sparse side). */
  private def rankScores(agg: DataFrame, k: Int): DataFrame =
    VectorSearch.topK(agg, col("micro").desc, Some(k), "query_id", "doc_id")
      .select(
        col("query_id"), col("rnk").cast("long").as("rnk"), col("doc_id"),
        round(col("micro") / lit(1000000.0), 4).as("score"))
      .orderBy("query_id", "rnk")

  /** q70 — BM25 over [[QuerySet]], sourced from the shared
    * [[TextOps.tokenStage]]: the occurrence stream, document lengths AND
    * the corpus scalars (N, avgdl) all derive from the one cached
    * tokenize pass (the stage's token-less-doc marker rows keep N and
    * avgdl exact over the full corpus). [[bm25TopK]] stays as the
    * generic any-frame entry point for the `bm25` TVF. */
  def q70Bm25(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val stage = TextOps.tokenStage(spark, dir)
    val perDoc = stage.groupBy("doc_id").agg(max(col("dl")).as("dl"))
    val stats = perDoc.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).as("n"))
    bm25Core(
      stage.filter(col("token").isNotNull).select(col("doc_id"), col("dl"), col("token")),
      stats, QuerySet, TopK)
  }

  /** Posting-audit fan-in: the catalog keeps the `IndexTopK` heaviest
    * terms (by collection frequency) — vocabulary-grain, never
    * postings-grain. */
  val IndexTopK = 100

  /** q117 — inverted-index POSTING-LIST AUDIT: the per-term catalog a
    * search deployment publishes after an index build — document
    * frequency, collection frequency, the first posting, and an
    * order-free postings fingerprint (Σ (doc_id+1)·(pos+1) over every
    * occurrence) that pins the full posting list content, position for
    * position, without materializing postings-grain output.
    *
    * Scale shape: one vocabulary-keyed aggregate over the shared
    * [[TextOps.tokenStage]] — the stage persists BUCKETED BY token, so
    * the groupBy plans without an Exchange on the stage side; output is
    * top-`IndexTopK`-terms-sized (TakeOrderedAndProject), never
    * vocabulary- or postings-grain at the driver. The fingerprint is an
    * integer sum — order-free, so engine aggregation order can never
    * shift it, and the oracle replays it exactly. */
  def q117InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    invertedIndexAudit(TextOps.tokenStage(spark, dir).filter(col("token").isNotNull))
  }

  /** The audit over ANY (doc_id, pos, token) occurrence frame (pos
    * 0-based, as the token stage emits it). */
  def invertedIndexAudit(occ: DataFrame, topK: Int = IndexTopK): DataFrame =
    occ
      .groupBy("token")
      .agg(
        countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("cf"),
        min(col("doc_id")).as("first_doc"),
        sum((col("doc_id") + 1) * (col("pos") + 1)).cast("long").as("postings_fp"))
      .orderBy(desc("cf"), col("token"))
      .limit(topK)

  /** Reciprocal-rank-fusion constant (Cormack, Clarke & Buettcher 2009:
    * k = 60): contribution of rank r is 1/(k + r); fused in integer
    * MICROS (`1000000 div (k + r)`) so the sum is order-free and
    * engine-exact. */
  val RrfK = 60
  val RrfTopK = 10

  /** q113 — HYBRID retrieval: BM25 (sparse) and embedding-cosine (dense)
    * rankings fused with reciprocal-rank fusion, the standard two-tower
    * retrieval shape (lexical index + ANN index, merged by rank). For
    * each [[QuerySet]] query, the dense probe is the embedding with
    * `vec_id = query_id` (documents and embeddings share the id space).
    *
    * Scale shape: the sparse side is the q70 BM25 core (query-vocabulary
    * filter before the shuffle, candidate-frame windows); the dense side
    * is probe-set × corpus with the probes broadcast — probe-count-sized
    * work per corpus row, the q29 shape (an IVF-bucketed dense side drops
    * in via [[Similarity.ivfNearDupPairs]]' machinery when the probe set
    * grows). The fusion join is candidate-sized, never corpus².
    *
    * Determinism: both rank lists use integer or bit-exact scores with
    * doc_id tie-breaks (BM25 micros; cosine as the fixed left-fold both
    * engines compute identically — q29/q70-proven), and RRF micros are
    * integer division — the oracle replays the whole pipeline. */
  def q113HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    // sparse side from the shared token stage, same scoring core as q70
    val stage = TextOps.tokenStage(spark, dir)
    val perDoc = stage.groupBy("doc_id").agg(max(col("dl")).as("dl"))
    val stats = perDoc.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).as("n"))
    hybridCore(
      stage.filter(col("token").isNotNull).select(col("doc_id"), col("dl"), col("token")),
      stats, Tables.embeddings(spark, dir), QuerySet, RrfTopK)
  }

  /** [[q113HybridRrf]] over ANY (doc_id, text) docs frame + (vec_id,
    * embedding) frame — the generic entry the `hybrid_rrf(query,
    * probe_id, k)` TVF resolves (array-based tokenize; the q113 route
    * reuses the shared token stage instead). The dense probe is the
    * embedding at `vec_id = probeId`; the sparse query is the
    * whitespace-split term set. */
  def hybridRrf(docs: DataFrame, emb: DataFrame, query: String, probeId: Long,
      k: Int): DataFrame = {
    val terms = query.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "hybrid_rrf: query must contain at least one term")
    val toks = TextOps.tokens(col("text"))
    val d = docs.select(col("doc_id"), toks.as("toks"), size(toks).cast("long").as("dl"))
    val stats = d.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).as("n"))
    hybridCore(d.select(col("doc_id"), col("dl"), explode(col("toks")).as("token")),
      stats, emb, terms.map(probeId -> _), k)
  }

  /** Fusion core: full BM25 candidate ranking (sparse), full cosine
    * ranking per broadcast probe (dense), RRF-merged in integer micros. */
  private def hybridCore(tok: DataFrame, stats: DataFrame, emb: DataFrame,
      queries: Seq[(Long, String)], k: Int): DataFrame =
    hybridFromScores(bm25Scores(tok, stats, queries), emb, queries, k)

  /** [[hybridCore]] over an already-scored sparse frame — q251 scores
    * once and feeds both its systems from the same frame. */
  private def hybridFromScores(scores: DataFrame, emb: DataFrame,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    val sparse = rankScores(scores, Int.MaxValue)
      .select(col("query_id"), col("doc_id"), col("rnk").as("bm25_rnk"))
    // dense: probe vectors broadcast, exact cosine over the corpus,
    // full ranking per probe (q29 shape)
    val queryIds = queries.map(_._1).distinct
    val probes = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("probe_vec"))
    val dense = VectorSearch.topK(
        VectorSearch.exactScan(Tables.fanoutIfHeavy(emb.sparkSession, emb), probes,
          Seq(Similarity.cosine(col("probe_vec"), col("embedding")).as("cos_raw")),
          "query_id", "doc_id"),
        col("cos_raw").desc, None, "query_id", "doc_id", "cos_rnk")
      .select(col("query_id"), col("doc_id"), col("cos_rnk"))
    // fuse: candidate-sized full-outer join; absent list → no contribution
    val fused = sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        col("bm25_rnk").cast("long").as("bm25_rnk"),
        col("cos_rnk").cast("long").as("cos_rnk"),
        (coalesce(expr(s"1000000 div ($RrfK + bm25_rnk)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + cos_rnk)"), lit(0L))).as("rrf_micro"))
    VectorSearch.topK(fused, col("rrf_micro").desc, Some(k), "query_id", "doc_id")
      .select(col("query_id"), col("rnk").cast("long").as("rnk"), col("doc_id"),
        col("rrf_micro"), col("bm25_rnk"), col("cos_rnk"))
      .orderBy("query_id", "rnk")
  }

  /** q199 — RETRIEVAL EVALUATION (recall@k + reciprocal rank): the
    * metrics harness every retrieval deployment runs against its
    * index — here over the q70 BM25 ranking with a DETERMINISTIC
    * relevance rule the oracle can replay: a document is relevant to a
    * query iff it contains EVERY query term (boolean-AND containment —
    * the standard binary-relevance proxy when no human judgments
    * exist). Per query: the relevant-set size (a corpus fact),
    * relevant hits inside the top-[[TopK]], recall@k and the
    * reciprocal rank of the first relevant hit, both in integer
    * micros (truncating division — no float ever crosses a metric
    * boundary).
    *
    * Scale shape: relevance rides the SAME query-vocabulary-filtered
    * token stream as the scoring (distinct (doc, term) matches,
    * candidate-sized), the ranking is q70's own plan, and everything
    * after is |queries|-grain. */
  def q199RetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    evalOver(spark,
      q70Bm25(spark, dir).select(col("query_id"), col("rnk"), col("doc_id")),
      TextOps.tokenStage(spark, dir)
        .filter(col("token").isin(QuerySet.map(_._2).distinct: _*))
        .select("doc_id", "token").distinct())
  }

  /** The harness over ANY (doc_id, text) frame (inline tokenize, the
    * bm25-TVF convention) — the `retrieval_eval()` TVF body. */
  private[graft] def evalDocs(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    evalOver(docs.sparkSession,
      bm25TopK(docs, QuerySet, TopK)
        .select(col("query_id"), col("rnk"), col("doc_id")),
      docs.select(col("doc_id"), explode(toks).as("token"))
        .filter(col("token").isin(QuerySet.map(_._2).distinct: _*))
        .distinct())
  }

  /** Metrics tail over the ranking and the query-vocabulary (doc,
    * token) match set. */
  private def evalOver(spark: SparkSession, ranked: DataFrame,
      matched: DataFrame): DataFrame = {
    import spark.implicits._
    val q = QuerySet.toDF("query_id", "term")
    val nTerms = QuerySet.groupBy(_._1)
      .map { case (id, xs) => (id, xs.map(_._2).distinct.size.toLong) }
      .toSeq.toDF("query_id", "n_terms")
    val rel = q.join(matched, q("term") === matched("token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(countDistinct(col("term")).as("nm"))
      .join(broadcast(nTerms), Seq("query_id"))
      .filter(col("nm") === col("n_terms"))
      .select(col("query_id"), col("doc_id"), lit(1L).as("rel"))
    val nRel = rel.groupBy("query_id").agg(count(lit(1)).as("n_relevant"))
    val perQ = ranked.join(rel, Seq("query_id", "doc_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(coalesce(col("rel"), lit(0L))).as("hits_at_k"),
        min(when(col("rel") === 1L, col("rnk"))).as("first_rel"))
    nTerms
      .join(nRel, Seq("query_id"), "left")
      .join(perQ, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_relevant", "hits_at_k"))
      .select(
        col("query_id"), col("n_terms"), col("n_relevant"), col("hits_at_k"),
        expr("(hits_at_k * 1000000) div greatest(n_relevant, 1)")
          .as("recall_micro"),
        coalesce(expr("1000000 div first_rel"), lit(0L)).as("rr_micro"))
      .orderBy("query_id")
  }

  /** Per-rank DCG discounts in integer MICROS: `round(10⁶ / log2(r+1))`
    * for ranks 1..[[TopK]]. Computed ONCE here and rendered into both
    * engines as a literal rank→discount table (the K1/B literal
    * convention): the transcendental never runs in either engine's
    * plan, so the nDCG arithmetic below is pure integer and
    * hash-exact. */
  private[graft] val DcgDiscMicro: Seq[(Long, Long)] =
    // StrictMath (fdlibm), not Math: Math.log is only 1-ulp-accurate
    // and platform-dependent, and a value on a .5 rounding boundary
    // would silently shift this literal table — and every committed
    // hash — across JVMs (round-14 advisor). The spec pins the head.
    (1 to TopK).map(r =>
      r.toLong -> math.round(1e6 / (StrictMath.log(r + 1.0) / StrictMath.log(2.0))))

  /** q251 — RETRIEVAL QUALITY METRICS (nDCG@k + MRR): the numbers a
    * retrieval stack actually reports, over BOTH ranking systems the
    * engine serves — q70's BM25 and q113's hybrid RRF — against a
    * DETERMINISTIC graded relevance fixture derived from the corpus by
    * a replayable rule (the q199 convention, graded): gain(q, d) = the
    * number of DISTINCT query terms d contains (0..|terms|), the
    * standard graded proxy when no human judgments exist. Per (system,
    * query): DCG@k in discount-micros units, the ideal DCG over the
    * corpus-wide relevant set (gain DESC, doc_id ties), nDCG@k and the
    * reciprocal rank of the first FULLY-relevant hit (gain = |terms|,
    * q199's boolean-AND rule) — plus one `query_id = -1` summary row
    * per system carrying the mean nDCG and the MRR (truncating integer
    * micro means). q199 answers "did the relevant docs make top-k";
    * this ranks the two systems by position-weighted graded quality —
    * the comparison a retrieval deployment reads before switching
    * rankers.
    *
    * Scale shape: relevance rides the SAME query-vocabulary-filtered
    * token stream as the scoring (candidate-sized, never the corpus
    * stream); both rankings are their own proven plans; everything
    * after is (|queries| × k)-grain with the discount table a broadcast
    * literal join. The ideal ranking windows per query over the
    * candidate set only. */
  def q251RetrievalQuality(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val stage = TextOps.tokenStage(spark, dir)
    val perDoc = stage.groupBy("doc_id").agg(max(col("dl")).as("dl"))
    val stats = perDoc.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).as("n"))
    // the sparse side scored ONCE (candidate-sized, checkpointed) and
    // fed to BOTH systems — q70 and q113 each rebuild it standalone,
    // but inside one metric query that would double the scoring pass
    val scores = graft.core.Materialize.once(bm25Scores(
      stage.filter(col("token").isNotNull)
        .select(col("doc_id"), col("dl"), col("token")),
      stats, QuerySet))
    // TRIED AND REJECTED (round-16, the round-15 verdict's item 3): a
    // driver-thread fork of the two ranker arms (each arm
    // Materialize.once'd via JobOverlap, the q200 idiom). Measured at
    // sf0.1/32 cores, min-of-6: 3.767 → 3.869 s (medians 4.03 → 4.20) —
    // the metric tail is ONE job whose scheduler already interleaves the
    // two arms' stages off the shared `scores` RDD, so the fork only
    // added two materialization jobs' fixed cost. Same family as the
    // r15 negative results (gains checkpoint +0.9 s): this tail has no
    // serialized independent jobs left to overlap.
    val ranked = rankScores(scores, TopK)
      .select(lit("bm25").as("system"), col("query_id"), col("rnk"), col("doc_id"))
      .unionByName(hybridFromScores(scores, Tables.embeddings(spark, dir),
        QuerySet, RrfTopK)
        .select(lit("hybrid_rrf").as("system"), col("query_id"), col("rnk"),
          col("doc_id")))
    qualityOver(spark,
      ranked,
      stage.filter(col("token").isin(QuerySet.map(_._2).distinct: _*))
        .select("doc_id", "token").distinct())
  }

  /** System labels the q251 ranking frame carries — a LITERAL list
    * (mirrored as a VALUES clause in the oracle) so the metric grid
    * exists independently of what either ranker happened to emit. */
  private[graft] val QualitySystems: Seq[String] = Seq("bm25", "hybrid_rrf")

  /** The metric tail over ANY ("system", query_id, rnk, doc_id) ranking
    * frame + a distinct (doc_id, token) query-vocabulary match set.
    *
    * Means are taken over the FULL (`systems` × `queryIds`) grid, not
    * over the per-(system, query) rows the ranking happened to produce
    * (round-14 advisor): a query where a system scores nothing must
    * enter that system's mean as nDCG = 0 / RR = 0, or the two systems'
    * summary rows silently average over different query counts — biasing
    * exactly the cross-ranker comparison this metric exists for. */
  private[operators] def qualityOver(spark: SparkSession, ranked: DataFrame,
      matched: DataFrame,
      systems: Seq[String] = QualitySystems,
      queryIds: Seq[Long] = QuerySet.map(_._1).distinct): DataFrame = {
    import spark.implicits._
    val q = QuerySet.toDF("query_id", "term")
    val nTerms = QuerySet.groupBy(_._1)
      .map { case (id, xs) => (id, xs.map(_._2).distinct.size.toLong) }
      .toSeq.toDF("query_id", "n_terms")
    val discs = DcgDiscMicro.toDF("rnk", "disc_micro")
    // graded gains over the candidate set (docs matching >= 1 term)
    val gains = q.join(matched, q("term") === matched("token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(countDistinct(col("term")).as("gain"))
    // DCG@k + first fully-relevant rank, per (system, query)
    val dcg = ranked
      .join(gains, Seq("query_id", "doc_id"), "left")
      .withColumn("gain", coalesce(col("gain"), lit(0L)))
      .join(broadcast(discs), Seq("rnk"))
      .join(broadcast(nTerms), Seq("query_id"))
      .groupBy("system", "query_id")
      .agg(
        sum(col("gain") * col("disc_micro")).as("dcg_units"),
        min(when(col("gain") === col("n_terms"), col("rnk"))).as("first_rel"))
    // ideal DCG@k: the corpus-wide relevant set in (gain DESC, doc_id)
    // order — per-query window over the candidate set only
    val iw = Window.partitionBy("query_id")
      .orderBy(col("gain").desc, col("doc_id"))
    val idcg = gains
      .withColumn("rnk", row_number().over(iw).cast("long"))
      .filter(col("rnk") <= TopK)
      .join(broadcast(discs), Seq("rnk"))
      .groupBy("query_id")
      .agg(sum(col("gain") * col("disc_micro")).as("idcg_units"))
    // the full (system × query) grid — two tiny literal frames, so the
    // cross join is a broadcast of |systems|·|queries| rows, never data
    val grid = systems.toDF("system")
      .crossJoin(broadcast(queryIds.toDF("query_id")))
    // (|queries| × systems)-row frame, materialized ONCE: it feeds both
    // the per-query rows and the summary aggregate below, and without
    // the checkpoint the whole two-ranker pipeline re-executes per
    // union branch (the q175 double-compute lesson — measured 3.3 s vs
    // 1.6 s for the two rankings themselves)
    val perQ = grid
      .join(dcg, Seq("system", "query_id"), "left")
      .join(idcg, Seq("query_id"), "left")
      .na.fill(0L, Seq("dcg_units", "idcg_units"))
      .select(col("system"), col("query_id"),
        col("dcg_units"), col("idcg_units"),
        expr("(dcg_units * 1000000) div greatest(idcg_units, 1)").as("ndcg_micro"),
        coalesce(expr("1000000 div first_rel"), lit(0L)).as("rr_micro"))
      .transform(graft.core.Materialize.once(_))
    val summary = perQ.groupBy("system")
      .agg(
        sum(col("dcg_units")).as("dcg_units"),
        sum(col("idcg_units")).as("idcg_units"),
        expr("sum(ndcg_micro) div count(*)").as("ndcg_micro"),
        expr("sum(rr_micro) div count(*)").as("rr_micro"))
      .select(col("system"), lit(-1L).as("query_id"), col("dcg_units"),
        col("idcg_units"), col("ndcg_micro"), col("rr_micro"))
    perQ.unionByName(summary).orderBy("system", "query_id")
  }

  /** [[q251RetrievalQuality]] over ANY (doc_id, text) docs frame +
    * (vec_id, embedding) frame — the `retrieval_quality()` TVF body
    * (array-based tokenize; the q251 route reuses the shared token
    * stage instead). */
  private[graft] def tableQuality(docs: DataFrame, emb: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val d = docs.select(col("doc_id"), toks.as("toks"),
      size(toks).cast("long").as("dl"))
    val stats = d.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).as("n"))
    val tok = d.select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
    val scores = graft.core.Materialize.once(bm25Scores(tok, stats, QuerySet))
    val ranked = rankScores(scores, TopK)
      .select(lit("bm25").as("system"), col("query_id"), col("rnk"), col("doc_id"))
      .unionByName(hybridFromScores(scores, emb, QuerySet, RrfTopK)
        .select(lit("hybrid_rrf").as("system"), col("query_id"), col("rnk"),
          col("doc_id")))
    qualityOver(docs.sparkSession, ranked,
      tok.filter(col("token").isin(QuerySet.map(_._2).distinct: _*))
        .select("doc_id", "token").distinct())
  }

  /** Context-window token budget of the q211 packer (a deployment
    * passes its model's window minus prompt overhead). */
  val ContextBudgetTokens = 512L

  /** q211 — RAG CONTEXT PACKING: for each query, greedily fill a
    * [[ContextBudgetTokens]]-token context window with the BM25-ranked
    * candidate documents — the retrieval-to-prompt assembly step of a
    * RAG serving path (rank, then take the ranked prefix whose
    * cumulative length fits the window). q70 answers "what ranks";
    * this answers "what actually SHIPS to the model" — the distinction
    * that decides chunk sizing and window budgets.
    *
    * Greedy-prefix contract (deterministic on both engines): candidates
    * in (micro DESC, doc_id) order; a document is packed iff the
    * cumulative token count THROUGH IT stays ≤ the budget — one
    * over-budget document stops the prefix (no skip-and-continue
    * knapsack, which is order-fragile and buys little at serving time).
    *
    * Scale shape: the scored frame is candidates-sized (query-vocab
    * filter before the shuffle, the q70 plan); the pack is one
    * per-query window cumsum over it and a |queries|-row report. */
  def q211ContextPack(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val stage = TextOps.tokenStage(spark, dir)
    val perDoc = stage.groupBy("doc_id").agg(max(col("dl")).as("dl"))
    val stats = perDoc.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).as("n"))
    val scores = bm25Scores(
      stage.filter(col("token").isNotNull)
        .select(col("doc_id"), col("dl"), col("token")),
      stats, QuerySet)
    val w = Window.partitionBy("query_id")
      .orderBy(col("micro").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scores
      .withColumn("cum", sum(col("dl")).over(w))
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(when(col("cum") <= ContextBudgetTokens, 1L).otherwise(0L))
          .as("n_docs_packed"),
        coalesce(max(when(col("cum") <= ContextBudgetTokens, col("cum"))),
          lit(0L)).as("tokens_packed"))
      .withColumn("fill_micro",
        expr(s"(1000000 * tokens_packed) div $ContextBudgetTokens"))
      .orderBy("query_id")
  }

  /** Phrase count for [[q214PhraseSearch]] — the top slice of the q92
    * collocation ranking. */
  val PhraseTopK = 5

  /** q214 — POSITIONAL PHRASE SEARCH: exact-order multi-token matching,
    * the capability a bag-of-words index (q70 BM25, q117 postings)
    * cannot express — "hash join" must match those two tokens ADJACENT
    * and IN ORDER, not co-present. The phrase set is the top
    * [[PhraseTopK]] of the q92 PMI collocation ranking (same stage,
    * same scoring — the phrases a vocabulary pipeline would actually
    * promote), and each hit row reports per-(phrase, doc) occurrence
    * count and first position — the positional-postings answer shape.
    *
    * Scale shape: bigram occurrences are built ROW-LOCALLY from the
    * token array (one transform + explode, no window shuffle — the
    * within-doc adjacency never leaves the row), then semi-joined
    * against the broadcast phrase list BEFORE the only aggregation, so
    * the shuffle carries hit occurrences only — never the corpus bigram
    * stream. At a 100 TB corpus the phrase list is the tiny side by
    * construction (a query, not a table).
    *
    * Parity: positions are 0-based integers; counts and min-position
    * are integer aggregates; the phrase list is deterministic (integer
    * micro-PMI, bigram tie-break). */
  def q214PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val phrases = TextOps.pmiScored(spark, dir)
      .orderBy(desc("pmi_micro"), col("bigram"))
      .limit(PhraseTopK)
      .select(col("bigram").as("phrase"))
    phraseHits(Tables.fanout(spark, Tables.documents(spark, dir)), phrases)
  }

  /** Positional hits of `phrases` (a 1-column `phrase` frame of
    * space-joined bigrams) over ANY documents frame (also the
    * `phrase_search()` TVF body). */
  private[graft] def phraseHits(docs: DataFrame, phrases: DataFrame): DataFrame = {
    val w = col("w")
    val occ = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .filter(size(w) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(0), size(w) - 2),
        i => struct(
          concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2)).as("phrase"),
          i.cast("long").as("pos")))).as("e"))
      .select(col("doc_id"), col("e.phrase").as("phrase"), col("e.pos").as("pos"))
    occ.join(broadcast(phrases), Seq("phrase"))
      .groupBy("phrase", "doc_id")
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
      .orderBy("phrase", "doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q214_phrase_search" -> (q214PhraseSearch _),
    "q70_bm25" -> (q70Bm25 _),
    "q113_hybrid_rrf" -> (q113HybridRrf _),
    "q117_inverted_index" -> (q117InvertedIndex _),
    "q199_retrieval_eval" -> (q199RetrievalEval _),
    "q251_retrieval_quality" -> (q251RetrievalQuality _),
    "q211_context_pack" -> (q211ContextPack _))

  private val valuesSql =
    QuerySet.map { case (id, t) => s"($id, '$t')" }.mkString(", ")

  private val queryIdsSql = QuerySet.map(_._1).distinct.mkString(", ")

  val oracles: Map[String, String] = Map(
    // q214: the q92 PMI CTEs re-ranked to the top-5 phrase list, then
    // 0-based bigram positions replayed per occurrence
    "q214_phrase_search" ->
      s"""WITH d AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
         |  FROM documents),
         |d2 AS (SELECT doc_id, t FROM d WHERE len(t) >= 2),
         |uc AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(t) AS w FROM d2) GROUP BY w),
         |bc AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS cb
         |  FROM (SELECT unnest(list_transform(range(1, len(t)),
         |          i -> t[i] || ' ' || t[i + 1])) AS bg FROM d2)
         |  GROUP BY bg),
         |tot AS (
         |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uc) AS n_u,
         |         (SELECT CAST(sum(cb) AS BIGINT) FROM bc) AS n_b),
         |ph AS (
         |  SELECT bg AS phrase FROM bc
         |  CROSS JOIN tot
         |  JOIN uc u1 ON u1.w = string_split(bg, ' ')[1]
         |  JOIN uc u2 ON u2.w = string_split(bg, ' ')[2]
         |  WHERE cb >= ${TextOps.PmiMinPair}
         |  ORDER BY CAST(round(log2((CAST(cb AS DOUBLE) * n_u * n_u)
         |    / (CAST(n_b AS DOUBLE) * u1.c * u2.c)) * 1000000) AS BIGINT) DESC, bg
         |  LIMIT $PhraseTopK),
         |e AS (SELECT doc_id, unnest(range(1, len(t))) AS i, t FROM d2),
         |occ AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |        t[i] || ' ' || t[i + 1] AS bg FROM e)
         |SELECT ph.phrase, occ.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         |  min(occ.pos) AS first_pos
         |FROM occ JOIN ph ON occ.bg = ph.phrase
         |GROUP BY 1, 2
         |ORDER BY phrase, doc_id""".stripMargin,
    // the postings fingerprint is replayed occurrence for occurrence:
    // a dropped posting, a shifted position or a merged document changes
    // the integer sum
    "q117_inverted_index" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |occ AS (
         |  SELECT doc_id, unnest(w) AS token,
         |         unnest(range(1, len(w) + 1)) AS pos1 FROM tok)
         |SELECT token,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         |  CAST(COUNT(*) AS BIGINT) AS cf,
         |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
         |  CAST(SUM((doc_id + 1) * pos1) AS BIGINT) AS postings_fp
         |FROM occ GROUP BY token
         |ORDER BY cf DESC, token LIMIT $IndexTopK""".stripMargin,
    "q70_bm25" ->
      s"""WITH d AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |dd AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
         |stats AS (
         |  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, count(*) AS n
         |  FROM dd),
         |q(query_id, term) AS (VALUES $valuesSql),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
         |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM dd) u
         |  WHERE token IN (SELECT DISTINCT term FROM q)
         |  GROUP BY doc_id, token),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |contrib AS (
         |  SELECT q.query_id, tf.doc_id,
         |    CAST(round(
         |      ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
         |        (tf.tf * $K1Plus1Lit) /
         |        (tf.tf + $K1Lit * ($OneMinusBLit + $BLit * tf.dl / stats.avgdl)) *
         |      1000000) AS BIGINT) AS contrib
         |  FROM q JOIN tf ON q.term = tf.token JOIN df ON df.token = tf.token, stats),
         |agg AS (
         |  SELECT query_id, doc_id, sum(contrib) AS micro
         |  FROM contrib GROUP BY query_id, doc_id),
         |r AS (
         |  SELECT query_id, doc_id, micro,
         |    row_number() OVER (PARTITION BY query_id ORDER BY micro DESC, doc_id) AS rnk
         |  FROM agg)
         |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rnk,
         |  doc_id, round(micro / 1000000.0, 4) AS score
         |FROM r WHERE rnk <= $TopK ORDER BY query_id, rnk""".stripMargin,
    // q199: the q70 ranking CTEs + the boolean-AND relevance rule and
    // the integer recall/RR arithmetic, replayed value-for-value
    "q199_retrieval_eval" ->
      s"""WITH d AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |dd AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
         |stats AS (
         |  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, count(*) AS n
         |  FROM dd),
         |q(query_id, term) AS (VALUES $valuesSql),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
         |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM dd) u
         |  WHERE token IN (SELECT DISTINCT term FROM q)
         |  GROUP BY doc_id, token),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |contrib AS (
         |  SELECT q.query_id, tf.doc_id,
         |    CAST(round(
         |      ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
         |        (tf.tf * $K1Plus1Lit) /
         |        (tf.tf + $K1Lit * ($OneMinusBLit + $BLit * tf.dl / stats.avgdl)) *
         |      1000000) AS BIGINT) AS contrib
         |  FROM q JOIN tf ON q.term = tf.token JOIN df ON df.token = tf.token, stats),
         |agg AS (
         |  SELECT query_id, doc_id, sum(contrib) AS micro
         |  FROM contrib GROUP BY query_id, doc_id),
         |r AS (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY micro DESC, doc_id) AS rnk
         |  FROM agg),
         |topk AS (SELECT query_id, doc_id, rnk FROM r WHERE rnk <= $TopK),
         |nterms AS (
         |  SELECT query_id, count(DISTINCT term) AS n_terms FROM q GROUP BY query_id),
         |mt AS (
         |  SELECT DISTINCT doc_id, token FROM tf),
         |rel AS (
         |  SELECT qq.query_id, mt.doc_id
         |  FROM (SELECT DISTINCT query_id, term FROM q) qq
         |  JOIN mt ON qq.term = mt.token
         |  GROUP BY qq.query_id, mt.doc_id
         |  HAVING count(*) = (SELECT n_terms FROM nterms
         |                     WHERE nterms.query_id = qq.query_id)),
         |nrel AS (SELECT query_id, count(*) AS n_relevant FROM rel GROUP BY query_id),
         |hits AS (
         |  SELECT t.query_id,
         |    sum(CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS hits_at_k,
         |    min(CASE WHEN rel.doc_id IS NOT NULL THEN t.rnk END) AS first_rel
         |  FROM topk t LEFT JOIN rel
         |    ON t.query_id = rel.query_id AND t.doc_id = rel.doc_id
         |  GROUP BY t.query_id)
         |SELECT CAST(nterms.query_id AS BIGINT) AS query_id,
         |  CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(coalesce(n_relevant, 0) AS BIGINT) AS n_relevant,
         |  CAST(coalesce(hits_at_k, 0) AS BIGINT) AS hits_at_k,
         |  CAST((coalesce(hits_at_k, 0) * 1000000)
         |    // greatest(coalesce(n_relevant, 0), 1) AS BIGINT) AS recall_micro,
         |  CAST(coalesce(1000000 // first_rel, 0) AS BIGINT) AS rr_micro
         |FROM nterms LEFT JOIN nrel USING (query_id) LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin,
    "q113_hybrid_rrf" ->
      s"""WITH d AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |dd AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
         |stats AS (
         |  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, count(*) AS n
         |  FROM dd),
         |q(query_id, term) AS (VALUES $valuesSql),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
         |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM dd) u
         |  WHERE token IN (SELECT DISTINCT term FROM q)
         |  GROUP BY doc_id, token),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |contrib AS (
         |  SELECT q.query_id, tf.doc_id,
         |    CAST(round(
         |      ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
         |        (tf.tf * $K1Plus1Lit) /
         |        (tf.tf + $K1Lit * ($OneMinusBLit + $BLit * tf.dl / stats.avgdl)) *
         |      1000000) AS BIGINT) AS contrib
         |  FROM q JOIN tf ON q.term = tf.token JOIN df ON df.token = tf.token, stats),
         |sparse AS (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sum(contrib) DESC, doc_id) AS bm25_rnk
         |  FROM contrib GROUP BY query_id, doc_id),
         |probes AS (
         |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS pv
         |  FROM embeddings WHERE vec_id IN ($queryIdsSql)),
         |dense AS (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, doc_id) AS cos_rnk
         |  FROM (
         |    SELECT p.query_id, e.vec_id AS doc_id,
         |      list_dot_product(p.pv, CAST(e.embedding AS DOUBLE[])) /
         |        sqrt(list_dot_product(p.pv, p.pv) *
         |             list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS cos_raw
         |    FROM embeddings e, probes p WHERE e.vec_id <> p.query_id) s),
         |fused AS (
         |  SELECT coalesce(s.query_id, de.query_id) AS query_id,
         |    coalesce(s.doc_id, de.doc_id) AS doc_id,
         |    s.bm25_rnk, de.cos_rnk,
         |    coalesce(1000000 // ($RrfK + s.bm25_rnk), 0) +
         |    coalesce(1000000 // ($RrfK + de.cos_rnk), 0) AS rrf_micro
         |  FROM sparse s FULL OUTER JOIN dense de
         |    ON s.query_id = de.query_id AND s.doc_id = de.doc_id),
         |r AS (
         |  SELECT query_id, doc_id, rrf_micro, bm25_rnk, cos_rnk,
         |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id) AS rnk
         |  FROM fused)
         |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rnk, doc_id,
         |  CAST(rrf_micro AS BIGINT) AS rrf_micro,
         |  CAST(bm25_rnk AS BIGINT) AS bm25_rnk, CAST(cos_rnk AS BIGINT) AS cos_rnk
         |FROM r WHERE rnk <= $RrfTopK ORDER BY query_id, rnk""".stripMargin,
    // q251: both ranking pipelines' proven CTEs (q70's BM25, q113's
    // fused RRF), the graded gain rule, the LITERAL rank→discount table
    // (the same Scala-computed micros the engine joins), and the
    // integer nDCG/MRR arithmetic
    "q251_retrieval_quality" -> {
      val discValues = DcgDiscMicro
        .map { case (r, d) => s"($r, $d)" }.mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |dd AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
         |stats AS (
         |  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, count(*) AS n
         |  FROM dd),
         |q(query_id, term) AS (VALUES $valuesSql),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
         |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM dd) u
         |  WHERE token IN (SELECT DISTINCT term FROM q)
         |  GROUP BY doc_id, token),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |contrib AS (
         |  SELECT q.query_id, tf.doc_id,
         |    CAST(round(
         |      ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
         |        (tf.tf * $K1Plus1Lit) /
         |        (tf.tf + $K1Lit * ($OneMinusBLit + $BLit * tf.dl / stats.avgdl)) *
         |      1000000) AS BIGINT) AS contrib
         |  FROM q JOIN tf ON q.term = tf.token JOIN df ON df.token = tf.token, stats),
         |agg AS (
         |  SELECT query_id, doc_id, sum(contrib) AS micro
         |  FROM contrib GROUP BY query_id, doc_id),
         |r1 AS (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY micro DESC, doc_id) AS rnk
         |  FROM agg),
         |topk70 AS (SELECT query_id, doc_id, rnk FROM r1 WHERE rnk <= $TopK),
         |sparse AS (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sum(contrib) DESC, doc_id) AS bm25_rnk
         |  FROM contrib GROUP BY query_id, doc_id),
         |probes AS (
         |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS pv
         |  FROM embeddings WHERE vec_id IN ($queryIdsSql)),
         |dense AS (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, doc_id) AS cos_rnk
         |  FROM (
         |    SELECT p.query_id, e.vec_id AS doc_id,
         |      list_dot_product(p.pv, CAST(e.embedding AS DOUBLE[])) /
         |        sqrt(list_dot_product(p.pv, p.pv) *
         |             list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS cos_raw
         |    FROM embeddings e, probes p WHERE e.vec_id <> p.query_id) s),
         |fused AS (
         |  SELECT coalesce(s.query_id, de.query_id) AS query_id,
         |    coalesce(s.doc_id, de.doc_id) AS doc_id,
         |    coalesce(1000000 // ($RrfK + s.bm25_rnk), 0) +
         |    coalesce(1000000 // ($RrfK + de.cos_rnk), 0) AS rrf_micro
         |  FROM sparse s FULL OUTER JOIN dense de
         |    ON s.query_id = de.query_id AND s.doc_id = de.doc_id),
         |r2 AS (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id) AS rnk
         |  FROM fused),
         |topk113 AS (SELECT query_id, doc_id, rnk FROM r2 WHERE rnk <= $RrfTopK),
         |ranked AS (
         |  SELECT 'bm25' AS system, query_id, doc_id, rnk FROM topk70
         |  UNION ALL
         |  SELECT 'hybrid_rrf', query_id, doc_id, rnk FROM topk113),
         |nterms AS (
         |  SELECT query_id, count(DISTINCT term) AS n_terms FROM q GROUP BY query_id),
         |gains AS (
         |  SELECT qq.query_id, tf.doc_id, CAST(count(DISTINCT qq.term) AS BIGINT) AS gain
         |  FROM (SELECT DISTINCT query_id, term FROM q) qq
         |  JOIN tf ON qq.term = tf.token
         |  GROUP BY qq.query_id, tf.doc_id),
         |disc(rnk, dm) AS (VALUES $discValues),
         |dcg AS (
         |  SELECT rk.system, rk.query_id,
         |    CAST(sum(coalesce(g.gain, 0) * disc.dm) AS BIGINT) AS dcg_units,
         |    min(CASE WHEN coalesce(g.gain, 0) = nt.n_terms THEN rk.rnk END) AS first_rel
         |  FROM ranked rk
         |  LEFT JOIN gains g ON rk.query_id = g.query_id AND rk.doc_id = g.doc_id
         |  JOIN disc ON disc.rnk = rk.rnk
         |  JOIN nterms nt ON nt.query_id = rk.query_id
         |  GROUP BY 1, 2),
         |ideal AS (
         |  SELECT query_id, gain,
         |    row_number() OVER (PARTITION BY query_id ORDER BY gain DESC, doc_id) AS irnk
         |  FROM gains),
         |idcg AS (
         |  SELECT query_id, CAST(sum(gain * dm) AS BIGINT) AS idcg_units
         |  FROM ideal JOIN disc ON disc.rnk = ideal.irnk
         |  WHERE irnk <= $TopK GROUP BY query_id),
         |syss(system) AS (VALUES ${QualitySystems.map(s => s"('$s')").mkString(", ")}),
         |grid AS (
         |  SELECT system, query_id FROM syss
         |  CROSS JOIN (SELECT DISTINCT query_id FROM q)),
         |perq AS (
         |  SELECT g.system, CAST(g.query_id AS BIGINT) AS query_id,
         |    CAST(coalesce(dc.dcg_units, 0) AS BIGINT) AS dcg_units,
         |    CAST(coalesce(i.idcg_units, 0) AS BIGINT) AS idcg_units,
         |    CAST((coalesce(dc.dcg_units, 0) * 1000000)
         |      // greatest(coalesce(i.idcg_units, 0), 1) AS BIGINT) AS ndcg_micro,
         |    CAST(coalesce(1000000 // dc.first_rel, 0) AS BIGINT) AS rr_micro
         |  FROM grid g
         |  LEFT JOIN dcg dc ON dc.system = g.system AND dc.query_id = g.query_id
         |  LEFT JOIN idcg i ON g.query_id = i.query_id)
         |SELECT system, query_id, dcg_units, idcg_units, ndcg_micro, rr_micro FROM (
         |  SELECT * FROM perq
         |  UNION ALL
         |  SELECT system, CAST(-1 AS BIGINT), CAST(sum(dcg_units) AS BIGINT),
         |    CAST(sum(idcg_units) AS BIGINT),
         |    CAST(sum(ndcg_micro) // count(*) AS BIGINT),
         |    CAST(sum(rr_micro) // count(*) AS BIGINT)
         |  FROM perq GROUP BY system)
         |ORDER BY system, query_id""".stripMargin
    },
    // q211: the q70 scoring CTEs + the greedy-prefix pack — cumulative
    // dl in (micro DESC, doc_id) order, packed iff cum ≤ budget.
    "q211_context_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |dd AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
         |stats AS (
         |  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, count(*) AS n
         |  FROM dd),
         |q(query_id, term) AS (VALUES $valuesSql),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
         |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM dd) u
         |  WHERE token IN (SELECT DISTINCT term FROM q)
         |  GROUP BY doc_id, token),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |contrib AS (
         |  SELECT q.query_id, tf.doc_id, tf.dl,
         |    CAST(round(
         |      ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
         |        (tf.tf * $K1Plus1Lit) /
         |        (tf.tf + $K1Lit * ($OneMinusBLit + $BLit * tf.dl / stats.avgdl)) *
         |      1000000) AS BIGINT) AS contrib
         |  FROM q JOIN tf ON q.term = tf.token JOIN df ON df.token = tf.token, stats),
         |agg AS (
         |  SELECT query_id, doc_id, sum(contrib) AS micro, max(dl) AS dl
         |  FROM contrib GROUP BY query_id, doc_id),
         |c AS (
         |  SELECT query_id, dl,
         |    sum(dl) OVER (PARTITION BY query_id ORDER BY micro DESC, doc_id
         |                  ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM agg)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |  CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(sum(CASE WHEN cum <= $ContextBudgetTokens THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs_packed,
         |  CAST(coalesce(max(CASE WHEN cum <= $ContextBudgetTokens THEN cum END), 0)
         |    AS BIGINT) AS tokens_packed,
         |  CAST((1000000 * coalesce(max(CASE WHEN cum <= $ContextBudgetTokens THEN cum END), 0))
         |    // $ContextBudgetTokens AS BIGINT) AS fill_micro
         |FROM c GROUP BY query_id ORDER BY query_id""".stripMargin)
}
