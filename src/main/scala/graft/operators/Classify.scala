package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Trained document-quality classification (SURVEY §2.9 extension): the
  * fastText-style "train a cheap classifier, score the whole corpus"
  * curation step (Joulin et al. 2016; GPT-3's quality filter, Brown et
  * al. 2020 App. A) expressed as pure relational algebra — a multinomial
  * Naive Bayes over token counts with add-1 smoothing, trained and
  * applied in the SAME Spark job.
  *
  * Contrast with [[Sampling.q129DsirSelect]] (DSIR): DSIR hashes features
  * into a FIXED B=64 bucket space precisely so its model can collect and
  * broadcast; this family keeps the full VOCABULARY-SIZED model as a
  * distributed frame and scores by a token-keyed JOIN — the shape for
  * models too large to broadcast (a web-scale vocabulary). The streaming
  * twin ([[graft.streaming.ClassifyStream]]) bridges the two: it ships
  * the [[NbModelK]]-largest-|weight| slice of the model, bounded by
  * construction, into the ingest path.
  *
  * Parity contract (the q78/q129 recipe): each log₂ is rounded to integer
  * MICRO-BITS separately, scores are integer sums of (tf · weight), and
  * every published double is one int-derived division — so float addition
  * order can never flip a verdict in either engine.
  */
object Classify extends graft.QueryModule {

  /** Truncated-model size for the streaming scorer (top-K by |weight|,
    * ties by token) — fixed, so the model ships at any corpus scale. */
  val NbModelK = 256

  /** Filler-token list and the admission ratio for the training label:
    * `hq` iff filler-token share ≤ 1/[[FillerMax]]. */
  val FillerTokens: Seq[String] = Seq("a", "the")
  val FillerMax = 16

  /** Per-document training labels from the shared token stage:
    * `hq` = filler-token ratio ≤ 1/16 (`16·#filler ≤ total`) — the
    * C4-style "too much boilerplate filler" heuristic (Raffel et al.
    * 2020 §2.2 uses stopword/punct rules the same way), pure-integer,
    * and — crucially for a NB teacher signal — TOKEN-IDENTITY-driven,
    * so the classifier has something to learn (a length-only label is
    * invisible to a bag-of-words model; measured: this label trains to
    * ~94-98% self-agreement on the fixtures, balanced ~50/50). The
    * label RULE is fixture machinery; the train/score plumbing is the
    * operator. Token-less docs label hq (0 ≤ 0), deterministic both
    * engines. */
  private[graft] def labels(spark: SparkSession, dir: String): DataFrame =
    labelsOf(TextOps.tokenStage(spark, dir))

  /** The label rule over any tokenized (doc_id, dl, pos, token) frame —
    * shared by the staged corpus path and the TVF's fresh-tokenize
    * path, so the two can never drift. */
  private def labelsOf(tokd: DataFrame): DataFrame =
    tokd
      .groupBy("doc_id")
      .agg(max(col("dl")).as("dl"),
        coalesce(sum(when(col("token").isInCollection(FillerTokens), 1L)
          .otherwise(0L)), lit(0L)).as("filler"))
      .select(col("doc_id"), (col("filler") * FillerMax <= col("dl")).as("hq"))

  /** Per-(doc, token) term frequencies off the shared token stage. */
  private def termFreqs(spark: SparkSession, dir: String): DataFrame =
    TextOps.tokenStream(spark, dir)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))

  /** The trained model: per-token class counts and the integer micro-bit
    * log-likelihood-ratio weight. VOCABULARY-SIZED and kept distributed —
    * never collected; scoring joins on `token`. The class totals and
    * vocabulary size are one scalar row, attached by broadcast cross
    * join (the BM25 move). */
  private[graft] def nbModel(tf: DataFrame, lab: DataFrame): DataFrame =
    weightsOf(countsOf(tf, lab))

  /** Per-(token, class) occurrence counts from term frequencies +
    * labels — the ADDITIVE grain of the model, which is what makes it
    * incrementally maintainable ([[incrementalNbCounts]]). */
  private def countsOf(tf: DataFrame, lab: DataFrame): DataFrame =
    tf.join(lab, Seq("doc_id"))
      .groupBy("token")
      .agg(
        coalesce(sum(when(col("hq"), col("tf"))), lit(0L)).as("cp"),
        coalesce(sum(when(not(col("hq")), col("tf"))), lit(0L)).as("cn"))

  /** The integer micro-bit weights over ANY (token, cp, cn) count
    * frame; totals and vocabulary size ride a 1-row broadcast. */
  private[graft] def weightsOf(counts: DataFrame): DataFrame = {
    val totals = counts.agg(
      sum(col("cp")).as("tp"), sum(col("cn")).as("tn"),
      count(lit(1)).as("v"))
    counts.crossJoin(broadcast(totals))
      .select(col("token"), col("cp"), col("cn"),
        (round(log2((col("cp") + 1).cast("double") / (col("tp") + col("v"))) * 1000000)
          .cast("long") -
          round(log2((col("cn") + 1).cast("double") / (col("tn") + col("v"))) * 1000000)
            .cast("long")).as("w_micro"))
  }

  /** [[countsOf]] from a raw (doc_id, text) frame — fresh tokenize, for
    * the diff slices of the incremental path. */
  private def classCountsOf(docs: DataFrame): DataFrame = {
    val tokd = TextOps.tokenized(docs.select(col("doc_id"), col("text")))
    countsOf(
      tokd.filter(col("token").isNotNull)
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")),
      labelsOf(tokd))
  }

  /** Incremental NB model maintenance: class counts are ADDITIVE per
    * token, so a recrawl updates the model by SUBTRACTING the
    * removed/changed docs' v1 contributions and ADDING the
    * added/changed docs' v2 contributions — the update is diff-sized
    * (the q100/q116/q149 change-sized story applied to a trained
    * model; no unchanged doc is ever re-tokenized, and a 100 TB model
    * refresh costs O(recrawl delta)). Labels are per-doc-local, so a
    * changed doc whose filler ratio crosses the line flips class
    * automatically in both deltas. Tokens whose counts drop to zero
    * leave the vocabulary, matching a from-scratch rebuild. */
  def incrementalNbCounts(prev: DataFrame, v1: DataFrame, v2: DataFrame): DataFrame = {
    val d = broadcast(Corpus.diff(v1, v2))
    val minus = classCountsOf(
      v1.join(d.filter(col("status").isin("removed", "changed")), Seq("doc_id"))
        .select(col("doc_id"), col("text")))
      .select(col("token"), (-col("cp")).as("cp"), (-col("cn")).as("cn"))
    val plus = classCountsOf(
      v2.join(d.filter(col("status").isin("added", "changed")), Seq("doc_id"))
        .select(col("doc_id"), col("text")))
    prev.unionByName(minus).unionByName(plus)
      .groupBy("token")
      .agg(sum(col("cp")).as("cp"), sum(col("cn")).as("cn"))
      .filter(col("cp") =!= 0 || col("cn") =!= 0)
  }

  /** q164 — INCREMENTAL CLASSIFIER MAINTENANCE: the v1-trained model
    * advanced to v2 by [[incrementalNbCounts]] over the snapshot diff,
    * re-weighted, emitted as the full (token, cp, cn, w_micro) model.
    * The oracle REBUILDS the v2 model from scratch — any stale carried
    * count, missed label flip, or lingering zero-count token breaks the
    * hash. Uses the growth snapshot (changed docs' text grows), so
    * changed docs genuinely change their contributions. */
  def q164IncrementalNb(spark: SparkSession, dir: String): DataFrame = {
    val v1 = SnapshotFixture.table(spark, dir, "documents_v1_growth")
    val v2 = SnapshotFixture.table(spark, dir, "documents_v2")
    weightsOf(incrementalNbCounts(classCountsOf(v1), v1, v2))
      .orderBy("token")
  }

  /** The class-prior log-ratio in micro-bits, as a 1-row frame. */
  private def priorMicro(lab: DataFrame): DataFrame =
    lab.agg(
      coalesce(sum(when(col("hq"), 1L)), lit(0L)).as("np"),
      coalesce(sum(when(not(col("hq")), 1L)), lit(0L)).as("nn"))
      .select(
        (round(log2(col("np").cast("double")) * 1000000).cast("long") -
          round(log2(col("nn").cast("double")) * 1000000).cast("long"))
          .as("prior_micro"))

  /** Per-document integer NB scores: prior + Σ tf·w over the token-keyed
    * model join; docs with no tokens score the prior alone. Returns
    * (doc_id, hq, score_micro, pred_hq). */
  private[graft] def nbScores(spark: SparkSession, dir: String): DataFrame =
    nbScoresOf(labels(spark, dir), termFreqs(spark, dir))

  /** The score pipeline over ANY label/term-frequency frames. */
  private def nbScoresOf(lab: DataFrame, tf: DataFrame): DataFrame = {
    val perDoc = tf.join(nbModel(tf, lab).select("token", "w_micro"), Seq("token"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("w_micro")).as("s"))
    lab.join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(priorMicro(lab)))
      .select(col("doc_id"), col("hq"),
        (col("prior_micro") + coalesce(col("s"), lit(0L))).as("score_micro"))
      .withColumn("pred_hq", col("score_micro") >= 0)
  }

  /** The serving slice of the model for the streaming scorer: the
    * [[NbModelK]] tokens with the largest |weight|, ties broken by token
    * — a TOTAL order, so the truncation is deterministic and the oracle
    * replays it with the same ORDER BY. Bounded top-k
    * (TakeOrderedAndProject), never a global sort. */
  private[graft] def truncatedModel(spark: SparkSession, dir: String): DataFrame = {
    val lab = labels(spark, dir)
    nbModel(termFreqs(spark, dir), lab)
      .select("token", "w_micro")
      .orderBy(abs(col("w_micro")).desc, col("token"))
      .limit(NbModelK)
  }

  /** The scalar prior for shipping into the stream. */
  private[graft] def priorMicroOf(spark: SparkSession, dir: String): Long =
    priorMicro(labels(spark, dir)).collect()(0).getLong(0)

  /** q151 — TRAINED QUALITY CLASSIFIER: multinomial NB trained on the
    * filler-ratio label, applied back over the corpus, reported as
    * the per-source confusion summary a data lead reads before flipping
    * the filter on (n docs, labeled/predicted high-quality, agreement,
    * accuracy).
    *
    * Scale shape: token stream → per-(doc, token) tf (ONE corpus-sized
    * shuffle, map-side combined); the vocabulary-keyed model aggregate
    * and the scoring join both key on `token` — over the persisted
    * token-bucketed stage they co-locate; per-doc score reduce; one
    * source-grain report aggregate. The model is never collected — the
    * join IS the broadcast-free application path, which is what survives
    * a vocabulary that outgrows executor memory. */
  def q151NbQuality(spark: SparkSession, dir: String): DataFrame = {
    nbReport(nbScores(spark, dir),
      Tables.documents(spark, dir).select("doc_id", "source"))
  }

  /** Train + score + report over ANY (doc_id, text, source) frame —
    * also the `nb_quality()` TVF body (derives labels and term
    * frequencies from a fresh tokenize of the given frame rather than
    * the per-corpus stage). */
  private[graft] def nbQualityOver(docs: DataFrame): DataFrame = {
    val tokd = TextOps.tokenized(docs.select(col("doc_id"), col("text")))
    val tf = tokd.filter(col("token").isNotNull)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    nbReport(nbScoresOf(labelsOf(tokd), tf), docs.select("doc_id", "source"))
  }

  /** The per-source confusion report over scored docs. */
  private def nbReport(scores: DataFrame, meta: DataFrame): DataFrame =
    scores
      .join(meta, Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("hq"), 1L).otherwise(0L)).as("n_label_hq"),
        sum(when(col("pred_hq"), 1L).otherwise(0L)).as("n_pred_hq"),
        sum(when(col("hq") === col("pred_hq"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("source"), col("n_docs"), col("n_label_hq"), col("n_pred_hq"),
        col("n_agree"),
        (floor((col("n_agree") * 20000 + col("n_docs")) / (col("n_docs") * 2)) / 10000.0)
          .as("accuracy"))
      .orderBy("source")

  /** Reliability-table bin count for [[q175NbCalibration]]. */
  val CalibBins = 10

  /** Distributed global rank over a TOTAL order — the scalable stand-in
    * for Spark's empty-partition `Window.orderBy(...)`, which funnels
    * the whole dataset through ONE task (Spark plans an unpartitioned
    * window as a single-partition Exchange; at 100 TB that task is the
    * job). This is the TeraSort-shaped alternative: a range-partitioned
    * global sort (parallel), per-partition row counts (one cheap job
    * over the sorted RDD), and a partition-offset scan that attaches
    * `rank = offset + local index` map-side. The order must be TOTAL
    * (include a tiebreaker column) or ranks at partition boundaries
    * would be nondeterministic. The rare justified `mapPartitions`:
    * the declarative form of this operator is precisely the
    * single-task plan being avoided. */
  private[graft] def withGlobalRank(
      df: DataFrame, order: Seq[org.apache.spark.sql.Column], rankCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sorted = df.orderBy(order: _*).persist()
    try {
      val counts = sorted.rdd
        .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
        .collect().sortBy(_._1).map(_._2)
      val offsets = counts.scanLeft(0L)(_ + _)
      val ranked = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
        var r = offsets(i)
        it.map { row => r += 1; Row.fromSeq(row.toSeq :+ r) }
      }
      val schema = StructType(sorted.schema.fields :+ StructField(rankCol, LongType, nullable = false))
      val out = sorted.sparkSession.createDataFrame(ranked, schema)
      // lineage truncated: a recomputed sort could land different range
      // boundaries, and the collected offsets would then be stale; after
      // this the ranks can never silently shift
      graft.core.Materialize.once(out)
    } finally sorted.unpersist()
  }

  /** SQL-standard ntile of a 1-based global rank: with `q = n div b`
    * and `rem = n mod b`, the first `rem` buckets hold `q + 1` rows —
    * the exact rule both engines' `ntile` implements, reproduced as a
    * closed-form column so the scalable rank path and the oracle's
    * window agree row-for-row. */
  private[graft] def ntileOfRank(rank: org.apache.spark.sql.Column, n: Long, b: Int): org.apache.spark.sql.Column = {
    val q = n / b
    val rem = n % b
    // exact integer division of the non-negative rank terms: a % d is
    // exact, the difference is an exact multiple of d, so the double
    // division is exact at any magnitude (the Sq truncation identity)
    def idiv(a: org.apache.spark.sql.Column, d: Long) = ((a - a % d) / d).cast("long")
    if (q == 0) rank // degenerate tiny input: one row per bucket
    else
      when(rank <= rem * (q + 1), idiv(rank - 1, q + 1) + 1)
        .otherwise(lit(rem) + idiv(rank - 1 - rem * (q + 1), q) + 1)
  }

  /** q175 — CLASSIFIER CALIBRATION TABLE (reliability diagram as data):
    * the scored corpus cut into [[CalibBins]] equal-population score
    * deciles, each reporting its labeled-positive rate — the table a
    * data lead reads to decide whether the NB score is a usable RANKER
    * (rates rise with the decile) and where to put the admission
    * threshold (q152's serve gate), not just whether sign-accuracy is
    * high (q151's report). Completes the classifier lifecycle: train
    * (q151) → serve (q152) → refresh (q164) → online (q166) → CALIBRATE.
    *
    * Determinism: deciles follow SQL ntile over the TOTAL order
    * (score_micro, doc_id) — but computed via [[withGlobalRank]] +
    * [[ntileOfRank]] instead of an unpartitioned window, because Spark
    * plans `ntile().over(Window.orderBy(...))` as a SINGLE-PARTITION
    * exchange (the one-task bottleneck a 100 TB report cannot pay); the
    * oracle uses the window form and the closed-form rule makes them
    * identical row-for-row. Every emitted column is an integer.
    *
    * Scale shape: scoring reuses the token-keyed join (nothing
    * collected); the rank is a parallel range-partitioned sort plus a
    * partition-count scan; the report is a [[CalibBins]]-row
    * aggregate. */
  def q175NbCalibration(spark: SparkSession, dir: String): DataFrame = {
    calibrationOf(nbScores(spark, dir))
  }

  /** The decile reliability table over ANY (doc_id, hq, score_micro)
    * scored frame — shared by q175 and the `nb_calibration()` TVF.
    *
    * The scored frame is localCheckpointed (eager) FIRST — it is
    * corpus-rows × 3 columns, and both the `count()` action and the
    * [[withGlobalRank]] sort would otherwise each re-execute the full
    * NB train+score pipeline behind it (measured: the double compute
    * made q175 the slowest bench entry at 4.4 s; the q193/q168
    * checkpoint pattern). */
  private[graft] def calibrationOf(scores: DataFrame): DataFrame = {
    val snap = graft.core.Materialize.once(scores)
    val n = snap.count()
    withGlobalRank(snap, Seq(col("score_micro"), col("doc_id")), "rk")
      .withColumn("decile", ntileOfRank(col("rk"), n, CalibBins))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("hq"), 1L).otherwise(0L)).as("n_hq"),
        min(col("score_micro")).as("score_lo"),
        max(col("score_micro")).as("score_hi"))
      .select(col("decile"), col("n_docs"), col("n_hq"),
        expr("n_hq * 1000000 div n_docs").as("hq_rate_micro"),
        col("score_lo"), col("score_hi"))
      .orderBy("decile")
  }

  /** [[calibrationOf]] over a fresh tokenize of ANY (doc_id, text)
    * frame — the `nb_calibration()` TVF body (the [[nbQualityOver]]
    * convention). */
  private[graft] def nbCalibrationOver(docs: DataFrame): DataFrame = {
    val tokd = TextOps.tokenized(docs.select(col("doc_id"), col("text")))
    val tf = tokd.filter(col("token").isNotNull)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    calibrationOf(nbScoresOf(labelsOf(tokd), tf))
  }

  /** Pseudo-count κ for the q180 shrinkage — the prior weighs like κ
    * observed documents (Beta(κ·p̂, κ·(1−p̂)) prior, posterior-mean
    * point estimate). */
  val ShrinkKappa = 25L

  /** q180 — EMPIRICAL-BAYES SHRUNK SOURCE QUALITY: each source's
    * high-quality rate pulled toward the corpus rate by [[ShrinkKappa]]
    * pseudo-counts — `(n_hq + κ·p̂_global) / (n + κ)`, the
    * beta-binomial posterior mean (Efron & Morris 1975 shrinkage; the
    * smoothing every per-domain quality ranking needs before acting on
    * a 12-document source whose raw rate is 0 or 1 by luck). Raw and
    * shrunk rates ride side by side so the table shows exactly where
    * the prior moved a small source.
    *
    * All-integer: rates in micros via truncating division on
    * non-negatives; the global rate is computed ONCE as an integer and
    * reused inside the shrinkage numerator, so the oracle reproduces
    * the exact same rounding path.
    *
    * Scale shape: one label pass (shared [[labels]] stage), one
    * source-grain aggregate, a 1-row global broadcast. */
  def q180SourceQualityShrunk(spark: SparkSession, dir: String): DataFrame = {
    shrunkReport(labels(spark, dir),
      Tables.documents(spark, dir).select("doc_id", "source"))
  }

  /** [[q180SourceQualityShrunk]]'s report over ANY (doc_id, hq) label
    * frame and (doc_id, source) metadata — also the
    * `source_quality_shrunk()` TVF body (fresh-tokenize labels). */
  private[graft] def shrunkReport(lab: DataFrame, meta: DataFrame): DataFrame = {
    val per = lab
      .join(meta, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hq"), 1L).otherwise(0L)).as("n_hq"))
    val glob = per.agg(sum(col("n_docs")).as("nt"), sum(col("n_hq")).as("ht"))
    per.crossJoin(broadcast(glob)) // 1-row global attach
      .select(col("source"), col("n_docs"), col("n_hq"),
        expr("n_hq * 1000000 div n_docs").as("raw_rate_micro"),
        expr("ht * 1000000 div nt").as("global_rate_micro"),
        expr(s"(n_hq * 1000000 + $ShrinkKappa * (ht * 1000000 div nt))" +
          s" div (n_docs + $ShrinkKappa)").as("shrunk_rate_micro"))
      .orderBy("source")
  }

  /** [[shrunkReport]] over a fresh tokenize of ANY (doc_id, text,
    * source) frame — the `source_quality_shrunk()` TVF body. */
  private[graft] def shrunkQualityOver(docs: DataFrame): DataFrame =
    shrunkReport(
      labelsOf(TextOps.tokenized(docs.select(col("doc_id"), col("text")))),
      docs.select("doc_id", "source"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q151_nb_quality" -> (q151NbQuality _),
    "q164_incremental_nb" -> (q164IncrementalNb _),
    "q175_nb_calibration" -> (q175NbCalibration _),
    "q180_source_quality_shrunk" -> (q180SourceQualityShrunk _))

  /** Shared oracle CTE text: tokens → labels → tf → model → integer
    * weights → per-doc scores — mirrored op-for-op against the plan;
    * reused verbatim by the streaming twin's oracle so the two can
    * never drift. */
  private[graft] val nbCtes: String = nbCtesWhere("")

  /** The training CTEs over a filtered documents subset (`where` is a
    * full `WHERE ...` clause or empty) — the q164 oracle rebuilds the
    * v2 model with the snapshot membership rule injected here. */
  private[graft] def nbCtesWhere(where: String): String = {
    val fillerList = FillerTokens.map(t => s"'$t'").mkString(", ")
    s"""tok AS MATERIALIZED (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      |  FROM documents $where),
      |dstat AS (
      |  SELECT doc_id, count(*) AS dl,
      |    count(*) FILTER (token IN ($fillerList)) AS filler
      |  FROM tok GROUP BY doc_id),
      |lab AS MATERIALIZED (
      |  SELECT d.doc_id, d.source,
      |    coalesce(s.filler, 0) * $FillerMax <= coalesce(s.dl, 0) AS hq
      |  FROM documents d LEFT JOIN dstat s USING (doc_id) $where),
      |tf AS MATERIALIZED (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      |mdl AS MATERIALIZED (
      |  SELECT token,
      |    CAST(coalesce(sum(tf) FILTER (hq), 0) AS BIGINT) AS cp,
      |    CAST(coalesce(sum(tf) FILTER (NOT hq), 0) AS BIGINT) AS cn
      |  FROM tf JOIN lab USING (doc_id) GROUP BY token),
      |tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn, count(*) AS v FROM mdl),
      |w AS MATERIALIZED (
      |  SELECT token, cp, cn,
      |    CAST(round(log2((cp + 1) * 1.0 / (tp + v)) * 1000000) AS BIGINT)
      |  - CAST(round(log2((cn + 1) * 1.0 / (tn + v)) * 1000000) AS BIGINT) AS w_micro
      |  FROM mdl, tot),
      |pri AS (
      |  SELECT CAST(round(log2(1.0 * count(*) FILTER (hq)) * 1000000) AS BIGINT)
      |       - CAST(round(log2(1.0 * count(*) FILTER (NOT hq)) * 1000000) AS BIGINT)
      |         AS prior_micro
      |  FROM lab),
      |ds AS (
      |  SELECT tf.doc_id, sum(tf.tf * w.w_micro) AS s
      |  FROM tf JOIN w USING (token) GROUP BY 1),
      |sc AS (
      |  SELECT l.doc_id, l.source, l.hq,
      |    (SELECT prior_micro FROM pri) + coalesce(ds.s, 0) AS score_micro
      |  FROM lab l LEFT JOIN ds USING (doc_id))""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // q164: the DIRECT v2 rebuild — the snapshot membership rule over
    // live text, trained from scratch; any stale carried count breaks
    // the hash.
    "q164_incremental_nb" ->
      s"""WITH ${nbCtesWhere(
        s"WHERE doc_id % ${Corpus.DroppedFromV1Mod} <> ${Corpus.DroppedFromV1Rem}")}
         |SELECT token, cp, cn, w_micro FROM w ORDER BY token""".stripMargin,
    "q180_source_quality_shrunk" ->
      s"""WITH $nbCtes,
         |per AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(count(*) FILTER (hq) AS BIGINT) AS n_hq
         |  FROM lab GROUP BY source),
         |g AS (
         |  SELECT CAST(sum(n_docs) AS BIGINT) AS nt,
         |    CAST(sum(n_hq) AS BIGINT) AS ht FROM per)
         |SELECT source, n_docs, n_hq,
         |  n_hq * 1000000 // n_docs AS raw_rate_micro,
         |  (SELECT ht * 1000000 // nt FROM g) AS global_rate_micro,
         |  (n_hq * 1000000 + $ShrinkKappa * (SELECT ht * 1000000 // nt FROM g))
         |    // (n_docs + $ShrinkKappa) AS shrunk_rate_micro
         |FROM per ORDER BY source""".stripMargin,
    "q175_nb_calibration" ->
      s"""WITH $nbCtes,
         |b AS (
         |  SELECT hq, score_micro,
         |    CAST(ntile($CalibBins) OVER (ORDER BY score_micro, doc_id) AS BIGINT)
         |      AS decile
         |  FROM sc)
         |SELECT decile, count(*) AS n_docs,
         |  CAST(count(*) FILTER (hq) AS BIGINT) AS n_hq,
         |  count(*) FILTER (hq) * 1000000 // count(*) AS hq_rate_micro,
         |  CAST(min(score_micro) AS BIGINT) AS score_lo,
         |  CAST(max(score_micro) AS BIGINT) AS score_hi
         |FROM b GROUP BY decile ORDER BY decile""".stripMargin,
    "q151_nb_quality" ->
      s"""WITH $nbCtes
         |SELECT source, count(*) AS n_docs,
         |  CAST(count(*) FILTER (hq) AS BIGINT) AS n_label_hq,
         |  CAST(count(*) FILTER (score_micro >= 0) AS BIGINT) AS n_pred_hq,
         |  CAST(count(*) FILTER (hq = (score_micro >= 0)) AS BIGINT) AS n_agree,
         |  floor((count(*) FILTER (hq = (score_micro >= 0)) * 20000 + count(*))
         |        / (count(*) * 2)) / 10000.0 AS accuracy
         |FROM sc GROUP BY source ORDER BY source""".stripMargin)
}
