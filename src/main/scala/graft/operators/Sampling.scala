package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables

/** Deterministic sampling / split assignment over the `documents` corpus
  * (SURVEY §2.9 adjacent — the dataset-mixing half of a training-data
  * pipeline): content-hash train/val/test splits and per-source quota
  * caps.
  *
  * Everything keys on a CONTENT hash (md5 of the trimmed text), not on
  * row ids or `rand()`: the same document lands in the same split on
  * every run, across corpus rewrites, repartitions and cluster sizes —
  * the property that keeps held-out sets held out when the corpus is
  * rebuilt. (This is why `rand(seed)` is wrong here: it is seeded per
  * PARTITION, so any repartition reshuffles the split.) Both ops are
  * map-only or one-window — no extra shuffles beyond their semantics,
  * and both are exactly reproducible in the oracle engine, so the gate
  * is a hash compare, not a statistical bound. */
object Sampling extends graft.QueryModule {

  /** Bucket 0-99 from the first 4 hex chars of the content hash —
    * uniform (md5), deterministic, engine-portable. */
  def hashBucket(text: Column): Column =
    conv(substring(md5(trim(text)), 1, 4), 16, 10).cast("long") % 100

  val TrainPct = 90
  val ValPct = 5 // test gets the remainder

  /** q58 — content-hash split assignment: train/val/test = 90/5/5 by
    * md5 bucket. A document's split is a pure function of its content. */
  def q58SplitAssign(spark: SparkSession, dir: String): DataFrame = {
    splitAssign(Tables.documents(spark, dir))
  }

  /** The assignment over ANY (doc_id, text) frame — map-only. */
  def splitAssign(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), hashBucket(col("text")).as("b"))
      .select(col("doc_id"),
        when(col("b") < TrainPct, "train")
          .when(col("b") < TrainPct + ValPct, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  /** q233 — CLUSTER-SAFE SPLIT assignment, the FIX for what q123
    * measures: the naive q58 content-hash split puts near-duplicate
    * documents in different splits (different bytes → independent
    * draws), leaking training content into val/test and inflating
    * held-out metrics. Here the split is drawn ONCE per near-dup
    * CLUSTER (the q38 closure) from the group keeper's content hash,
    * so every member of a cluster lands in the same split — cross-split
    * near-dup leakage is ZERO BY CONSTRUCTION (a ≥0.6-Jaccard pair is
    * an edge of the closure, hence same group, hence same split; the
    * spec proves it by running the q123 audit over this assignment).
    * Docs outside the pair graph keep their own draw, so the q58 rule
    * is a strict refinement, not a replacement.
    *
    * Scale shape: the split table is ONE [[splitAssign]] map pass; the
    * group attach is a pair-graph-sized left join; the keeper-split
    * attach joins on grp against the doc-grain split frame (AQE
    * broadcasts the sparse side at fixture scale; at 100 TB both are
    * hash joins on uniform keys). */
  def q233ClusterSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    clusterSafeSplitOver(spark, Tables.documents(spark, dir),
      Dedup.verifiedPairs(spark, dir).select("d1", "d2"))
  }

  /** The assignment over ANY (doc_id, text) frame and verified pair
    * list — also the `cluster_safe_split(threshold)` TVF body. */
  private[graft] def clusterSafeSplitOver(spark: SparkSession,
      docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = Dedup.minLabelComponents(spark, pairs)
      .select(col("doc_id"), col("keeper"))
    // every doc's OWN q58 draw, re-keyed as the group-representative
    // split: joining on grp picks exactly the keeper's draw
    val repSplit = splitAssign(docs)
      .select(col("doc_id").as("grp"), col("split"))
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("keeper"), col("doc_id")))
      .join(repSplit, Seq("grp"))
      .select(col("doc_id"), col("grp"), col("split"))
      .orderBy("doc_id")
  }

  /** Per-source document cap for domain balancing. */
  val SourceCap = 50

  /** The selection key for per-source quota: (content hash, doc_id) as
    * ONE fixed-width string, so a plain string compare reproduces the
    * (md5, doc_id) lexicographic order — md5 hex is fixed 32 chars and
    * doc_id is zero-padded to 19 digits (non-negative ids; the corpus
    * contract). Fixed-width is what lets [[KthSmallestAgg]] select on a
    * single comparable. */
  private[operators] def sortKey: Column =
    concat(md5(trim(col("text"))), lpad(col("doc_id").cast("string"), 19, "0"))

  /** Quota survivors BEFORE ranking — exposed so specs can assert the
    * skew bound (≤ cap rows per source reach the rank window, whatever
    * the input distribution). See [[sourceCap]]. */
  private[operators] def capSurvivors(docs: DataFrame, cap: Int): DataFrame = {
    import graft.functions.KthSmallestAgg.kth_smallest
    val keyed = docs.select(col("doc_id"), col("source"), sortKey.as("k"))
    // phase 1 — per-source selection threshold with a BOUNDED buffer:
    // kth_smallest keeps a ≤cap-entry heap per (source × partition) and
    // map-side combines, so a source owning 90% of the corpus still ships
    // O(cap) state per partition, never its row set. NULL = under cap.
    val thresholds = keyed.groupBy("source").agg(kth_smallest(col("k"), cap).as("thr"))
    // phase 2 — map-only filter against the (tiny: one row per source,
    // broadcast) threshold table. Keys are unique per row (doc_id suffix),
    // so `k <= thr` keeps EXACTLY cap rows for over-cap sources; under-cap
    // sources (thr NULL) pass through whole.
    keyed.join(broadcast(thresholds), Seq("source"))
      .filter(col("thr").isNull || col("k") <= col("thr"))
  }

  /** Per-source quota: keep at most `cap` docs per source, chosen by
    * content-hash order (deterministic "random" — the kept set is stable
    * across runs and corpus shuffles; doc_id breaks duplicate-content
    * ties).
    *
    * Two-phase and SKEW-SAFE by construction: the naive single-window
    * `row_number() OVER (PARTITION BY source)` sorts each source on one
    * reducer, and AQE's skew mitigation does NOT split window partitions
    * — one dominant source (the usual reason a quota op exists at all)
    * serializes the job at scale. Here the dominant source's rows are
    * reduced map-side to an O(cap) threshold first ([[capSurvivors]]);
    * the only window runs over the survivors, whose partitions are ≤ cap
    * rows per source by construction. */
  def sourceCap(docs: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy("source").orderBy("k")
    capSurvivors(docs, cap)
      .withColumn("rnk", row_number().over(w))
      .select(col("doc_id"), col("source"), col("rnk").cast("long").as("rnk"))
      .orderBy("source", "rnk")
  }

  /** q59 — [[sourceCap]] over the documents corpus at [[SourceCap]]. */
  def q59SourceCap(spark: SparkSession, dir: String): DataFrame = {
    sourceCap(Tables.documents(spark, dir), SourceCap)
  }

  /** Keep-rates per quality tier (percent) for [[q60QualitySample]]. */
  val KeepPct: Map[String, Int] = Map("high" -> 100, "medium" -> 50, "low" -> 10)

  /** q60 — quality-weighted deterministic downsampling: keep documents
    * with probability proportional to their quality tier (the q23
    * score), decided by the content-hash bucket — so the sample is
    * reproducible AND quality-skewed, the standard corpus-mixing move
    * ("upsample high quality, thin the tail") done without randomness.
    * Map-only; the keep decision is a pure function of the row. */
  def q60QualitySample(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val scored = Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("text"),
        size(toks).cast("double").as("n_tokens"),
        size(array_distinct(toks)).cast("double").as("n_distinct"))
      .withColumn("quality_score",
        round(least(col("n_tokens") / 100.0, lit(1.0)) * 0.5 +
              (col("n_distinct") / col("n_tokens")) * 0.5, 4))
      .withColumn("quality_tier",
        when(col("quality_score") >= 0.6, "high")
          .when(col("quality_score") >= 0.4, "medium")
          .otherwise("low"))
    val keepPct = KeepPct.foldLeft(lit(0)) { case (acc, (tier, pct)) =>
      when(col("quality_tier") === tier, pct).otherwise(acc)
    }
    scored
      .filter(hashBucket(col("text")) < keepPct)
      .select(col("doc_id"), col("quality_tier"))
      .orderBy("doc_id")
  }

  /** Sequence-packing parameters: context budget in tokens and shard
    * fan-out. Shards are the parallelism knob — packing is shard-local
    * (the standard pretraining shape: concatenate docs in a fixed order,
    * cut fixed-size sequences; docs may straddle sequence boundaries),
    * so shard count scales with the corpus and no shard ever sees more
    * than corpus/shards tokens. */
  val SeqBudget = 256L
  val PackShards = 8L

  /** Uniform bucket from 4 hex chars of the content hash at `pos`
    * (1-based) — [[hashBucket]] generalized so independent decisions
    * (split / shard / mix) draw from DISJOINT nibble ranges of the same
    * md5 and stay uncorrelated. */
  /** q128's content-hash EXPORT-SHARD draw over an md5-hex `fp` column —
    * THE one rule linking the manifest (q247/q228 shard_export), the
    * landing writer and the read-back verifier (q248): a single
    * definition, so the draw cannot drift between producer and
    * auditor. */
  private[operators] def fpExportShard(fp: Column): Column =
    conv(substring(fp, 15, 4), 16, 10).cast("long") % ExportShards

  private[operators] def hexBucket(text: Column, pos: Int): Column =
    conv(substring(md5(trim(text)), pos, 4), 16, 10).cast("long")

  /** Uniform fraction in [0,1) from 6 hex chars (24 bits) of the content
    * hash at `pos`. 24 bits, not 16: a 16-bit draw divided by a larger
    * constant compresses the range and biases any threshold compare —
    * the q64 class of bug. 1/2^24 granularity is finer than the 6-dp
    * rounding of the rates it is compared against. */
  private[operators] def hexFrac(text: Column, pos: Int): Column =
    conv(substring(md5(trim(text)), pos, 6), 16, 10).cast("long") / 16777216.0

  /** q63 — token-budget SEQUENCE PACKING: documents are concatenated in
    * content-hash order within a hash shard and cut into fixed
    * [[SeqBudget]]-token training sequences; each doc reports the
    * sequence index and offset where it starts. Deterministic (content
    * order, not arrival order), map-only except one windowed cumsum per
    * shard — and shards are uniform by construction (md5 nibbles), so
    * the window never sees a skewed partition, unlike partitioning by a
    * natural key. */
  def q63SequencePack(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val w = Window.partitionBy("shard").orderBy("ch", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        (hexBucket(col("text"), 5) % PackShards).as("shard"),
        md5(trim(col("text"))).as("ch"),
        size(toks).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("doc_id"), col("shard"),
        (col("cum_before") / SeqBudget).cast("long").as("seq_idx"),
        (col("cum_before") % SeqBudget).as("seq_offset"))
      .orderBy("doc_id")
  }

  /** Context budgets the q146 packing ablation sweeps. */
  val PackSweepBudgets = Seq(128L, 256L, 512L)

  /** q146 — PACKING ABLATION SWEEP: the q63 concatenate-and-cut packing
    * evaluated at several context lengths IN ONE PASS — per budget: doc
    * count, documents SPLIT across a sequence boundary (the
    * attention-contamination proxy that motivates doc-masking or longer
    * contexts — a split doc attends across an unrelated neighbor
    * unless masked), total training sequences, and the split share.
    * The ablation table a pretraining team reads before fixing its
    * sequence length.
    *
    * One corpus scan + ONE shard-local cumsum window (shared across
    * budgets — the cut points at every budget derive from the same
    * cumulative offsets), then a budgets-sized explode of per-doc
    * integer comparisons. Pure integer: a doc splits at budget c iff
    * cum_before div c ≠ (cum_before + n_tokens − 1) div c; sequence
    * counts are ceil-divisions of per-shard totals. One int-derived
    * double (the split share) per row. */
  def q146PackingSweep(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val w = Window.partitionBy("shard").orderBy("ch", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        (hexBucket(col("text"), 5) % PackShards).as("shard"),
        md5(trim(col("text"))).as("ch"),
        size(toks).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
    val ctxs = array(PackSweepBudgets.map(lit(_)): _*)
    val docStats = packed
      .select(col("n_tokens"), col("cum_before"), explode(ctxs).as("ctx"))
      .groupBy("ctx")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(expr(
          "n_tokens > 0 AND (cum_before div ctx) != ((cum_before + n_tokens - 1) div ctx)"),
          1L).otherwise(0L)).as("n_split_docs"))
    val seqStats = packed.groupBy("shard")
      .agg(sum(col("n_tokens")).as("tot"))
      .select(col("tot"), explode(ctxs).as("ctx"))
      .groupBy("ctx")
      .agg(sum(expr("(tot + ctx - 1) div ctx")).as("n_sequences"))
    docStats.join(seqStats, Seq("ctx"))
      .select(col("ctx"), col("n_docs"), col("n_split_docs"), col("n_sequences"),
        (expr("(n_split_docs * 1000000) div n_docs") / 10000.0).as("split_pct"))
      .orderBy("ctx")
  }

  /** Temperature for [[q64TemperatureMix]]: α < 1 flattens the source
    * distribution (the multilingual/multi-domain resampling standard). */
  val MixAlpha = 0.7

  /** q64 — TEMPERATURE-SCALED SOURCE MIXING with deterministic
    * repetition: target count per source c_s = K·n_s^α / Σ n_t^α (K =
    * corpus size), i.e. repetition factor r_s = c_s / n_s — big sources
    * thin (r < 1), small sources repeat (r > 1), the standard α-sampling
    * move done without randomness: every doc carries
    * `floor(r_s)` copies plus one more iff its content-hash fraction
    * falls under frac(r_s). Per-source counts are one tiny aggregate
    * (broadcast); the copy decision is map-only. Fractions are rounded
    * to 6 dp in-plan so the oracle's independently-computed pow() agrees
    * at the compare precision. */
  def temperatureMix(docs: DataFrame, alpha: Double): DataFrame = {
    val srcStats = docs.groupBy("source")
      .agg(count(lit(1)).cast("double").as("n_s"))
      .withColumn("w_s", pow(col("n_s"), lit(alpha)))
    // Σ n_t^α and K via a GLOBAL window over the per-source frame — the
    // frame is sources-sized (not data-sized), so the single-partition
    // window is a few rows and the corpus is scanned ONCE for stats
    // (a separate agg + cross join would re-run the corpus groupBy)
    val tot = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = srcStats
      .select(col("source"), col("n_s"), col("w_s"),
        sum(col("w_s")).over(tot).as("w_tot"),
        sum(col("n_s")).over(tot).as("k_tot"))
      .select(col("source"),
        round(col("k_tot") * col("w_s") / (col("w_tot") * col("n_s")), 6).as("rep"))
    docs.join(broadcast(rates), Seq("source"))
      .select(
        col("doc_id"), col("source"),
        (floor(col("rep")).cast("long") +
          when(hexFrac(col("text"), 9) < col("rep") - floor(col("rep")), 1L)
            .otherwise(0L)).as("n_copies"))
      .orderBy("doc_id")
  }

  def q64TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    temperatureMix(Tables.documents(spark, dir), MixAlpha)
  }

  /** Weighted-sample size for [[q106WeightedSample]]. */
  val WeightedSampleK = 200

  /** q106 — deterministic WEIGHTED sampling without replacement
    * (Efraimidis & Spirakis 2006): each doc draws a content-hash uniform
    * u ∈ (0,1] and competes on key = ln(u)/w — the top-K by key is a
    * weighted sample without replacement, exactly (their Theorem 1, with
    * the k-th root as a monotone ln transform). Here w = doc length, the
    * "sample long documents proportionally more" curation knob; any
    * positive weight column works.
    *
    * Everything q58/q60/q64 promise holds: the draw is a pure function
    * of content (reproducible across runs, partitionings and engines —
    * the oracle replays the nibble arithmetic), and the plan is a
    * TakeOrderedAndProject top-K, never a global sort. Key gaps at the
    * selection boundary are ~1/n² of the key range — ten orders above
    * double ulp — so the ln's last-ulp engine variance cannot flip the
    * selected set (the emitted key is rounded to 8 dp regardless). */
  /** Efraimidis–Spirakis weighted sample over ANY (doc_id, text,
    * n_chars) frame — the generic entry the `weighted_sample(k)` TVF
    * resolves; [[q106WeightedSample]] runs it on the corpus table. */
  def weightedSample(docs: DataFrame, k: Int): DataFrame = {
    val u = (conv(substring(md5(trim(col("text"))), 9, 6), 16, 10).cast("long") + 1) /
      16777216.0
    val key = log(u) / greatest(col("n_chars"), lit(1L)).cast("double")
    docs
      .select(col("doc_id"), col("n_chars"), key.as("k"))
      .orderBy(desc("k"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_chars"), round(col("k"), 8).as("es_key"))
      .orderBy("doc_id")
  }

  def q106WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    weightedSample(Tables.documents(spark, dir), WeightedSampleK)
  }

  /** Bootstrap replicate count for [[q227BootstrapCi]]. */
  val BootstrapReplicates = 16

  /** Poisson(1) CDF thresholds scaled to 2²⁴, k = 0…4 (draws ≥ the last
    * threshold cap at weight 5; the truncated tail holds <0.1% of the
    * mass). FIXED literals — both engines interpolate these exact
    * integers, so no exp()/factorial is ever computed at query time. */
  val PoissonCdf24: Seq[Long] =
    Seq(6171992L, 12343985L, 15429982L, 16458647L, 16715813L)

  /** q227 — POISSON-BOOTSTRAP CONFIDENCE INTERVALS for a corpus
    * statistic (Chamandy et al. 2012, "Estimating Uncertainty for
    * Massive Data Streams" — the Google one-pass bootstrap): every
    * document draws an independent Poisson(1) weight PER REPLICATE from
    * its own content hash, so R resampled means materialize as R pairs
    * of conditional sums inside ONE aggregate over ONE corpus scan — no
    * explode, no shuffle of R copies, no second pass. This is how a
    * 100 TB pipeline puts an error bar on "mean quality score" without
    * resampling 100 TB R times: the replicate spread IS the sampling
    * distribution of the mean.
    *
    * Output: one row per replicate (n_eff, mean_score_micro) plus the
    * unresampled baseline as replicate −1 — the consumer computes
    * whatever interval it wants from the 16 replicate means; the spread
    * itself stays exact-integer all the way here.
    *
    * Parity: draws are 24-bit md5 uniforms (the q64 convention) cut by
    * the fixed [[PoissonCdf24]] thresholds; weighted sums accumulate in
    * decimal(38,0) (the q193 width contract) and each mean is ONE
    * integer division. */
  def q227BootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    bootstrapCi(Tables.fanout(spark, Tables.documents(spark, dir)))
  }

  /** The replicate table over ANY documents-shaped frame (also the
    * `bootstrap_ci()` TVF body). */
  private[graft] def bootstrapCi(docs: DataFrame): DataFrame = {
    val R = BootstrapReplicates
    val toks = TextOps.tokens(col("text"))
    val scored = docs
      .filter(size(toks) > 0)
      .select(
        round((least(size(toks).cast("double") / 100.0, lit(1.0)) * 0.5 +
          size(array_distinct(toks)).cast("double") / size(toks) * 0.5) * 10000)
          .cast("long").as("q"),
        col("doc_id"))
    // per-replicate draws seed from doc_id (the q222 sharding
    // convention), NOT the text: byte-identical documents — which this
    // corpus plants by design — would otherwise draw identical weights
    // in every replicate and resample as a block, understating exactly
    // the variance the CI estimates. doc_id is equally deterministic
    // and engine-portable, and i.i.d. per RECORD as the Poisson
    // bootstrap assumes.
    def weight(r: Int): Column = {
      val u = conv(substring(
        md5(concat(col("doc_id").cast("string"), lit(s":bs$r"))), 1, 6), 16, 10)
        .cast("long")
      PoissonCdf24.zipWithIndex.foldRight(lit(PoissonCdf24.length.toLong)) {
        case ((thr, k), rest) => when(u < thr, k.toLong).otherwise(rest)
      }
    }
    val aggs =
      Seq(count(lit(1)).as("n_base"),
        sum(col("q").cast("decimal(38,0)")).as("s_base")) ++
      (0 until R).flatMap { r =>
        val w = weight(r)
        Seq(sum(w).as(s"n_$r"),
          sum((col("q") * w).cast("decimal(38,0)")).as(s"s_$r"))
      }
    val wide = scored.agg(aggs.head, aggs.tail: _*)
    val pivots = struct(lit(-1L).as("replicate"), col("n_base").as("n_eff"),
      expr("CAST((100 * s_base) div greatest(n_base, 1) AS BIGINT)")
        .as("mean_score_micro")) +:
      (0 until R).map(r => struct(lit(r.toLong).as("replicate"),
        col(s"n_$r").as("n_eff"),
        expr(s"CAST((100 * s_$r) div greatest(n_$r, 1) AS BIGINT)")
          .as("mean_score_micro")))
    wide.select(explode(array(pivots: _*)).as("e"))
      .select(col("e.replicate").as("replicate"), col("e.n_eff").as("n_eff"),
        col("e.mean_score_micro").as("mean_score_micro"))
      .orderBy("replicate")
  }

  /** Fixture budget for [[q121TokenBudget]] — a deployment passes the
    * real per-source token budget. */
  val TokenBudgetPerSource = 150L

  /** q121 — deterministic TOKEN-BUDGET FILL per source: admit documents
    * in doc_id order until each source's running token total reaches the
    * budget — the curation step that cuts a fixed-size training mix
    * ("10 B tokens per source") reproducibly, the token-grain complement
    * of the row-grain [[q59SourceCap]]. Document token counts come from
    * the shared token stage (no re-tokenize); admission is a per-source
    * running sum (window, rows-unbounded-preceding) + a filter, all
    * integers — oracle-exact.
    *
    * Scale shape: the window shuffles once on `source` and the running
    * sum is inherently sequential WITHIN a source (the admission rule is
    * a prefix property); sources parallelize against each other, and a
    * deployment whose single source outweighs an executor shards the
    * budget across sub-sources first (the q52 salting lever applied to
    * budget quotas). Everything downstream is doc-grain. */
  def q121TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val dls = TextOps.tokenStage(spark, dir)
      .groupBy("doc_id").agg(max(col("dl")).as("n_tok"))
    tokenBudgetFill(
      Tables.documents(spark, dir).select("doc_id", "source").join(dls, Seq("doc_id")),
      TokenBudgetPerSource)
  }

  /** The fill over ANY (doc_id, source, n_tok) frame. */
  def tokenBudgetFill(docs: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum_tokens", sum(col("n_tok")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Fixture total token budget for [[q125MixManifest]]. */
  val MixBudget = 2000L

  /** q125 — TRAINING-MIX MANIFEST: the source-grain data recipe a run
    * publishes before training — each source's available token mass, its
    * temperature-scaled share of the total budget (α = [[MixAlpha]],
    * over TOKEN mass where q64 temperature-scales document counts), and
    * the implied epoch factor (share × budget / available: > 1 means the
    * source repeats, < 1 means it is subsampled — the Chinchilla-style
    * repetition decision made explicit). Shares and epochs are emitted
    * as integer MICROS under the q122 contract: the pow-derived weight
    * is itself fixed to integer micros before any sum (round 7 proved
    * the compound-double version — pow, then an order-dependent double
    * window sum, rounded once at the end — does NOT hash-match).
    *
    * Scale shape: one source-keyed aggregate over the token stage; the
    * α/normalization math runs on the sources-sized frame (a few-row
    * single-partition window, same as q64's rates frame). */
  def q125MixManifest(spark: SparkSession, dir: String): DataFrame = {
    val dls = TextOps.tokenStage(spark, dir)
      .groupBy("doc_id").agg(max(col("dl")).as("n_tok"))
    mixManifest(
      Tables.documents(spark, dir).select("doc_id", "source").join(dls, Seq("doc_id")),
      MixAlpha, MixBudget)
  }

  /** The manifest over ANY (doc_id, source, n_tok) frame.
    *
    * Numeric contract (the q122 recipe, rebuilt after the round-7 hash
    * failure): each pow-derived weight is fixed to int64 micros
    * IMMEDIATELY — floor(pow·1e6 + 0.5), the one transcendental
    * rounding, absorbing the JVM-vs-libm last-ulp pow divergence with
    * ~1e-12 residual risk — the total is an order-free INTEGER window
    * sum (a double window sum is order-dependent and can never
    * hash-match, the q85 lesson), and each output column is exactly one
    * int64-derived double expression whose op sequence the oracle
    * mirrors literally, then the same floor(+0.5). All quantities are
    * non-negative so no sign split is needed. */
  def mixManifest(docTokens: DataFrame, alpha: Double, budget: Long): DataFrame = {
    val tot = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    docTokens
      .groupBy("source").agg(sum(col("n_tok")).as("avail_tokens"))
      .select(col("source"), col("avail_tokens"),
        floor(pow(col("avail_tokens").cast("double"), lit(alpha)) * lit(1e6) + lit(0.5))
          .cast("long").as("w_micros"))
      .withColumn("tot_w", sum(col("w_micros")).over(tot))
      .select(col("source"), col("avail_tokens"),
        floor(col("w_micros").cast("double") * lit(1e6) / col("tot_w") + lit(0.5))
          .cast("long").as("share_micros"),
        floor(col("w_micros").cast("double") * lit(budget.toDouble) * lit(1e6) /
            col("tot_w") / col("avail_tokens") + lit(0.5))
          .cast("long").as("epochs_micros"))
      .orderBy("source")
  }

  /** Shard fan-out for [[q128ShardManifest]] — a deployment sizes this
    * to its target file count (corpus bytes / desired shard bytes). */
  val ExportShards = 8L

  /** q128 — TRAINING-SHARD EXPORT MANIFEST: the per-shard accounting a
    * run publishes when it materializes a training mix — deterministic
    * content-hash shard assignment (a doc's shard survives corpus
    * rewrites, same rationale as q58's splits), then per-shard doc /
    * token / byte mass and an ORDER-FREE content checksum (sum of a
    * 24-bit content-hash chunk per doc — commutative, so the checksum is
    * independent of write order and partitioning; a flipped, dropped or
    * duplicated doc changes it). Downstream consumers verify a delivered
    * shard against this row before training. The shard draw uses hex
    * positions 15-18 of the content md5 — disjoint from the split (1-4),
    * packing (5-8) and mixing (9-14) draws, so shard and split stay
    * uncorrelated.
    *
    * Scale shape: map-only assignment + ONE shard-keyed aggregate;
    * output is shard-count-sized. The companion [[exportShards]] does
    * the actual partitioned write. */
  def q128ShardManifest(spark: SparkSession, dir: String): DataFrame = {
    val dls = TextOps.tokenStage(spark, dir)
      .groupBy("doc_id").agg(max(col("dl")).as("n_tok"))
    shardManifest(
      Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("n_chars"))
        .join(dls, Seq("doc_id")), ExportShards)
  }

  /** The manifest over ANY (doc_id, text, n_chars, n_tok) frame. */
  private[graft] def shardManifest(docs: DataFrame, nShards: Long): DataFrame =
    docs
      .withColumn("shard", hexBucket(col("text"), 15) % nShards)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_bytes"),
        sum(conv(substring(md5(trim(col("text"))), 19, 6), 16, 10)
          .cast("long")).as("content_fp"))
      .orderBy("shard")

  /** Materialize the sharded export: one directory per shard
    * (`shard=K/`), then the manifest RECOMPUTED from the files actually
    * written — so a consumer holding only the export can re-derive and
    * verify the manifest (the spec proves written == planned). */
  def exportShards(spark: SparkSession, docs: DataFrame, nShards: Long,
      outDir: String): DataFrame = {
    docs
      .withColumn("shard", hexBucket(col("text"), 15) % nShards)
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    shardManifest(
      spark.read.parquet(outDir).select("doc_id", "text", "n_chars", "n_tok"),
      nShards)
  }

  /** Hashed-feature space size for [[q129DsirSelect]]. Fixed and small
    * by design — the whole point of hashed n-gram features (Xie et al.
    * 2023 §2.2) is a model whose size is independent of vocabulary, so
    * the class models broadcast at any corpus scale. */
  val DsirBuckets = 64L

  /** The target-domain sources the importance weights steer toward. */
  val DsirTargetSources: Seq[String] = Seq("src0", "src1", "src2")

  /** Selection size for the published top-k. */
  val DsirTopK = 30

  /** q129 — DSIR data selection (Data Selection via Importance
    * Resampling, Xie et al. 2023, arXiv:2302.03169): score every
    * raw-pool document by how target-domain-like it looks under two
    * bag-of-hashed-ngrams unigram models, and keep the top-k. Features
    * are unigrams + adjacent bigrams hashed into [[DsirBuckets]]
    * buckets; each class model is add-1-smoothed bucket frequencies
    * p_c(b) = (n_c(b)+1)/(N_c+B); a document's importance weight is
    * Σ_b c(b)·(log₂ p_t(b) − log₂ p_r(b)) — positive means "looks like
    * the target domain". The paper resamples with Gumbel noise; the
    * deterministic engine variant ranks by the weight itself (ties by
    * doc_id) — a caller wanting the stochastic draw composes this score
    * with the q106 Efraimidis-Spirakis machinery.
    *
    * Parity contract (the q78 pattern): each log₂ is rounded to integer
    * micro-bits BEFORE the subtraction and the weighted sum, so both
    * engines sum exact integers and float addition order cannot flip a
    * rank. Bucket assignment is md5-nibble arithmetic, replayed exactly
    * by the oracle.
    *
    * Scale shape: features ride the shared token stage (bigrams =
    * lead(token) over (doc, pos) — the q92 adjacency move, no
    * re-tokenize); per-doc bucket counts are the only corpus-sized
    * shuffle; both class models and their totals are B-sized (B fixed at
    * 64) and attach as broadcasts; the result is a bounded top-k
    * (TakeOrderedAndProject, never a global sort). */
  def q129DsirSelect(spark: SparkSession, dir: String): DataFrame = {
    dsirSelect(dsirFeatures(spark, dir),
      Tables.documents(spark, dir).select(col("doc_id"), col("source")),
      DsirTargetSources, DsirBuckets, DsirTopK)
  }

  /** Hashed feature occurrences (doc_id, bucket) for the corpus at
    * `dir` — unigrams + adjacent bigrams off the shared token stage. */
  private[graft] def dsirFeatures(spark: SparkSession, dir: String): DataFrame = {
    val st = TextOps.tokenStream(spark, dir)
    // bigrams derived MAP-SIDE from the token array (an adjacent pair
    // is a row-local fact of the document): the previous lead() window
    // shuffled AND sorted the entire occurrence stream just to look one
    // position ahead — a full-stream exchange a 100 TB corpus pays for
    // nothing. The array transform reproduces the stage's pos-adjacency
    // exactly ([[TextOps.tokenized]] posexplodes this same array).
    val bigrams = Tables.fanout(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(expr(
        "transform(slice(t, 1, greatest(size(t) - 1, 0)), " +
          "(x, i) -> concat(x, ' ', t[i + 1]))")).as("feat"))
    st.select(col("doc_id"), col("token").as("feat"))
      .unionAll(bigrams)
      .select(col("doc_id"), dsirBucket(col("feat")).as("bucket"))
  }

  /** Bucket assignment shared by the batch selection and the streaming
    * scorer — md5 nibbles, engine-portable. */
  private[graft] def dsirBucket(feat: Column): Column =
    conv(substring(md5(feat), 1, 4), 16, 10).cast("long") % DsirBuckets

  /** The trained model: per-bucket micro-bit log-ratio
    * (bucket, delta_micro) — B-sized by construction, so collecting it
    * to ship into a streaming scorer is bounded at any corpus scale. */
  private[graft] def dsirModel(spark: SparkSession, dir: String): DataFrame =
    dsirModelOf(dsirFeatures(spark, dir),
      Tables.documents(spark, dir).select(col("doc_id"), col("source")),
      DsirTargetSources, DsirBuckets)

  /** The selection over ANY (doc_id, bucket) feature-occurrence frame +
    * (doc_id, source) domain labels. */
  private[graft] def dsirSelect(feats: DataFrame, docSource: DataFrame,
      targets: Seq[String], nBuckets: Long, topK: Int): DataFrame = {
    val isTarget = col("source").isInCollection(targets)
    // materialized once (eager localCheckpoint): the (doc, bucket)
    // count frame feeds the bucket-keyed model aggregate AND the
    // raw-side scorer, and each re-ran the feature tokenize + the
    // occurrence-grain shuffle behind it. ≤ |docs|·B rows, 5 columns.
    val perDoc = feats.groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
      .join(docSource.select(col("doc_id"), isTarget.as("tgt"), col("source")),
        Seq("doc_id"))
      .transform(graft.core.Materialize.once(_))
    perDoc.filter(not(col("tgt")))
      .join(broadcast(dsirDeltas(perDoc, nBuckets)), Seq("bucket"))
      .groupBy("doc_id", "source")
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * col("delta_micro")).as("dsir_micro"))
      .orderBy(desc("dsir_micro"), col("doc_id"))
      .limit(topK)
      .select(col("doc_id"), col("source"), col("n_feats"), col("dsir_micro"))
  }

  /** [[dsirModel]] over ANY feature/label frames. */
  private[graft] def dsirModelOf(feats: DataFrame, docSource: DataFrame,
      targets: Seq[String], nBuckets: Long): DataFrame = {
    val isTarget = col("source").isInCollection(targets)
    val perDoc = feats.groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
      .join(docSource.select(col("doc_id"), isTarget.as("tgt")), Seq("doc_id"))
    dsirDeltas(perDoc, nBuckets)
  }

  /** Per-bucket micro-bit log-ratios from a (doc_id, bucket, c, tgt)
    * frame. Class models are one B-sized aggregate over the per-doc
    * counts (B is fixed, so this frame broadcasts at any corpus scale);
    * each log2 is rounded SEPARATELY to integer micro-bits (the q78
    * contract) so both engines subtract exact ints. */
  private def dsirDeltas(perDoc: DataFrame, nBuckets: Long): DataFrame = {
    val model = perDoc.groupBy("bucket").agg(
      coalesce(sum(when(col("tgt"), col("c"))), lit(0L)).as("ct"),
      coalesce(sum(when(not(col("tgt")), col("c"))), lit(0L)).as("cr"))
    val totals = model.groupBy().agg(
      sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    model.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (round(log2((col("ct") + 1).cast("double") /
            (col("nt") + lit(nBuckets))) * 1000000).cast("long") -
          round(log2((col("cr") + 1).cast("double") /
            (col("nr") + lit(nBuckets))) * 1000000).cast("long"))
          .as("delta_micro"))
  }

  /** q210 epoch-plan knobs: the budget is [[RepeatFactor]]× the corpus
    * (data-constrained training plans more tokens than it has), and no
    * source repeats past [[MaxEpochsMicro]] (4 epochs — the
    * diminishing-returns cliff of Muennighoff et al. 2023 "Scaling
    * Data-Constrained Language Models": up to ~4 epochs repeated data
    * is nearly as good as fresh; beyond it, returns decay to zero). */
  val RepeatFactor = 2L
  val MaxEpochsMicro = 4000000L

  /** q210 — EPOCH / REPEAT-CAP PLANNING: allocate a token budget of
    * [[RepeatFactor]]× the corpus across sources in proportion to a
    * per-source diversity weight (distinct-token share in micros —
    * richer vocabulary earns more repetition), then cap every source at
    * [[MaxEpochsMicro]] so no slice is over-repeated. The output is the
    * per-source epoch schedule a data-constrained training run executes
    * — the planning step BEFORE q64's temperature mix / q121's budget
    * enforcement, answering "how many times may each source repeat".
    *
    * Parity/overflow contract: weights normalize to per-mille FIRST
    * (`(1000·w) div Σw`), so the biggest product is B·1000 — exact in
    * int64 to B ≈ 9·10¹⁵ tokens; `alloc = (n·epochs_micro) div 10⁶`
    * is exact to ~2.3·10¹² tokens per source (the documented bound,
    * the ZOrderLayout.MaxRankSpan convention). All divisions truncate
    * on both engines.
    *
    * Scale shape: one pass over the shared token stage into a
    * |sources|-grain aggregate (the stage is bucketed by token, so the
    * distinct-count shuffle carries (source, token) partials); the plan
    * arithmetic after that is |sources|-sized with two broadcast
    * scalars. */
  def q210EpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val occ = TextOps.tokenStream(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), Seq("doc_id"))
    val perSource = occ.groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_distinct"))
      .withColumn("weight_micro",
        expr("(1000000 * n_distinct) div greatest(n_tokens, 1)"))
    val totals = perSource.agg(
      sum(col("n_tokens")).as("total_tokens"),
      sum(col("weight_micro")).as("sum_w"))
    perSource.crossJoin(broadcast(totals))
      .withColumn("wshare_mille",
        expr("(1000 * weight_micro) div greatest(sum_w, 1)"))
      .withColumn("target_tokens",
        expr(s"($RepeatFactor * total_tokens * wshare_mille) div 1000"))
      .withColumn("epochs_micro",
        expr(s"least($MaxEpochsMicro, (1000000 * target_tokens) div greatest(n_tokens, 1))"))
      .withColumn("alloc_tokens",
        expr("(n_tokens * epochs_micro) div 1000000"))
      .select(col("source"), col("n_tokens"), col("weight_micro"),
        col("target_tokens"), col("epochs_micro"), col("alloc_tokens"),
        (col("epochs_micro") === MaxEpochsMicro).as("capped"))
      .orderBy("source")
  }

  /** Waterfill redistribution rounds — fixed like q193's tilt rounds so
    * the oracle replays the trajectory as chained CTEs. */
  val WaterfillRounds = 3

  /** q236 — CAPPED WEIGHTED WATERFILL: allocate a token budget across
    * sources by target weight, where each source's grant is CAPPED by
    * its available tokens and the surplus a saturated source cannot
    * absorb is REDISTRIBUTED among the unsaturated ones — the
    * allocation mechanic q210's epoch plan stops short of (there, a
    * capped source's unused budget simply evaporates; here it flows to
    * the sources that can still take it, the water-filling rule of the
    * data-constrained scaling setting, Muennighoff et al. 2023). Three
    * fixed rounds of: weight-proportional share of the remaining budget
    * to each unsaturated source, clipped at capacity.
    *
    * The target weight is an externally-assigned source priority — the
    * input a real run feeds from its mixing policy; the fixture rule is
    * a deterministic 1..4 draw from the source name's md5 (the engine's
    * standard hash-draw convention), which makes high-weight sources
    * OVERSUBSCRIBED (offered ~1.9× their capacity under the 90% budget)
    * and low-weight ones the spill absorbers — both regimes fire at
    * every SF, unlike a uniform split over this corpus's near-uniform
    * sources. All arithmetic is truncating int64 division
    * (`(remaining·w) div Σw_active`), so the per-round trajectory
    * (g1..g3) replays exactly; the small residual a truncating split
    * leaves after the last round stays unallocated by design (a
    * fixed-round protocol, not a fixpoint).
    *
    * Scale shape: ONE corpus map pass into the |sources|-grain
    * capacity frame, localCheckpointed (the q193 lesson — three tiny
    * rounds must not re-scan the corpus); each round is a 1-row global
    * aggregate broadcast back onto the sources frame. Nothing after
    * the first aggregate is corpus-sized. */
  def q236BudgetWaterfill(spark: SparkSession, dir: String): DataFrame = {
    waterfillOver(Tables.fanout(spark, Tables.documents(spark, dir)))
  }

  /** The waterfill over ANY documents-shaped frame — also the
    * `budget_waterfill()` TVF body. */
  private[graft] def waterfillOver(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(coalesce(col("text"), lit("")))
    val perSource = docs
      .select(col("source"), size(toks).cast("long").as("n_tok"))
      .groupBy("source").agg(sum(col("n_tok")).as("avail_tokens"))
      .withColumn("w",
        conv(substring(md5(col("source")), 1, 4), 16, 10).cast("long") % 4 + 1)
      .transform(graft.core.Materialize.once(_))
    // integer arithmetic throughout (col./ is double division — a
    // 2^53+ corpus would round; div stays exact at any scale)
    val budget = perSource
      .agg(sum(col("avail_tokens")).as("t"))
      .select(expr("(t * 9) div 10").as("budget"))
    var cur = perSource.crossJoin(broadcast(budget))
      .withColumn("g", lit(0L))
    (1 to WaterfillRounds).foreach { r =>
      val state = cur.agg(
        sum(when(col("g") < col("avail_tokens"), col("w")).otherwise(0L))
          .as("w_active"),
        (first(col("budget")) - sum(col("g"))).as("remaining"))
      cur = cur.crossJoin(broadcast(state))
        .withColumn("g",
          col("g") + when(col("g") < col("avail_tokens"),
            least(expr("(remaining * w) div greatest(w_active, 1)"),
              col("avail_tokens") - col("g"))).otherwise(lit(0L)))
        .withColumn(s"g$r", col("g"))
        .drop("w_active", "remaining")
    }
    // trajectory columns g1..g(R-1) + the final round as grant_tokens —
    // generated from WaterfillRounds so retuning the constant cannot
    // desync this select from the round columns built above (the
    // oracle's chained CTEs are generated from the same constant)
    val gR = s"g$WaterfillRounds"
    val trajectory = (1 until WaterfillRounds).map(r => col(s"g$r"))
    cur.select(Seq(col("source"), col("avail_tokens"), col("w")) ++ trajectory ++ Seq(
        col(gR).as("grant_tokens"),
        (col(gR) === col("avail_tokens")).as("saturated"),
        // DECIMAL(38,0) numerator (the q216 width contract): in BIGINT
        // a grant beyond ~9.2e12 tokens would wrap silently while the
        // oracle's HUGEINT errors
        expr(s"CAST((CAST(1000000 AS DECIMAL(38,0)) * $gR) div greatest(avail_tokens, 1) AS BIGINT)")
          .as("fill_micro")): _*)
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q210_epoch_plan" -> (q210EpochPlan _),
    "q236_budget_waterfill" -> (q236BudgetWaterfill _),
    "q129_dsir_select" -> (q129DsirSelect _),
    "q128_shard_manifest" -> (q128ShardManifest _),
    "q121_token_budget" -> (q121TokenBudget _),
    "q125_mix_manifest" -> (q125MixManifest _),
    "q106_weighted_sample" -> (q106WeightedSample _),
    "q227_bootstrap_ci" -> (q227BootstrapCi _),
    "q58_split_assign"  -> (q58SplitAssign _),
    "q59_source_cap"    -> (q59SourceCap _),
    "q60_quality_sample" -> (q60QualitySample _),
    "q63_sequence_pack" -> (q63SequencePack _),
    "q146_packing_sweep" -> (q146PackingSweep _),
    "q233_cluster_safe_split" -> (q233ClusterSafeSplit _),
    "q64_temperature_mix" -> (q64TemperatureMix _))

  /** DuckDB nibble arithmetic reproducing `conv(substr(hx, pos, 4), 16,
    * 10)` — md5 hex is lowercase in both engines. */
  private[graft] def hex4Sql(hx: String, pos: Int): String =
    s"""((strpos('0123456789abcdef', substr($hx, $pos, 1)) - 1) * 4096 +
       | (strpos('0123456789abcdef', substr($hx, ${pos + 1}, 1)) - 1) * 256 +
       | (strpos('0123456789abcdef', substr($hx, ${pos + 2}, 1)) - 1) * 16 +
       | (strpos('0123456789abcdef', substr($hx, ${pos + 3}, 1)) - 1))""".stripMargin

  /** 48-bit variant of [[hex4Sql]] — the q247 export checksum's
    * per-record value (wide enough that shard sums discriminate, small
    * enough that the multipliers stay exact BIGINT literals). */
  private[operators] def hex12Sql(hx: String, pos: Int): String =
    (0 until 12).map { i =>
      val mult = 1L << (4 * (11 - i))
      s"(strpos('0123456789abcdef', substr($hx, ${pos + i}, 1)) - 1) * $mult"
    }.mkString("(", " +\n ", ")")

  /** 24-bit variant of [[hex4Sql]] — matches [[hexFrac]]'s numerator. */
  private[operators] def hex6Sql(hx: String, pos: Int): String =
    (0 until 6).map { i =>
      val mult = 1L << (4 * (5 - i))
      s"(strpos('0123456789abcdef', substr($hx, ${pos + i}, 1)) - 1) * $mult"
    }.mkString("(", " +\n ", ")")

  // LAZY: the q233 oracle embeds Dedup.reachCtes while Dedup's own
  // init calls back into this object's hex helpers — eager init on
  // both sides is a clinit cycle (Sampling → Dedup → Sampling.MODULE$
  // still null → NPE); deferring this side breaks it
  lazy val oracles: Map[String, String] = Map(
    // q236: the three waterfill rounds replayed as chained CTEs — each
    // round is a 1-row (n_active, remaining) aggregate over the prior
    // round's grants, then the clipped equal-share update; all `//`
    // divisions on non-negatives, so truncation agrees with Spark's div.
    "q236_budget_waterfill" -> {
      def round(prev: String, r: Int): String =
        s"""a$r AS (
           |  SELECT sum(CASE WHEN g < avail THEN w ELSE 0 END) AS w_active,
           |    max(budget) - sum(g) AS remaining
           |  FROM $prev),
           |r$r AS (
           |  SELECT source, avail, w, budget,
           |    g + CASE WHEN g < avail THEN
           |      least((remaining * w) // greatest(w_active, 1), avail - g)
           |    ELSE 0 END AS g
           |  FROM $prev, a$r)""".stripMargin
      // rounds and trajectory columns generated from WaterfillRounds —
      // the same constant that generates the engine select's g$r columns
      val R = WaterfillRounds
      val rounds = (1 to R).map(r => round(s"r${r - 1}", r)).mkString(",\n")
      val gCols = (1 until R)
        .map(r => s"CAST(r$r.g AS BIGINT) AS g$r").mkString(",\n  ")
      val gJoins = (1 until R)
        .map(r => s"JOIN r$r ON r$r.source = r$R.source").mkString("\n")
      s"""WITH ps AS (
         |  SELECT source,
         |    sum(len(list_filter(string_split(coalesce(text, ''), ' '),
         |      x -> x <> ''))) AS avail,
         |    ${hex4Sql("md5(source)", 1)} % 4 + 1 AS w
         |  FROM documents GROUP BY source),
         |b AS (SELECT (sum(avail) * 9) // 10 AS budget FROM ps),
         |r0 AS (SELECT source, avail, w, budget, 0 AS g FROM ps, b),
         |$rounds
         |SELECT r$R.source, CAST(r$R.avail AS BIGINT) AS avail_tokens,
         |  CAST(r$R.w AS BIGINT) AS w,
         |  $gCols,
         |  CAST(r$R.g AS BIGINT) AS grant_tokens,
         |  r$R.g = r$R.avail AS saturated,
         |  CAST((CAST(1000000 AS HUGEINT) * r$R.g) // greatest(r$R.avail, 1) AS BIGINT)
         |    AS fill_micro
         |FROM r$R
         |$gJoins
         |ORDER BY r$R.source""".stripMargin
    },
    // q210: per-source token/distinct counts, per-mille weight shares
    // and the capped epoch arithmetic replayed as truncating integer
    // divisions (HUGEINT intermediates cast at the output).
    "q210_epoch_plan" ->
      s"""WITH occ AS (
         |  SELECT d.source, unnest(list_filter(string_split(d.text, ' '),
         |    x -> x <> '')) AS token
         |  FROM documents d),
         |ps AS (
         |  SELECT source, count(*) AS n_tokens,
         |    count(DISTINCT token) AS n_distinct,
         |    (1000000 * count(DISTINCT token)) // greatest(count(*), 1)
         |      AS weight_micro
         |  FROM occ GROUP BY source),
         |t AS (SELECT sum(n_tokens) AS total_tokens, sum(weight_micro) AS sum_w
         |      FROM ps),
         |plan_ AS (
         |  SELECT ps.source, ps.n_tokens, ps.weight_micro,
         |    (1000 * ps.weight_micro) // greatest(t.sum_w, 1) AS wshare_mille
         |  FROM ps, t),
         |tgt AS (
         |  SELECT p.source, p.n_tokens, p.weight_micro,
         |    ($RepeatFactor * t.total_tokens * p.wshare_mille) // 1000 AS target_tokens
         |  FROM plan_ p, t),
         |ep AS (
         |  SELECT *, least($MaxEpochsMicro,
         |      (1000000 * target_tokens) // greatest(n_tokens, 1)) AS epochs_micro
         |  FROM tgt)
         |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(weight_micro AS BIGINT) AS weight_micro,
         |  CAST(target_tokens AS BIGINT) AS target_tokens,
         |  CAST(epochs_micro AS BIGINT) AS epochs_micro,
         |  CAST((n_tokens * epochs_micro) // 1000000 AS BIGINT) AS alloc_tokens,
         |  epochs_micro = $MaxEpochsMicro AS capped
         |FROM ep ORDER BY source""".stripMargin,
    // hashed features, add-1 class models and per-bucket micro-bit
    // log-ratios replayed exactly; the only doubles are the two log2
    // calls, each rounded to micros at the same point as the plan
    "q129_dsir_select" -> {
      val tgtList = DsirTargetSources.map(s => s"'$s'").mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, unnest(w) AS feat FROM d
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
         |    i -> w[i] || ' ' || w[i + 1])) AS feat FROM d),
         |b AS (
         |  SELECT doc_id, md5(feat) AS h FROM f),
         |pd AS (
         |  SELECT doc_id, CAST(${hex4Sql("h", 1)} % $DsirBuckets AS BIGINT) AS bucket,
         |    count(*) AS c
         |  FROM b GROUP BY 1, 2),
         |pds AS (
         |  SELECT pd.doc_id, pd.bucket, pd.c, ds.source,
         |    ds.source IN ($tgtList) AS tgt
         |  FROM pd JOIN (SELECT doc_id, source FROM documents) ds USING (doc_id)),
         |m AS (
         |  SELECT bucket,
         |    coalesce(sum(c) FILTER (tgt), 0) AS ct,
         |    coalesce(sum(c) FILTER (NOT tgt), 0) AS cr
         |  FROM pds GROUP BY bucket),
         |t AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM m),
         |s AS (
         |  SELECT bucket,
         |    CAST(round(log2((ct + 1) * 1.0 / (nt + $DsirBuckets)) * 1000000) AS BIGINT)
         |  - CAST(round(log2((cr + 1) * 1.0 / (nr + $DsirBuckets)) * 1000000) AS BIGINT)
         |      AS delta_micro
         |  FROM m, t)
         |SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_feats,
         |  CAST(sum(c * delta_micro) AS BIGINT) AS dsir_micro
         |FROM pds JOIN s USING (bucket)
         |WHERE NOT tgt
         |GROUP BY doc_id, source
         |ORDER BY dsir_micro DESC, doc_id LIMIT $DsirTopK""".stripMargin
    },
    // shard draw + checksum replayed nibble-for-nibble
    "q128_shard_manifest" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars, md5(trim(text)) AS ch,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, n_chars, n_tok,
         |    CAST(${hex4Sql("ch", 15)} % $ExportShards AS BIGINT) AS shard,
         |    CAST(${hex6Sql("ch", 19)} AS BIGINT) AS fp
         |  FROM t)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_bytes,
         |  CAST(sum(fp) AS BIGINT) AS content_fp
         |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    // each pow-derived weight fixed to int64 micros immediately
    // (floor(+0.5) — the one transcendental rounding), INTEGER total,
    // then one int64-derived double expression per output column with
    // the plan's exact op order, floor(+0.5) again — the q122 recipe
    "q125_mix_manifest" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
         |  FROM documents),
         |s AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS avail FROM tok GROUP BY source),
         |w AS (SELECT source, avail,
         |        CAST(floor(pow(CAST(avail AS DOUBLE), $MixAlpha) * 1000000.0 + 0.5)
         |          AS BIGINT) AS wm FROM s),
         |t AS (SELECT CAST(SUM(wm) AS BIGINT) AS wt FROM w)
         |SELECT source, avail AS avail_tokens,
         |  CAST(floor(CAST(wm AS DOUBLE) * 1000000.0 / wt + 0.5) AS BIGINT) AS share_micros,
         |  CAST(floor(CAST(wm AS DOUBLE) * $MixBudget.0 * 1000000.0 / wt / avail + 0.5)
         |    AS BIGINT) AS epochs_micros
         |FROM w, t ORDER BY source""".stripMargin,
    "q121_token_budget" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM tok)
         |SELECT doc_id, source, n_tok, CAST(cum AS BIGINT) AS cum_tokens
         |FROM c WHERE cum <= $TokenBudgetPerSource ORDER BY doc_id""".stripMargin,
    // q227: the 16 Poisson draws replayed from the same md5 uniforms
    // and fixed CDF thresholds, all 34 sums in ONE aggregate, literal
    // pivots per replicate
    "q227_bootstrap_ci" -> {
      def wSql(r: Int): String = {
        val u = hex6Sql(s"md5(CAST(doc_id AS VARCHAR) || ':bs$r')", 1)
        PoissonCdf24.zipWithIndex
          .map { case (thr, k) => s"WHEN $u < $thr THEN $k" }
          .mkString("CASE ", " ", s" ELSE ${PoissonCdf24.length} END")
      }
      val repSums = (0 until BootstrapReplicates).map { r =>
        s"sum(${wSql(r)}) AS n_$r, sum(q * ${wSql(r)}) AS s_$r"
      }.mkString(",\n    ")
      val repRows = (0 until BootstrapReplicates).map { r =>
        s"""SELECT $r AS replicate, CAST(n_$r AS BIGINT) AS n_eff,
           |  CAST((100 * s_$r) // greatest(n_$r, 1) AS BIGINT) AS mean_score_micro
           |FROM w""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH s AS (
         |  SELECT
         |    CAST(round((least(len(wd) / 100.0, 1.0) * 0.5 +
         |      len(list_distinct(wd)) * 1.0 / len(wd) * 0.5) * 10000) AS BIGINT) AS q,
         |    doc_id
         |  FROM (SELECT doc_id, text,
         |          list_filter(string_split(text, ' '), x -> x <> '') AS wd
         |        FROM documents)
         |  WHERE len(wd) > 0),
         |w AS (
         |  SELECT count(*) AS n_base, sum(q) AS s_base,
         |    $repSums
         |  FROM s)
         |SELECT -1 AS replicate, CAST(n_base AS BIGINT) AS n_eff,
         |  CAST((100 * s_base) // greatest(n_base, 1) AS BIGINT) AS mean_score_micro
         |FROM w
         |UNION ALL
         |$repRows
         |ORDER BY replicate""".stripMargin
    },
    "q106_weighted_sample" ->
      s"""WITH s AS (
         |  SELECT doc_id, n_chars,
         |    ln((${hex6Sql("md5(trim(text))", 9)} + 1) / 16777216.0)
         |      / CAST(greatest(n_chars, 1) AS DOUBLE) AS k
         |  FROM documents),
         |top AS (SELECT * FROM s ORDER BY k DESC, doc_id LIMIT $WeightedSampleK)
         |SELECT doc_id, n_chars, round(k, 8) AS es_key
         |FROM top ORDER BY doc_id""".stripMargin,
    // q146: the q63 CTEs swept over the budget list — same cut points,
    // integer split test and ceil-division sequence counts per budget.
    "q146_packing_sweep" ->
      s"""WITH t AS (
         |  SELECT doc_id, md5(trim(text)) AS ch,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, ch, n_tokens,
         |    CAST(${hex4Sql("ch", 5)} % $PackShards AS BIGINT) AS shard
         |  FROM t),
         |c AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY ch, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM s),
         |ctx AS (SELECT CAST(unnest([${PackSweepBudgets.mkString(", ")}]) AS BIGINT) AS ctx),
         |d AS (
         |  SELECT ctx.ctx, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN c.n_tokens > 0
         |      AND (c.cum_before // ctx.ctx) != ((c.cum_before + c.n_tokens - 1) // ctx.ctx)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
         |  FROM c, ctx GROUP BY 1),
         |sh AS (SELECT shard, CAST(sum(n_tokens) AS BIGINT) AS tot FROM c GROUP BY shard),
         |q AS (
         |  SELECT ctx.ctx, CAST(sum((sh.tot + ctx.ctx - 1) // ctx.ctx) AS BIGINT) AS n_sequences
         |  FROM sh, ctx GROUP BY 1)
         |SELECT d.ctx, d.n_docs, d.n_split_docs, q.n_sequences,
         |  ((d.n_split_docs * 1000000) // d.n_docs) / 10000.0 AS split_pct
         |FROM d JOIN q ON d.ctx = q.ctx ORDER BY d.ctx""".stripMargin,
    "q63_sequence_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, md5(trim(text)) AS ch,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, ch, n_tokens,
         |    CAST(${hex4Sql("ch", 5)} % $PackShards AS BIGINT) AS shard
         |  FROM t),
         |c AS (
         |  SELECT doc_id, shard,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY ch, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM s)
         |SELECT doc_id, shard,
         |  CAST(cum_before // $SeqBudget AS BIGINT) AS seq_idx,
         |  CAST(cum_before % $SeqBudget AS BIGINT) AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin,
    "q64_temperature_mix" ->
      s"""WITH s AS (
         |  SELECT source, CAST(count(*) AS DOUBLE) AS n_s FROM documents GROUP BY source),
         |t AS (
         |  SELECT sum(pow(n_s, $MixAlpha)) AS w_tot, sum(n_s) AS k_tot FROM s),
         |r AS (
         |  SELECT source, round(k_tot * pow(n_s, $MixAlpha) / (w_tot * n_s), 6) AS rep
         |  FROM s, t),
         |h AS (
         |  SELECT d.doc_id, d.source, r.rep,
         |    ${hex6Sql("md5(trim(d.text))", 9)} AS b
         |  FROM documents d JOIN r USING (source))
         |SELECT doc_id, source,
         |  CAST(floor(rep) + CASE WHEN b / 16777216.0 < rep - floor(rep)
         |    THEN 1 ELSE 0 END AS BIGINT) AS n_copies
         |FROM h ORDER BY doc_id""".stripMargin,
    // the q38 reachability closure + the q58 split rule drawn at the
    // group-keeper grain (the doc-grain split frame joined on grp)
    "q233_cluster_safe_split" ->
      s"""${Dedup.reachCtes},
         |lab AS (SELECT id, min(r) AS grp FROM reach GROUP BY id),
         |g AS (SELECT d.doc_id, coalesce(lab.grp, d.doc_id) AS grp
         |      FROM documents d LEFT JOIN lab ON d.doc_id = lab.id),
         |sp AS (
         |  SELECT doc_id AS grp,
         |    CASE WHEN bkt < $TrainPct THEN 'train'
         |         WHEN bkt < ${TrainPct + ValPct} THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, ${hex4Sql("md5(trim(text))", 1)} % 100 AS bkt
         |        FROM documents))
         |SELECT g.doc_id, CAST(g.grp AS BIGINT) AS grp, sp.split
         |FROM g JOIN sp USING (grp)
         |ORDER BY g.doc_id""".stripMargin,
    // nibble arithmetic reproduces conv(hex,16,10) exactly (md5 is
    // lowercase hex in both engines)
    "q58_split_assign" ->
      s"""WITH h AS (
         |  SELECT doc_id, substr(md5(trim(text)), 1, 4) AS hx FROM documents),
         |b AS (
         |  SELECT doc_id,
         |    ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096 +
         |     (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256 +
         |     (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16 +
         |     (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 100 AS bkt
         |  FROM h)
         |SELECT doc_id,
         |  CASE WHEN bkt < $TrainPct THEN 'train'
         |       WHEN bkt < ${TrainPct + ValPct} THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,
    // q23's score + q58's bucket arithmetic composed; keep-rate by tier
    "q60_quality_sample" ->
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS n_tokens,
         |    CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE) AS n_distinct
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, text,
         |    round(least(n_tokens / 100.0, 1.0) * 0.5 + (n_distinct / n_tokens) * 0.5, 4) AS q
         |  FROM t),
         |tiered AS (
         |  SELECT doc_id, text,
         |    CASE WHEN q >= 0.6 THEN 'high'
         |         WHEN q >= 0.4 THEN 'medium'
         |         ELSE 'low' END AS quality_tier
         |  FROM s),
         |b AS (
         |  SELECT doc_id, quality_tier, substr(md5(trim(text)), 1, 4) AS hx FROM tiered),
         |k AS (
         |  SELECT doc_id, quality_tier,
         |    ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096 +
         |     (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256 +
         |     (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16 +
         |     (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 100 AS bkt
         |  FROM b)
         |SELECT doc_id, quality_tier FROM k
         |WHERE bkt < CASE quality_tier WHEN 'high' THEN ${KeepPct("high")}
         |                              WHEN 'medium' THEN ${KeepPct("medium")}
         |                              ELSE ${KeepPct("low")} END
         |ORDER BY doc_id""".stripMargin,
    "q59_source_cap" ->
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(trim(text)), doc_id) AS rnk
         |  FROM documents)
         |SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= $SourceCap ORDER BY source, rnk""".stripMargin)
}
