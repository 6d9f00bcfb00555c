package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}

/** Deduplication operators over the `documents` corpus (SURVEY §2.9):
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH and SimHash near-dup.
  *
  * Scale design: the corpus has low-entropy text (tiny vocabulary), which
  * is exactly the adversarial case for naive similarity joins — a
  * single-word equality join degenerates to ~all-pairs. Every operator
  * here therefore keys on 5-word shingles (measured on the fixtures:
  * random-pair shingle-Jaccard ≈ 0, planted near-dups ≈ 0.97+), so the
  * candidate-pair join stays linear in corpus size. At 100 TB the same
  * property is what keeps MinHash banding shuffles bounded: band buckets
  * are hashes of shingle minima, so bucket sizes track true duplicate
  * clusters, not vocabulary frequencies. A residual guard (`MaxBucket`)
  * caps any degenerate bucket.
  */
object Dedup extends graft.QueryModule {

  /** Distinct 5-word shingles per document: the unit of near-dup
    * comparison. Built with sequence+transform+slice (all codegen'd
    * array ops, no explode until the join needs rows). */
  def shingleArray(text: Column, k: Int = 5): Column = {
    val toks = TextOps.tokens(text)
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  /** (doc_id, shingle) exploded pairs — the join input. */
  def shingles(docs: DataFrame, k: Int = 5): DataFrame =
    docs.select(col("doc_id"), explode(shingleArray(col("text"), k)).as("s"))

  /** The shared signature row for the whole near-dup family: one row per
    * doc with its distinct hashed shingles and their count. Every family
    * operator (exact Jaccard, MinHash, SimHash, dedup APPLY) derives from
    * this — joins key on the 64-bit hash instead of the ~30-byte shingle
    * string (¼ the shuffle bytes; xxhash64 collisions across a corpus'
    * distinct shingles are ~|shingles|²/2⁶⁵ — negligible against the LSH
    * probability bounds already accepted by this family), and the shingle
    * count rides along as a column instead of costing a groupBy shuffle. */
  private[graft] def sigsOf(docs: DataFrame): DataFrame =
    docs
      // ONE codegen'd byte loop per document (ShingleXxhashes) instead
      // of the interpreted transform/array_distinct/concat_ws/xxhash64
      // HOF chain — bit-identical output (DedupSpec gates it against
      // the composable form), ~3× the signature throughput, and the
      // whole map stage stays inside whole-stage codegen
      .select(col("doc_id"),
        graft.functions.VectorFunctions.shingle_xxhashes(col("text")).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).as("n_sh"))

  /** [[sigsOf]] over the corpus at `dir`, built once per corpus version
    * and cached via [[SignatureStage]]. */
  private[graft] def shingleSigs(spark: SparkSession, dir: String): DataFrame =
    SignatureStage.stage(spark, dir, "shingle_sigs")(
      // fan out before the one-per-version signature build: tokenizing
      // + hashing the whole corpus is the stage's only cost and must
      // use every core, not the scan's row-group count (Tables.fanout)
      sigsOf(Tables.fanout(spark, Tables.documents(spark, dir))))

  /** Bucket fan-out for the persisted exploded shingle table — sized to
    * the fixtures; a deployment sizes it to ~128-256 MB per bucket. */
  val ShingleHashBuckets = 8

  /** Pre-exploded (doc_id, h) shingle-hash pairs — the JOIN-ready grain
    * of the signature table, bucketed by `h` when persisted: any later
    * equi-join on the hash (decontamination's shuffle fallback, external
    * overlap probes) then plans WITHOUT an Exchange on the corpus side,
    * in this session or any later one that reloads the stage — the
    * [[graft.layout.BucketedLayout]] lever applied to the family's own
    * intermediates. */
  private[operators] def shingleHashes(spark: SparkSession, dir: String): DataFrame =
    SignatureStage.stage(spark, dir, "shingle_h",
        Some(SignatureStage.BucketSpec(Seq("h"), ShingleHashBuckets))) {
      shingleSigs(spark, dir).select(col("doc_id"), explode(col("hs")).as("h"))
    }

  /** Exact-duplicate groups by content hash (SURVEY §2.9 "exact dedup";
    * the group-and-HAVING shape of the reference's duplicate-email check,
    * `sql/sample_athena_queries.sql:113-119`). One shuffle on the 128-bit
    * fingerprint — uniform by construction, skew-free at any scale. */
  def q24DedupExact(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.documents(spark, dir)
      .groupBy(TextOps.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("copies"), min(col("doc_id")).as("keeper"))
      .filter(col("copies") > 1)
      .orderBy("fp")
  }

  /** Normalization for [[q160NormalizedDedup]]: lowercase + collapse
    * space runs — deliberately the PORTABLE subset (literal space
    * class, not `\s`: Java and RE2 disagree on `\x0B`) so the oracle
    * replays byte-for-byte. */
  private[graft] def normalized(text: Column): Column =
    lower(regexp_replace(trim(text), " +", " "))

  /** q160 — NORMALIZATION-AWARE EXACT DEDUP: the C4/RefinedWeb
    * "normalize before you hash" pre-pass — documents identical up to
    * case and whitespace runs collapse to one fingerprint that raw-md5
    * dedup (q24) treats as distinct. Emits each normalized cluster
    * with its copy count, keeper (q38 election) and the number of RAW
    * fingerprint variants inside it — `n_raw_variants > 1` rows are
    * exactly the catches q24 misses. Map-only normalize+hash; the
    * groupBy shuffles 16-byte fingerprints. */
  def q160NormalizedDedup(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(normalized(col("text"))).as("fp"),
        TextOps.fingerprint(col("text")).as("raw_fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("copies"), min(col("doc_id")).as("keeper"),
        countDistinct(col("raw_fp")).as("n_raw_variants"))
      .filter(col("copies") > 1)
      .orderBy("fp")
  }

  /** Containment floor for the q165 directed source matrix. */
  val SourceContainMicros = 100000L

  /** q165 — DIRECTED SOURCE CONTAINMENT: the asymmetric twin of q120's
    * source-overlap matrix (q142's resemblance-vs-containment
    * distinction lifted to source grain) — C(a→b) = |A∩B| / |A| over
    * the sources' distinct shingle sets. Jaccard can't tell a mirror
    * from its origin: a small source wholly syndicated from a large one
    * scores near-zero Jaccard but containment ≈ 1 in exactly one
    * direction, which names WHO copies WHOM — the fact a curation
    * pipeline needs to pick the keeper SOURCE (the q38 election at
    * corpus grain). Emits every ordered pair with shared-shingle count,
    * containment micros and the ≥[[SourceContainMicros]] flag.
    *
    * Scale shape: rides the SAME distinct (source, shingle) grain and
    * pairwise intersection counts as q120/q154 — one corpus pass, one
    * hash-keyed pair join, sources²-bounded output; both directions
    * derive from the one undirected intersection count. */
  def q165SourceContainment(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val srcSh = Tables.fanout(spark, Tables.documents(spark, dir))
      .select(col("source"), explode(shingleArray(col("text"))).as("s"))
      .distinct()
    val n = srcSh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val inter = srcSh.select(col("source").as("src_a"), col("s"))
      .join(srcSh.select(col("source").as("src_b"), col("s")), Seq("s"))
      .filter(col("src_a") =!= col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
    // full ordered grid so zero-overlap directions are explicit rows
    val grid = n.select(col("source").as("src_from"), col("n_sh").as("n_from"))
      .crossJoin(n.select(col("source").as("src_to")))
      .filter(col("src_from") =!= col("src_to"))
    grid
      .join(inter.withColumnRenamed("src_a", "src_from")
        .withColumnRenamed("src_b", "src_to"), Seq("src_from", "src_to"), "left")
      .select(col("src_from"), col("src_to"), col("n_from"),
        coalesce(col("inter"), lit(0L)).as("n_shared"),
        expr("coalesce(inter, 0) * 1000000 div n_from").as("containment_micro"))
      .withColumn("is_contained", col("containment_micro") >= SourceContainMicros)
      .orderBy("src_from", "src_to")
  }

  /** Corpus-level dedup accounting: total vs content-distinct docs. */
  def q25DedupCounts(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    Tables.documents(spark, dir)
      .agg(
        count(lit(1)).as("total_docs"),
        countDistinct(TextOps.fingerprint(col("text"))).as("distinct_docs"))
  }

  /** q26 — exact n-gram (5-word shingle) Jaccard near-dup pairs at
    * threshold 0.6. Self-equijoin on shingle → per-pair intersection
    * count → |A∩B| / (|A|+|B|−|A∩B|). The shuffle is on shingle values
    * (high cardinality), then on (d1,d2) pairs (sparse) — both bounded. */
  def q26NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    jaccardPairs(shingleSigs(spark, dir), 0.6)
  }

  /** Exact shingle-Jaccard pairs over a [[sigsOf]]-shaped signature table
    * (`doc_id`, `hs`, `n_sh`), optionally restricted to a candidate-pair
    * set (for LSH verification). The self-join keys on the hashed
    * shingles; per-doc shingle counts come from the `n_sh` column — no
    * counting shuffle, no re-tokenization. */
  private[graft] def jaccardPairs(
      sigs: DataFrame,
      threshold: Double,
      candidates: Option[DataFrame] = None): DataFrame = {
    // with a candidate set, restrict the shingle join to candidate docs
    // BEFORE the self-join — verifying 256 candidate pairs must not pay
    // for the full corpus² shingle join (measured 2.5x on q27)
    val base = candidates match {
      case Some(c) =>
        val cdocs = c.select(col("d1").as("doc_id"))
          .unionAll(c.select(col("d2").as("doc_id"))).distinct()
        sigs.join(cdocs, Seq("doc_id"), "left_semi")
      case None => sigs
    }
    val sh = base.select(col("doc_id"), col("n_sh"), explode(col("hs")).as("h"))
    val a = sh.select(col("doc_id").as("d1"), col("n_sh").as("n1"), col("h"))
    val b = sh.select(col("doc_id").as("d2"), col("n_sh").as("n2"), col("h"))
    val inter0 = a.join(b, Seq("h")).filter(col("d1") < col("d2"))
    val inter1 = candidates match {
      case Some(c) => inter0.join(c, Seq("d1", "d2"), "left_semi")
      case None    => inter0
    }
    // n1/n2 are functionally dependent on d1/d2 — grouping on them too is
    // free and saves the two count-table joins the old shape paid for
    inter1
      .groupBy("d1", "d2", "n1", "n2")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n1") + col("n2") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")
      .orderBy("d1", "d2")
  }

  /** Exact set-similarity join via PREFIX FILTERING (Bayardo et al.,
    * WWW'07 "Scaling Up All Pairs"; Xiao et al., WWW'08 PPJoin) — the
    * EXACT third path of the near-dup family: q26's all-shared-shingle
    * self-join is exact but joins on every shingle; q49's LSH is
    * sublinear but probabilistic; prefix filtering is exact AND prunes.
    *
    * Any pair with J(A,B) ≥ τ shares ≥ ⌈τ·|A|⌉ elements, so under ANY
    * global element order the first |A| − ⌈τ·|A|⌉ + 1 elements of A
    * (its "prefix") must intersect B's prefix — pairs sharing no prefix
    * element are provably below τ and are never generated. The shingle
    * join therefore explodes only the ~(1−τ) prefix fraction of every
    * document, and the exact verify runs on the surviving candidate
    * pairs only ([[jaccardPairs]]' candidate path). The global order
    * here is the shingle hash itself — order-agnostic correctness; a
    * production tune would order by ascending document frequency to
    * shrink candidates further (rarest-first), at the price of a
    * df-counting pass. */
  private[graft] def prefixJaccardPairs(sigs: DataFrame, threshold: Double): DataFrame = {
    val prefLen = (col("n_sh") - ceil(col("n_sh") * threshold) + 1).cast("int")
    val pref = sigs.select(col("doc_id"),
      explode(slice(array_sort(col("hs")), lit(1), prefLen)).as("h"))
    val cands = pref.select(col("doc_id").as("d1"), col("h"))
      .join(pref.select(col("doc_id").as("d2"), col("h")), Seq("h"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    // PAIR-LOCAL verify (the PPJoin verify phase): attach each side's
    // signature array to the candidate pair and intersect row-locally —
    // `hs` holds DISTINCT shingle hashes, so |array_intersect| IS the
    // exact intersection count. The previous shape re-exploded the
    // candidate docs' shingles into a second hash-keyed self-join —
    // correct, but it re-paid most of the full q26 join the prefix
    // filter exists to avoid (measured: 2.2 s vs q26's 0.54 s at
    // sf0.1; this shape: two doc-keyed joins sized by the CANDIDATE
    // list + codegen'd intersects, 0.8 s). At 100 TB the candidate
    // list is the sparse near-dup set, so the verify cost rides
    // |candidates|, never the corpus join.
    val s1 = sigs.select(col("doc_id").as("d1"), col("hs").as("hs1"),
      col("n_sh").as("n1"))
    val s2 = sigs.select(col("doc_id").as("d2"), col("hs").as("hs2"),
      col("n_sh").as("n2"))
    cands.join(s1, Seq("d1")).join(s2, Seq("d2"))
      .withColumn("inter",
        size(array_intersect(col("hs1"), col("hs2"))).cast("long"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")
      .orderBy("d1", "d2")
  }

  /** q99 — [[prefixJaccardPairs]] at the q26 threshold: same exact
    * answer (the oracle IS q26's), produced without the full shingle
    * self-join. */
  def q99PrefixJoin(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    prefixJaccardPairs(shingleSigs(spark, dir), 0.6)
  }

  /** q123 — cross-split LEAKAGE audit: near-duplicate pairs that
    * straddle the train/val/test boundary. Exact duplicates can never
    * leak here (the q58 split is a pure function of content, so
    * identical text lands in one split by construction); what this
    * catches is the dangerous residue — NEAR-duplicates of training
    * documents sitting in val/test, which inflate held-out metrics. The
    * pair set is the q99 prefix-filter join (exact, provably complete,
    * never all-pairs); the split attach is two equi-joins where the
    * pair side is near-dup-pair-sized — sparse by definition, so AQE
    * broadcasts it and the doc-grain split frame never shuffles. */
  def q123SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    splitLeakage(
      prefixJaccardPairs(shingleSigs(spark, dir), 0.6),
      Sampling.q58SplitAssign(spark, dir))
  }

  /** The audit over ANY (d1, d2, jaccard) pair frame and (doc_id, split)
    * assignment. */
  private[graft] def splitLeakage(pairs: DataFrame, splits: DataFrame): DataFrame =
    pairs
      .join(splits.select(col("doc_id").as("d1"), col("split").as("split_1")), Seq("d1"))
      .join(splits.select(col("doc_id").as("d2"), col("split").as("split_2")), Seq("d2"))
      .filter(col("split_1") =!= col("split_2"))
      .select("d1", "d2", "jaccard", "split_1", "split_2")
      .orderBy("d1", "d2")

  /** MinHash parameters: 24 permutations = 8 bands × 3 rows. For true
    * Jaccard j, P(candidate) = 1 − (1−j³)⁸ — at j=0.9 that is
    * 1 − 3.4e-5; at j=0.3 only 2%. The planted near-dups sit at j≥0.97
    * (P(miss) < 1e-8), so the LSH output equals the exact-Jaccard oracle
    * with overwhelming probability while touching ~n·bands rows instead
    * of n² pairs. */
  val NumPerm = 24
  val Bands = 8
  val RowsPerBand = 3
  /** Degenerate-bucket guard: a band bucket larger than this is dropped
    * (it can only arise from pathological corpora; dropping trades
    * recall on mega-clusters for a hard bound on join fan-out). */
  val MaxBucket = 1000

  /** Row-local (band, bucket) struct array over an ALREADY-minhashed
    * 24-element signature array column: band b's bucket is the xxhash64
    * of its 3 signature rows. Exposed as a single column expression so
    * a caller that must RETAIN its own columns alongside the buckets
    * (the streaming admission screen, which carries quality/fingerprint
    * columns through the same projection) computes the identical bucket
    * ids [[bandBucketsOf]] computes — the batch path below rides this
    * same expression, so the two can never diverge. */
  private[graft] def bandStructsOfSig(sig: Column): Column =
    array((0 until Bands).map { b =>
      val rows = (0 until RowsPerBand).map(r => sig.getItem(b * RowsPerBand + r))
      struct(lit(b).as("band"), xxhash64(rows: _*).as("bucket"))
    }: _*)

  /** Banded MinHash bucket ids over a [[sigsOf]]-shaped frame:
    * (doc_id, band, bucket), one row per document per band. Stateless
    * per-row work — ALL 24 permutation minima come from one traversal of
    * the codegen'd [[graft.functions.MinhashSigs]] expression over the
    * row's own shingle hashes (no explode+groupBy: that formulation
    * shuffles |docs|×|shingles| rows, and at 100 TB that shuffle IS the
    * job), and the explode here is band-count-sized. The SAME definition
    * serves the batch pipeline and the streaming screens
    * ([[graft.streaming.DedupStream]],
    * [[graft.streaming.AdmissionStream]]) — twin equality is by
    * construction, not by parallel reimplementation. */
  private[graft] def bandBucketsOf(sigs: DataFrame): DataFrame =
    sigs
      .select(col("doc_id"),
        graft.functions.VectorFunctions.minhash_sigs(col("hs"), NumPerm).as("sig"))
      .select(col("doc_id"), explode(bandStructsOfSig(col("sig"))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  /** Distinct LSH candidate pairs for the corpus at `dir` — banded
    * MinHash buckets, self-joined per (band, bucket) with the degenerate-
    * bucket guard. Cached per corpus version ([[SignatureStage]]): q27
    * verifies these pairs, q38 clusters their verified subset. */
  private[operators] def candidatePairs(spark: SparkSession, dir: String): DataFrame =
    SignatureStage.stage(spark, dir, "minhash_candidates") {
      val buckets = bandBucketsOf(shingleSigs(spark, dir))
      // drop degenerate buckets before the self-join (fan-out guard)
      val sized = buckets
        .groupBy("band", "bucket").agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= MaxBucket)
      val bounded = buckets.join(sized.select("band", "bucket"), Seq("band", "bucket"), "left_semi")
      val l = bounded.select(col("band"), col("bucket"), col("doc_id").as("d1"))
      val r = bounded.select(col("band"), col("bucket"), col("doc_id").as("d2"))
      l.join(r, Seq("band", "bucket"))
        .filter(col("d1") < col("d2"))
        .select("d1", "d2")
        .distinct()
    }

  /** Exact-verified near-dup pairs (the q27 result), cached per corpus
    * version: the pair list is the input to every downstream dedup step
    * (clustering, keeper election, corpus filtering), so it is a corpus
    * artifact, not a per-query temporary. */
  private[operators] def verifiedPairs(spark: SparkSession, dir: String): DataFrame =
    SignatureStage.stage(spark, dir, "verified_pairs") {
      jaccardPairs(shingleSigs(spark, dir), 0.6, Some(candidatePairs(spark, dir)))
    }

  /** q27 — MinHash + LSH near-dup pairs, exact-verified. Pipeline:
    * shared signature table → 24 minhashes/doc → 8 band buckets/doc →
    * self-join per (band, bucket) → distinct candidate pairs → exact
    * shingle-Jaccard verify at 0.6. The verify step makes the output
    * exact (LSH only controls recall, and the parameters push miss
    * probability below 1e-8), which is why this query can share the
    * exact-Jaccard oracle. */
  def q27MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    verifiedPairs(spark, dir)
  }

  /** SimHash: 64-bit signature whose bits are majority votes of shingle
    * hashes; near-dups differ in few bits. Returns (doc_id, simhash).
    * Row-local via the codegen'd [[graft.functions.Simhash64]] expression
    * over `transform(shingles, xxhash64)` — map-only, no explode/shuffle.
    * ([[graft.functions.SimhashAgg]] remains the grouped/streaming form
    * for when token hashes arrive as rows rather than arrays.) */
  private[operators] def simhashes(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"),
      graft.functions.VectorFunctions.simhash64(col("hs")).as("simhash"))

  /** SimHash banding: Hamming threshold 8 with 9 chunks (eight 7-bit +
    * one 8-bit). Pigeonhole: ≤8 differing bits across 9 chunks always
    * leaves one chunk intact, so the chunk-equality join has EXACT recall
    * at the threshold; the explicit Hamming post-filter gives exact
    * precision. Measured on the fixtures: planted near-dups sit at
    * Hamming 0–8, random pairs at 19+, so the margin is real. */
  val SimhashHamming = 8
  val SimhashChunks = 9

  /** PRODUCTION SimHash near-dup pairs at Hamming ≤ [[SimhashHamming]],
    * via chunk-banding + exact Hamming verify. The signature bits ride
    * xxhash64, so the pair list itself is engine-hash-dependent; the
    * [[q28Simhash]] gate compares it against the exact-Jaccard twin
    * in-plan instead of exposing the raw pairs to the oracle. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    // derived map-only from the cached signature table: the codegen'd
    // Simhash64 re-runs per reference below, but over cached `hs` arrays
    // that is one tight loop per doc — cheaper than holding (and leaking)
    // a second cached table
    val sims = simhashes(shingleSigs(spark, dir))
    val width = 64 / SimhashChunks // 7 bits; last chunk takes the remainder
    val chunkCols = (0 until SimhashChunks).map { c =>
      val lo = c * width
      val bits = if (c == SimhashChunks - 1) 64 - lo else width
      val mask = if (bits >= 64) -1L else (1L << bits) - 1L
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), lo).bitwiseAND(lit(mask)).as("key"))
    }
    val chunks = sims.select(col("doc_id"), col("simhash"), explode(array(chunkCols: _*)).as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    val l = chunks.select(col("chunk"), col("key"), col("doc_id").as("d1"), col("simhash").as("s1"))
    val r = chunks.select(col("chunk"), col("key"), col("doc_id").as("d2"), col("simhash").as("s2"))
    // Hamming filter BEFORE the dedup: random pairs sit at Hamming 19+
    // (see margin note above), so filtering first shrinks the distinct's
    // shuffle from every chunk-collision row to just the true near-dups.
    l.join(r, Seq("chunk", "key"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long").as("hamming"))
      .filter(col("hamming") <= SimhashHamming)
      .distinct()
      .orderBy("d1", "d2")
  }

  /** q28 gate floors. Measured on the fixtures (both driver SFs):
    * recall of the Jaccard ≥ 0.9 planted pairs ≈ 0.96 (a near-dup at
    * Jaccard 0.9 sits well inside Hamming 8), and EVERY surfaced SimHash
    * pair has exact Jaccard ≥ 0.6 (precision 1.0) — the floors leave
    * real margin without being vacuous. */
  val SimhashRecallJaccard = 0.9
  val SimhashRecallFloor = 0.8
  val SimhashPrecisionFloor = 0.9

  /** q28 — the SimHash VERDICT GATE (same pattern as the q30/q43/q49
    * ANN gates): [[simhashPairs]] against the exact-Jaccard twin
    * IN-PLAN, emitting the deterministic exact-pair count plus
    * recall/precision-floor booleans — xxhash64 never reaches the
    * output, so the DuckDB oracle recomputes the count with the q26
    * arithmetic and asserts the verdicts literally (full hash-match
    * instead of rows-only). Production callers use [[simhashPairs]]. */
  def q28Simhash(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val sim = simhashPairs(spark, dir).select(col("d1"), col("d2"), lit(1L).as("hit"))
    val exact = verifiedPairs(spark, dir).select(col("d1"), col("d2"), col("jaccard"))
    val hi = exact.filter(col("jaccard") >= SimhashRecallJaccard)
    val recallAgg = hi.join(sim, Seq("d1", "d2"), "left")
      .agg(
        count(lit(1)).as("n_exact_pairs"),
        (sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1))).as("recall"))
    val precAgg = sim
      .join(exact.select(col("d1"), col("d2"), lit(1L).as("ex")), Seq("d1", "d2"), "left")
      .agg((sum(coalesce(col("ex"), lit(0L))).cast("double") / count(lit(1))).as("precision"))
    recallAgg.crossJoin(precAgg) // two 1-row aggregates — broadcast scalar attach
      .select(
        col("n_exact_pairs"),
        (col("recall") >= SimhashRecallFloor).as("recall_ok"),
        (col("precision") >= SimhashPrecisionFloor).as("precision_ok"))
  }

  /** Span-grid window width (tokens) for [[spanDedup]]. Production
    * substring dedup uses 50-token spans (Lee et al. 2022); the fixture
    * corpus' planted near-dups share shorter runs, so the grid is finer
    * here — a caller knob. */
  val SpanWindow = 10

  /** Span-grid EXACT substring deduplication (the C4 "repeated span"
    * rule, grid-aligned: Raffel et al. 2020 §2.2 dedupe repeated
    * three-sentence spans; Lee et al. 2022, arXiv:2107.06499, dedupe
    * repeated 50-token substrings — public-knowledge methods, original
    * Spark implementation). Each document's token stream is cut into
    * NON-OVERLAPPING `win`-token windows; the first occurrence of each
    * distinct window content in corpus order (doc_id, window index)
    * survives, every later occurrence is removed, and documents are
    * reassembled from their surviving windows (a document whose every
    * window is removed disappears — the C4 empty-doc drop).
    *
    * Scale shape: the token stream shuffles exactly twice, both
    * unavoidable — once keyed on the span fingerprint (md5, the exact
    * analogue of q24's content hash at span granularity, so the oracle
    * reproduces it verbatim) for the global first-occurrence election
    * (one row_number window, no self-join, never all-pairs), once on
    * doc_id for reassembly. No collects; state per span key is one row. */
  def spanDedup(docs: DataFrame, win: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .withColumn("n_win", ceil(size(col("t")) / lit(win.toDouble)).cast("long"))
    val wins = t
      .select(col("doc_id"), col("n_win"),
        posexplode(transform(sequence(lit(0), (col("n_win") - 1).cast("int")),
          i => array_join(slice(col("t"), i * win + 1, lit(win)), " "))))
      .select(col("doc_id"), col("n_win"),
        col("pos").cast("long").as("widx"), col("col").as("wtext"))
    val firstSeen = Window.partitionBy(md5(col("wtext"))).orderBy("doc_id", "widx")
    wins
      .withColumn("rn", row_number().over(firstSeen))
      .filter(col("rn") === 1)
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("widx"), col("wtext")))),
            s => s.getField("wtext")),
          " ").as("text_dedup"),
        count(lit(1)).as("n_kept"),
        (first(col("n_win")) - count(lit(1))).as("n_removed"))
      .orderBy("doc_id")
  }

  /** q80 — [[spanDedup]] over the documents table at [[SpanWindow]]. */
  def q80SpanDedup(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    spanDedup(Tables.documents(spark, dir), SpanWindow)
  }

  /** Edit-similarity tier floors (micro-units) for [[q171EditVerifiedDedup]]:
    * ≥ 0.99 normalized similarity reads "near-exact copy" (template
    * reuse / trivial retouch), ≥ 0.90 "high" (paraphrase-level edit),
    * below that "moderate" — the verified-pair list never drops below
    * the q27 Jaccard floor, so no fourth tier exists. */
  val EditNearExactMicros = 990000L
  val EditHighMicros = 900000L

  /** q171 — EDIT-DISTANCE VERIFICATION of the near-dup pair list: the
    * classic fuzzy-dedup refine stage (set-similarity blocking →
    * character-level verify; Xiao et al. WWW'08 Ed-Join runs the same
    * two-phase shape). Set-Jaccard is order- and position-blind — two
    * documents over one vocabulary in different arrangements tie with a
    * light retouch of one document — so each q27-verified pair is
    * re-scored with the character-level signal: Levenshtein distance
    * over q160's normalized text (trim, whitespace-collapse, lowercase),
    * expressed as an integer similarity
    * `(maxlen − dist) · 1e6 div greatest(maxlen, 1)` and bucketed into
    * copy tiers (the greatest() guard keeps two empty/whitespace-only
    * documents — Jaccard 1.0 via the empty shingle, maxlen 0 — from
    * dividing by zero, which Spark answers with NULL and DuckDB with an
    * error: the q177 denominator convention).
    *
    * Scale shape: the corpus never self-joins here — the expensive
    * O(L²)-per-pair verify runs ONLY on the LSH-blocked, Jaccard-
    * verified pair list (pair-sized, not corpus-sized), and each pair
    * fetches its two texts by doc_id equi-join. Both engines compute the
    * same character-level Levenshtein on the same normalization, and the
    * similarity is integer micros (truncating `div` on non-negatives),
    * so the oracle matches bit-for-bit.
    *
    * Reference scope: `sql/sample_athena_queries.sql` stops at exact
    * GROUP-BY duplicate detection; this is the near-dup extension's
    * verify tier. */
  def q171EditVerifiedDedup(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    editVerify(verifiedPairs(spark, dir), Tables.documents(spark, dir))
  }

  /** The q171 verify stage over ANY (d1, d2, jaccard) pair frame and
    * (doc_id, text) corpus — also the `edit_verify(τ)` TVF body. */
  private[graft] def editVerify(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val norm = docs.select(
      col("doc_id"),
      lower(regexp_replace(trim(col("text")), " +", " ")).as("nx"))
    pairs
      .join(norm.select(col("doc_id").as("d1"), col("nx").as("nx1")), Seq("d1"))
      .join(norm.select(col("doc_id").as("d2"), col("nx").as("nx2")), Seq("d2"))
      .withColumn("maxlen", greatest(length(col("nx1")), length(col("nx2"))).cast("long"))
      .withColumn("edit_dist", levenshtein(col("nx1"), col("nx2")).cast("long"))
      .withColumn("edit_sim_micro",
        expr("(maxlen - edit_dist) * 1000000 div greatest(maxlen, 1)"))
      .select(
        col("d1"), col("d2"), col("jaccard"), col("edit_dist"), col("edit_sim_micro"),
        when(col("edit_sim_micro") >= EditNearExactMicros, lit("near_exact"))
          .when(col("edit_sim_micro") >= EditHighMicros, lit("high"))
          .otherwise(lit("moderate")).as("tier"))
      .orderBy("d1", "d2")
  }

  /** Sorted-neighborhood parameters: block key = first [[SnPrefix]]
    * chars of the normalized text; each document is compared to its
    * [[SnWindow]] successors in block-key order; pairs at or above
    * [[SnSimFloorMicros]] normalized edit similarity are emitted. */
  val SnWindow = 3
  val SnPrefix = 24
  val SnSimFloorMicros = 900000L

  /** q176 — SORTED-NEIGHBORHOOD near-dup join (Hernández & Stolfo,
    * SIGMOD'95 merge/purge — the third blocking strategy in the family:
    * q27 blocks by LSH band buckets, q99 by similarity-prefix tokens,
    * this by SORT ORDER): documents sort by a block key (normalized-
    * text prefix), every document is verified only against its
    * [[SnWindow]] successors, and survivors at ≥ [[SnSimFloorMicros]]
    * normalized edit similarity (the q171 arithmetic) are the pair
    * list. On the fixtures this finds exactly the 25 planted near-dup
    * pairs — same recall as LSH at a DETERMINISTIC cost: O(w·n)
    * verifications after one sort, no hash luck, no bucket-skew tail —
    * which is why merge/purge remains the blocking of choice when the
    * edit radius is small and a total order exists.
    *
    * Scale shape: the sort is the [[Classify.withGlobalRank]]
    * range-partitioned path (never a single-partition window); the
    * neighborhood is an EQUI-join — each row emits its rank plus
    * δ ∈ [1, w] and joins back on rank, so no range-join or
    * self-cross; the O(L²) verify runs on exactly w·n pairs. */
  def q176SortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    snPairs(Tables.documents(spark, dir))
  }

  /** The sorted-neighborhood join over ANY (doc_id, text) frame — also
    * the `sorted_neighborhood()` TVF body.
    *
    * The verify stage is BANDED, not full-matrix: a pair passes iff
    * `(maxlen − d)·1e6 div maxlen ≥ floor`, which (truncating division
    * on non-negatives) is exactly `d ≤ dmax = maxlen·(1e6 − floor) div
    * 1e6` — so (a) pairs whose LENGTHS already differ by more than dmax
    * are dropped before any string work (`d ≥ |len1 − len2|` always),
    * and (b) the survivors run Spark's threshold form of `levenshtein`,
    * whose banded DP costs O(L·dmax) instead of O(L²) and returns the
    * EXACT distance for every distance ≤ dmax (−1 beyond — already
    * excluded by the bound). At the 0.9 floor that is a 10×+ cut of
    * the per-pair constant with a bit-identical admitted set; the
    * full-matrix oracle proves it. */
  private[graft] def snPairs(docs: DataFrame): DataFrame = {
    val nt = docs.select(
      col("doc_id"),
      lower(regexp_replace(trim(col("text")), " +", " ")).as("nx"))
      .withColumn("blk", substring(col("nx"), 1, SnPrefix))
    val ranked = Classify.withGlobalRank(nt, Seq(col("blk"), col("doc_id")), "rk")
    val probes = ranked
      .select(col("doc_id").as("d1"), col("nx").as("n1"), col("rk"),
        explode(array((1 to SnWindow).map(lit(_)): _*)).as("delta"))
      .select(col("d1"), col("n1"), (col("rk") + col("delta")).as("rk"))
    probes.join(
        ranked.select(col("doc_id").as("d2"), col("nx").as("n2"), col("rk")), Seq("rk"))
      .withColumn("maxlen", greatest(length(col("n1")), length(col("n2"))).cast("long"))
      .withColumn("dmax", expr(s"maxlen * ${1000000L - SnSimFloorMicros} div 1000000"))
      .filter(abs(length(col("n1")) - length(col("n2"))).cast("long") <= col("dmax"))
      .withColumn("edit_dist",
        expr("levenshtein(n1, n2, CAST(dmax AS INT))").cast("long"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= col("dmax"))
      .withColumn("sim_micro",
        expr("(maxlen - edit_dist) * 1000000 div greatest(maxlen, 1)"))
      // redundant with the dmax band for maxlen ≥ 1, but REQUIRED for
      // maxlen = 0 (two empty normalized texts): dmax = 0 admits that
      // pair while sim_micro = 0 is below the floor — the oracle's
      // WHERE drops it, so this filter keeps the engines identical
      .filter(col("sim_micro") >= SnSimFloorMicros)
      .select("d1", "d2", "edit_dist", "sim_micro")
      .orderBy("d1", "d2")
  }

  /** Iteration cap for the CC loop. The chase step makes convergence
    * O(log diameter), so 50 covers graphs of astronomically large
    * diameter; hitting the cap is logged (never silent — a truncated
    * propagation would mean wrong cluster assignments). */
  val MaxCcIters = 50

  /** Lineage truncation for iterative loops. Default: `localCheckpoint`
    * (block-manager, fastest — fine on local[n]). Cluster posture: set
    * `spark.graft.checkpointDir` to a reliable (HDFS/object-store) path
    * and the loop uses real `checkpoint` — executor loss then recovers
    * from storage instead of killing the job. Same labels either way
    * (spec-checked); only the fault-tolerance story changes. */
  private[operators] def truncateLineage(df: DataFrame, eager: Boolean = true): DataFrame =
    graft.core.Materialize.once(df, eager)

  /** q38 — dedup APPLY: cluster the near-dup pairs (connected components
    * by min-label propagation with pointer jumping) and elect one keeper
    * per cluster — the step that turns pair detection into an actual
    * deduplicated corpus. The loop is fully distributed and each
    * iteration is ONE edge join + aggregate (self-loops fold the node's
    * own label into the neighbor min) plus a label-chase join (pointer
    * jumping: new label = previous label OF the propagated label), so
    * iterations scale with log(diameter), not diameter. Convergence is
    * the monotonically decreasing label sum — one scalar read per
    * iteration over checkpointed labels, never a label collect. */
  /** Edge-count threshold below which the CC solve runs driver-local
    * (union-find over the collected pair list). A near-dup pair graph is
    * usually TINY relative to the corpus (dup-rate-sized), and below this
    * bound the collect is ≤ ~1.6 MB — cheaper than even one distributed
    * iteration's scheduling. Above it, the distributed pointer-jumping
    * loop runs (unbounded scale, O(1) driver). Same labels either way
    * (spec-checked); override with `spark.graft.cc.localThreshold`
    * (0 forces the distributed path). */
  val LocalCcEdgeThreshold = 100000L

  /** Driver-local min-label CC: path-compressing union-find keeping the
    * MINIMUM id as representative — semantics identical to the
    * distributed loop's min-label propagation. */
  private[operators] def unionFindMinLabel(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x
      while (parent.getOrElse(cur, cur) != cur) {
        val next = parent.getOrElse(cur, cur); parent(cur) = root; cur = next
      }
      root
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min id wins as representative
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  def q38DedupApply(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    // pair detection via the MinHash-LSH path — output-identical to the
    // exact join (verified) at a fraction of the cost, and served from
    // the per-corpus SignatureStage cache (q27 and q38 in one session pay
    // for the LSH pipeline once); the CC step only needs the pair list
    minLabelComponents(spark, verifiedPairs(spark, dir).select("d1", "d2"))
      .select(col("doc_id"), col("keeper"),
        (col("doc_id") === col("keeper")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** q126 — DUPLICATE-CLUSTER SIZE HISTOGRAM: the corpus-health view of
    * the duplicate-group structure — how many groups of size 2, 3, … the
    * near-dup closure produces, and how many documents they absorb. A
    * heavy tail here (few giant clusters) is the signature of template
    * spam / mirror farms and decides whether cluster-capped dedup is
    * needed; the histogram is what a curation report publishes. Groups
    * come from the SAME [[minLabelComponents]] closure as q38/q69 (one
    * definition of "duplicate group" engine-wide); both aggregates after
    * it are group-grain then size-grain — tiny. */
  def q126ClusterHistogram(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    clusterHistogram(minLabelComponents(spark, verifiedPairs(spark, dir).select("d1", "d2")))
  }

  /** q131 — QUALITY-AWARE KEEPER ELECTION: duplicate groups from the
    * same [[minLabelComponents]] closure as q38/q69/q126, but each group
    * keeps its HIGHEST-QUALITY member (the q23 score, ties → lowest
    * doc_id) instead of the lowest id — the production election rule
    * when dedup should discard the short/repetitive near-copies, not
    * whichever mirror happened to be crawled first. Output keeps both
    * labels (group id AND elected keeper) so downstream audits can see
    * where the two rules disagree.
    *
    * Parity: the quality score lands as ONE rounding to integer
    * ten-thousandths (round(score·1e4)) on both engines before the
    * election sort, so a float ulp can never flip an election. Scale
    * shape: labels and election are pair-graph-sized; quality computes
    * only for pair-graph nodes after the join prunes the corpus scan to
    * the two needed columns; the election is one window over groups. */
  def q131QualityKeeper(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val labels = minLabelComponents(spark, verifiedPairs(spark, dir).select("d1", "d2"))
      .select(col("doc_id"), col("keeper").as("grp"))
    electKeepers(labels, qualityMicroOf(Tables.documents(spark, dir)))
  }

  /** The single-rounded q23 quality score as (doc_id, q_micro), shared
    * by the q131 election and the q215 preference-pair extraction. */
  private[graft] def qualityMicroOf(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    docs
      // zero-token docs are excluded EXPLICITLY to mirror the oracle's
      // `len(w) > 0` (without this, Spark would keep the row with a
      // null 0/0 q_micro — nulls-last in the desc window — while the
      // oracle's inner join drops it: a hash divergence waiting for the
      // first empty-text doc to enter the pair graph)
      .filter(size(toks) > 0)
      .select(col("doc_id"),
        round((least(size(toks).cast("double") / 100.0, lit(1.0)) * 0.5 +
          size(array_distinct(toks)).cast("double") / size(toks) * 0.5) * 10000)
          .cast("long").as("q_micro"))
  }

  /** q215 — PREFERENCE PAIRS from duplicate groups: for every near-dup
    * group (the q38 closure), emit its best member as `chosen` and its
    * worst as `rejected` under the q131 quality score — the
    * (chosen, rejected, margin) triple a reward-model / DPO data
    * pipeline harvests from duplicate clusters, where near-identical
    * content with a quality gap is exactly a labeled preference. Groups
    * whose scored members collapse to one doc (the rest zero-token)
    * emit nothing; `margin_micro` = 0 rows (equal-quality mirrors) are
    * kept with `informative = false` so the consumer decides.
    *
    * Election rules are window ranks with opposed tie-breaks — chosen =
    * rank 1 of (q DESC, id ASC), rejected = rank 1 of (q ASC, id DESC)
    * — so a ≥2-member group can never elect the same doc twice. Scale
    * shape: everything after the pair closure is pair-graph-sized; the
    * two elections are windows over the same grouped frame. */
  def q215PrefPairs(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val labels = minLabelComponents(spark, verifiedPairs(spark, dir).select("d1", "d2"))
      .select(col("doc_id"), col("keeper").as("grp"))
    prefPairsOver(labels, qualityMicroOf(Tables.documents(spark, dir)))
  }

  /** The extraction over ANY (doc_id, grp) label frame + (doc_id,
    * q_micro) score frame (also the `pref_pairs()` TVF body). */
  private[graft] def prefPairsOver(labels: DataFrame, quality: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = labels.join(quality, Seq("doc_id"))
    val byGrp = Window.partitionBy("grp")
    val ranked = scored
      .withColumn("rk_best", row_number().over(byGrp.orderBy(desc("q_micro"), col("doc_id"))))
      .withColumn("rk_worst", row_number().over(byGrp.orderBy(col("q_micro"), desc("doc_id"))))
      .withColumn("n_scored", count(lit(1)).over(byGrp))
      .filter(col("n_scored") >= 2)
    val best = ranked.filter(col("rk_best") === 1)
      .select(col("grp"), col("doc_id").as("chosen_id"), col("q_micro").as("q_chosen"))
    val worst = ranked.filter(col("rk_worst") === 1)
      .select(col("grp"), col("doc_id").as("rejected_id"), col("q_micro").as("q_rejected"),
        col("n_scored").cast("long").as("cluster_size"))
    best.join(worst, Seq("grp"))
      .select(col("grp"), col("chosen_id"), col("rejected_id"),
        (col("q_chosen") - col("q_rejected")).as("margin_micro"),
        col("cluster_size"),
        (col("q_chosen") > col("q_rejected")).as("informative"))
      .orderBy("grp")
  }

  /** q216 — DUPLICATE-AWARE SOFT WEIGHTS: instead of dropping
    * duplicates, weight every document by 1/|its duplicate group| and
    * report the per-source EFFECTIVE token count — the soft-dedup
    * accounting used when hard dedup is too aggressive (repetition is
    * downweighted in the sampler, not deleted) and the number a mixture
    * planner (q125/q193) should consume instead of raw token counts.
    * Singletons (docs in no near-dup pair) carry weight 1.
    *
    * Parity: weight is integer micros (`1e6 div cluster_size`); the
    * weighted token sum accumulates in decimal(38,0) (the q193 width
    * contract) and lands as ONE integer division back to whole tokens.
    * Scale shape: cluster sizes are pair-graph-sized; the corpus-wide
    * pass is one map (token count) + the source-grain aggregate; the
    * label attach is a left join where the label side is the sparse
    * pair-graph membership — broadcast at any realistic dup rate. */
  def q216SoftDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val labels = minLabelComponents(spark, verifiedPairs(spark, dir).select("d1", "d2"))
    softWeightsOver(labels, Tables.documents(spark, dir))
  }

  /** The report over ANY (doc_id, keeper) label frame + documents frame
    * (also the `dedup_weights()` TVF body). */
  private[graft] def softWeightsOver(labels: DataFrame, docs: DataFrame): DataFrame = {
    val sizes = labels.groupBy("keeper").agg(count(lit(1)).as("cluster_size"))
    val weights = labels.join(sizes, Seq("keeper"))
      .select(col("doc_id"), col("cluster_size"))
    docs
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .join(weights, Seq("doc_id"), "left")
      .withColumn("w_micro", expr("1000000 div coalesce(cluster_size, 1)"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        // accumulate in decimal(38,0) (the q193 width contract): the
        // per-row product is bounded but the SUM is corpus-sized
        sum((col("n_tok") * col("w_micro")).cast("decimal(38,0)")).as("eff_e6"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("CAST(eff_e6 div 1000000 AS BIGINT)").as("eff_tokens"),
        // greatest(…, 1): an all-empty source divides by zero as error
        // on DuckDB but null on Spark (the q171 guard convention).
        // The tax numerator rides the same decimal(38,0) width contract
        // as eff_e6: in BIGINT, a source beyond ~9.2e12 duplicated
        // tokens (inside this operator's own 100 TB posture) wraps
        // silently on Spark with ANSI off while DuckDB errors.
        expr("(CAST(1000000 AS DECIMAL(38,0)) * (n_tokens - CAST(eff_e6 div 1000000 AS BIGINT))) div greatest(n_tokens, 1)")
          .as("dup_tax_micro"))
      .orderBy("source")
  }

  /** The election over ANY (doc_id, grp) label frame + (doc_id, q_micro)
    * scores: rank 1 of the (q_micro DESC, doc_id) window keeps. */
  private[graft] def electKeepers(labels: DataFrame, quality: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = labels.join(quality, Seq("doc_id"))
    val elect = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("grp").orderBy(desc("q_micro"), col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("grp"), col("doc_id").as("keeper"))
    scored.join(elect, Seq("grp"))
      .select(col("doc_id"), col("grp"), col("keeper"),
        (col("doc_id") === col("keeper")).as("is_keeper"), col("q_micro"))
      .orderBy("doc_id")
  }

  /** The histogram over ANY (doc_id, keeper) label frame. */
  private[graft] def clusterHistogram(labels: DataFrame): DataFrame =
    labels
      .groupBy("keeper").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        (col("cluster_size") * count(lit(1))).as("n_docs"))
      .orderBy("cluster_size")

  /** Connected components with min-id labels over a (d1, d2) pair frame —
    * the duplicate-GROUP primitive shared by q38 (dedup apply) and q69
    * (SemDeDup keeper election), so every graft operator agrees on what
    * a "duplicate group" means: the transitive closure of pairs, keeper
    * = minimum id. Returns (doc_id, keeper) for every node that appears
    * in a pair. Hybrid execution: graphs under
    * `spark.graft.cc.localThreshold` edges solve on the driver with
    * union-find; larger graphs run distributed min-label propagation
    * with pointer jumping. */
  private[graft] def minLabelComponents(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val nEdges = pairs.count()
    if (nEdges == 0) {
      // no pairs → no groups; return the empty (typed) result instead of
      // running the loop (whose convergence aggregate over an empty
      // frame yields null)
      return pairs.select(col("d1").as("doc_id"), col("d1").as("keeper"))
    }
    val localThreshold = spark.conf.getOption("spark.graft.cc.localThreshold")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(LocalCcEdgeThreshold)
    if (nEdges <= localThreshold) {
      // sub-threshold graph: solve on the driver. The collect is bounded
      // by the threshold (≤ ~16 bytes/edge), the solve is near-linear
      // (inverse-Ackermann), and the result re-enters the engine as a
      // local relation — strictly cheaper than one distributed iteration.
      val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      val labels = unionFindMinLabel(edges).toSeq.sorted
      import spark.implicits._
      return labels.toDF("doc_id", "keeper")
    }
    // the pair graph is near-dup-sized (tiny relative to the corpus):
    // size the iteration partitioning to the graph, not the session
    // default — per-iteration scheduling otherwise dominates (measured
    // 110s for a 256-edge graph on 32 shuffle partitions)
    val parts = math.max(1, (nEdges / 500000L).toInt)
    val sym = pairs.unionAll(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
    val nodes = sym.select(col("d1").as("doc_id")).distinct()
    // self-loops make the per-iteration aggregate include the node's own
    // label — one join instead of join + left-join-with-old-labels
    val allEdges = sym
      .unionAll(nodes.select(col("doc_id").as("d1"), col("doc_id").as("d2")))
      .repartition(parts).cache()
    // iteration 0 folded out of the loop: labels start as identity, so
    // the first propagation is just min(neighbor ids ∪ self) and the
    // chase through identity labels is the identity — one join + agg,
    // no separate label-table materialization, no chase
    // convergence metric in DECIMAL(38,0): a bigint sum of ~1e9 labels
    // that are themselves ~2^40 doc ids overflows Long (and ANSI mode
    // turns that into a job-killing error at exactly the scale this
    // operator is designed for)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
    var labels = truncateLineage(
      allEdges.groupBy(col("d1").as("doc_id")).agg(min(col("d2")).as("lbl")),
      eager = false)
    var prevSum = labelSum(labels)
    var iter = 1
    var converged = false
    while (!converged && iter < MaxCcIters) {
      val propagated = allEdges
        .join(labels.select(col("doc_id").as("d2"), col("lbl")), Seq("d2"))
        .groupBy(col("d1").as("doc_id"))
        .agg(min(col("lbl")).as("lbl"))
      // pointer jump: adopt the label's own (previous-round) label.
      // Valid because labels only ever decrease toward the component
      // min and every label value is a reachable node's id; inner join
      // is safe because every label value appears as a doc_id.
      val chased = propagated
        .join(labels.select(col("doc_id").as("lbl"), col("lbl").as("plbl")), Seq("lbl"))
        .select(col("doc_id"), col("plbl").as("lbl"))
      // lazy checkpoint: the convergence-sum action below materializes
      // the iteration AND truncates its lineage in one job (an eager
      // checkpoint would run a second, redundant job per iteration)
      // superseded iterations' checkpoint blocks are reclaimed by the
      // ContextCleaner once this reassignment drops the last reference
      // (Dataset.unpersist cannot reach a checkpoint's internal RDD);
      // live footprint is therefore O(current + previous label table)
      labels = truncateLineage(chased, eager = false)
      val s = labelSum(labels)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"q38DedupApply: CC loop hit MaxCcIters=$MaxCcIters without " +
          "converging — cluster labels may be incomplete")
    allEdges.unpersist()
    labels.select(col("doc_id"), col("lbl").as("keeper"))
  }

  /** Eval-set membership rule for the FIXTURE DEFAULT of
    * [[q62Decontaminate]]: a deterministic ~1% slice stands in for a
    * benchmark/test set when no real eval table is supplied. Production
    * use passes the eval corpus as an input ([[decontaminate]]) — a
    * corpus-derived slice grows with the corpus and is only a fixture. */
  val EvalDocModulus = 97L

  /** Broadcast guard for [[decontaminate]]: above this many distinct
    * eval shingles (~16 MB of 64-bit hashes at the default) the join
    * falls back to a shuffle. Override with
    * `spark.graft.decontam.broadcastShingleLimit`. */
  val BroadcastShingleLimit = 2000000L

  /** Benchmark DECONTAMINATION: find training documents sharing any
    * shingle with an eval set SUPPLIED AS AN INPUT (the n-gram-overlap
    * contamination check every serious training-data pipeline runs
    * before training). `trainSigs` is a [[sigsOf]]-shaped signature
    * table (reuse the per-corpus [[SignatureStage]]); `evalDocs` is any
    * (doc_id, text) table — a benchmark, a holdout split, another
    * corpus — shingled here with the SAME pipeline so hashes align.
    *
    * Broadcast is a measured decision, not an assumption: the distinct
    * eval-shingle count is computed first (one aggregate over the EVAL
    * side only — the cheap side by definition) and the join broadcasts
    * only under the limit; above it, it hash-partitions both sides —
    * still linear in corpus size, one shuffle of the (doc_id, h) pairs.
    * Output: each contaminated train doc with its count of distinct
    * shared shingles (the triage signal: 1 shared 5-gram is noise, 20
    * is a leak). */
  def decontaminate(spark: SparkSession, trainSigs: DataFrame, evalSigs: DataFrame): DataFrame =
    decontaminateExploded(spark,
      trainSigs.select(col("doc_id"), explode(col("hs")).as("h")), evalSigs)

  /** [[decontaminate]] over an ALREADY-exploded (doc_id, h) train side —
    * the entry the bucketed [[shingleHashes]] stage feeds, so the
    * corpus-side join key arrives pre-partitioned. */
  private[operators] def decontaminateExploded(
      spark: SparkSession, trainH: DataFrame, evalSigs: DataFrame): DataFrame = {
    val limit = math.min(
      spark.conf.getOption("spark.graft.decontam.broadcastShingleLimit")
        .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
        .getOrElse(BroadcastShingleLimit),
      Int.MaxValue - 1L).toInt
    val evalSh = evalSigs.select(explode(col("hs")).as("h")).distinct()
    // one eval pass, not two: collect up to limit+1 distinct hashes — if
    // they all fit, the collected set IS the broadcast side (a
    // LocalRelation, broadcast straight from the driver, no re-planned
    // second scan of the eval subtree); if the bounded collect overflows,
    // fall back to the shuffle join. Driver memory is O(limit) longs by
    // construction — the measured-decision guard, now paid once.
    import spark.implicits._
    val sample = evalSh.as[Long].limit(limit + 1).collect()
    val joined =
      if (sample.length <= limit)
        trainH.join(broadcast(sample.toSeq.toDF("h")), Seq("h"))
      else trainH.join(evalSh, Seq("h"))
    joined
      .groupBy("doc_id")
      .agg(countDistinct(col("h")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** q62 — [[decontaminate]] with the fixture eval slice (doc_id ≡ 0 mod
    * [[EvalDocModulus]]) carved out of the corpus: eval = the slice,
    * train = the rest, both sides served from the one cached signature
    * stage. The slice plays the role a real benchmark table plays in
    * production (shingle it with [[sigsOf]]) — the operator itself takes
    * the eval set as an input and never assumes it fits in a broadcast. */
  def q62Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val isEval = col("doc_id") % EvalDocModulus === 0
    // train side from the exploded stage (bucket-partitioned on h when
    // persisted — a doc_id filter preserves that); eval side keeps the
    // doc-grain signature rows it needs for its own explode+distinct
    decontaminateExploded(spark,
      shingleHashes(spark, dir).filter(!isEval),
      shingleSigs(spark, dir).filter(isEval))
  }

  /** q120 — CROSS-SOURCE overlap matrix: pairwise shingle-set Jaccard
    * between sources — the corpus-mixing audit that tells a curation
    * pipeline which source pairs share content (mirror sites, syndicated
    * feeds, common boilerplate) before their weights are set, and the
    * corpus-level face of decontamination (q62 asks "does eval leak into
    * train"; this asks "which sources leak into each other").
    *
    * Scale shape: one doc-grain metadata join attaches `source` to the
    * cached signature stage, then everything runs at DISTINCT
    * (source, shingle-hash) grain — corpus text is never re-read or
    * re-shingled. The pair join keys on the 64-bit shingle hash (the
    * family's standard grain: collisions ~|shingles|²/2⁶⁵, accepted at
    * q26), and its output is source-pair-sized; zero-overlap pairs drop
    * out (inner join, same on the oracle side). Set sizes broadcast back
    * in (source-count-sized), and the Jaccard is an exact int64/int64
    * double division. */
  def q120SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    sourceOverlap(shingleSigs(spark, dir),
      Tables.documents(spark, dir).select("doc_id", "source"))
  }

  /** MinHash permutation count for the per-source sketch, and the gate
    * tolerance (|est − exact| in Jaccard micros; K = 16 has standard
    * error √(J(1−J)/16) ≤ 0.125, measured max deviation ≈ 0.097 on the
    * fixtures). */
  val SketchPerms = 16
  val SketchTolMicro = 250000L

  /** Distinct (source, shingle-string) pairs — the sketch family's
    * grain. Strings, not xxhash64, because the md5 permutation hashes
    * must be oracle-replayable. */
  private def srcShingles(spark: SparkSession, dir: String): DataFrame =
    // fanned out before the shingle pass (Tables.fanout) — the string-
    // shingle map stage must not ride a one-row-group scan task
    Tables.fanout(spark, Tables.documents(spark, dir))
      .select(col("source"), explode(shingleArray(col("text"))).as("s"))
      .distinct()

  /** PRODUCTION sketch path: per-source K-permutation signatures (one
    * map-side-combined aggregate — K running minima per source) and the
    * pairwise match-fraction estimates on the sources²-bounded frame.
    * This is everything a deployment runs; the exact join lives only in
    * the q154 gate. */
  private[graft] def sourceSketchEst(srcSh: DataFrame): DataFrame = {
    val minCols = (0 until SketchPerms).map { k =>
      min(conv(substring(md5(concat_ws(":", lit(k.toString), col("s"))), 1, 12), 16, 10)
        .cast("long")).as(s"m$k")
    }
    val sigs = srcSh.groupBy("source")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("source"),
        array((0 until SketchPerms).map(i => col(s"m$i")): _*).as("sig"))
    sigs.as("a").join(sigs.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        (size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          m => m)) * lit(1000000L / SketchPerms)).as("est_micro"))
  }

  /** [[sourceSketchEst]] over the corpus at `dir` (the ScaleBench
    * production entry). */
  private[graft] def sourceSketchEstOf(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    sourceSketchEst(srcShingles(spark, dir))
  }

  /** q154 — SOURCE-PAIR OVERLAP SKETCH, gated against the exact matrix:
    * a K=[[SketchPerms]]-permutation MinHash signature per SOURCE
    * (merged over all its documents' distinct shingles), pairwise
    * match-fraction as the Jaccard estimate, compared IN-PLAN against
    * the exact q120 value (the q42 HLL-gate convention).
    *
    * Why it exists: q120's exact matrix needs the full shingle-grain
    * self-join — at 100 TB that join IS the job. The sketch side is ONE
    * scan: per-(source, k) minima are a map-side-combined aggregate
    * (commutative, mergeable — each partition folds its shingles into K
    * running minima, so signatures also maintain INCREMENTALLY under
    * recrawl, the q100 posture), and the pair comparison runs on a
    * sources²-bounded frame of K-long arrays. A deployment publishes
    * the estimate and samples the exact gate; the fixture runs both.
    *
    * Parity: permutation k hashes `md5("k:" || shingle)` (first 12 hex
    * nibbles → 48-bit int) — engine-portable, replayed nibble-for-nibble
    * by the oracle; estimates and exact values are integer micros
    * (matches·10⁶/K and ⌊inter·10⁶/union⌋), the verdict an integer
    * comparison. */
  def q154SourceSketch(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val srcSh = srcShingles(spark, dir)
    val est = sourceSketchEst(srcSh)
    // exact side at the same string-shingle grain the oracle replays
    val n = srcSh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val inter = srcSh.select(col("source").as("src_a"), col("s"))
      .join(srcSh.select(col("source").as("src_b"), col("s")), Seq("s"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
    est
      .join(inter, Seq("src_a", "src_b"), "left")
      .join(broadcast(n.select(col("source").as("src_a"), col("n_sh").as("n_a"))), Seq("src_a"))
      .join(broadcast(n.select(col("source").as("src_b"), col("n_sh").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("est_micro"),
        expr("coalesce(inter, 0) * 1000000 div (n_a + n_b - coalesce(inter, 0))")
          .as("exact_micro"))
      .withColumn("within_tol",
        abs(col("est_micro") - col("exact_micro")) <= SketchTolMicro)
      .orderBy("src_a", "src_b")
  }

  /** The overlap matrix over ANY (doc_id, hs) signature frame + (doc_id,
    * source) metadata frame. */
  def sourceOverlap(sigs: DataFrame, meta: DataFrame): DataFrame = {
    // materialized once (eager localCheckpoint): the distinct
    // (source, shingle) frame feeds the per-source size aggregate AND
    // the self-join (whose two sides share one h-keyed exchange), so
    // the unmaterialized form re-ran the shingle explode + distinct
    // shuffle twice. The frame is (string, int64) at distinct-shingle
    // grain — far below the corpus the explode scans.
    val srcSh = sigs
      .join(meta, Seq("doc_id"))
      .select(col("source"), explode(col("hs")).as("h"))
      .distinct()
      .transform(graft.core.Materialize.once(_))
    val n = srcSh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val inter = srcSh.select(col("source").as("src_a"), col("h"))
      .join(srcSh.select(col("source").as("src_b"), col("h")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(n.select(col("source").as("src_a"), col("n_sh").as("n_a"))),
        Seq("src_a"))
      .join(broadcast(n.select(col("source").as("src_b"), col("n_sh").as("n_b"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union_sh"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Containment threshold (micros) and minimum shingle-set size for
    * q142: C ≥ 0.8 with ≥ 5 shingles — the quote/subset line. */
  val ContainMicros = 800000L
  val ContainMinShingles = 5L

  /** Exact shingle-CONTAINMENT pairs over a [[sigsOf]]-shaped signature
    * table: C(A→B) = |S(A)∩S(B)| / |S(A)| for the SMALLER set A — the
    * asymmetric twin of [[jaccardPairs]]. Jaccard normalizes by the
    * union, so a short document wholly quoted inside a long one scores
    * near zero and survives Jaccard dedup; containment normalizes by
    * the contained side and catches exactly that (Broder 1997's
    * resemblance-vs-containment distinction — the subset/quote
    * detector every curation pipeline runs next to its near-dup pass).
    *
    * INTEGER-EXACT: containment_micro = (inter · 1e6) div min(n1, n2)
    * — int64 division, nothing for the engines to disagree about.
    * Same hash-keyed shingle self-join + (pair)-grain count as q26
    * (shuffle carries shingle hashes, never text). The scale path is
    * the ASYMMETRIC prefix filter: C(A→B) ≥ τ forces A to share one of
    * its first |A|−⌈τ|A|⌉+1 ordered shingles, so only the contained
    * side explodes a prefix (the q99 move with the B side unpruned —
    * still never all-pairs). */
  private[graft] def containmentPairs(
      sigs: DataFrame, thresholdMicros: Long, minShingles: Long): DataFrame = {
    val sh = sigs.select(col("doc_id"), col("n_sh"), explode(col("hs")).as("h"))
    val a = sh.select(col("doc_id").as("d1"), col("n_sh").as("n1"), col("h"))
    val b = sh.select(col("doc_id").as("d2"), col("n_sh").as("n2"), col("h"))
    a.join(b, Seq("h")).filter(col("d1") < col("d2"))
      .groupBy("d1", "d2", "n1", "n2")
      .agg(count(lit(1)).as("inter"))
      .filter(least(col("n1"), col("n2")) >= minShingles)
      .withColumn("contained",
        when(col("n2") < col("n1"), col("d2")).otherwise(col("d1")))
      .withColumn("container",
        when(col("n2") < col("n1"), col("d1")).otherwise(col("d2")))
      .withColumn("containment_micro",
        expr("(inter * 1000000) div least(n1, n2)"))
      .filter(col("containment_micro") >= thresholdMicros)
      .select("contained", "container", "containment_micro")
      .orderBy("contained", "container")
  }

  /** q142 — subset/quote detection: [[containmentPairs]] at the
    * [[ContainMicros]] line over the shared shingle-signature stage. */
  def q142Containment(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    containmentPairs(shingleSigs(spark, dir), ContainMicros, ContainMinShingles)
  }

  /** Jaccard thresholds the q147 sensitivity sweep evaluates. */
  val SweepThresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** q147 — DEDUP THRESHOLD SENSITIVITY: near-dup pair and
    * affected-document counts at every threshold of [[SweepThresholds]]
    * from ONE pair computation — the ablation table behind "how
    * aggressive should near-dup dedup be" (every dataset paper
    * publishes one; Lee et al. 2022 §4 sweeps exactly this). The pair
    * set comes from the PREFIX-FILTERED join at the sweep FLOOR
    * (q99's Bayardo/PPJoin pruning — exact for every τ ≥ the floor,
    * never all-pairs), so widening the sweep never recomputes the
    * join; the per-threshold rollup is a thresholds-sized explode of
    * the pair frame. */
  def q147DedupSensitivity(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    import spark.implicits._
    val pairs = prefixJaccardPairs(shingleSigs(spark, dir), SweepThresholds.min)
    val e = pairs
      .select(col("d1"), col("d2"), col("jaccard"),
        explode(array(SweepThresholds.map(lit(_)): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
    val pairCounts = e.groupBy("threshold").agg(count(lit(1)).as("np"))
    val docCounts = e
      .select(col("threshold"), explode(array(col("d1"), col("d2"))).as("d"))
      .groupBy("threshold").agg(countDistinct(col("d")).as("nd"))
    SweepThresholds.toDF("threshold")
      .join(pairCounts, Seq("threshold"), "left_outer")
      .join(docCounts, Seq("threshold"), "left_outer")
      .select(col("threshold"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        coalesce(col("nd"), lit(0L)).as("n_docs_affected"))
      .orderBy("threshold")
  }

  /** q230 — CROSS-SOURCE DUPLICATE-MASS MATRIX: for every non-keeper in
    * the near-dup closure (the q38 groups), attribute its dropped mass
    * to the directional (keeper's source → duplicate's source) cell —
    * the curation table that says WHICH sources are mirrors of which
    * (and how many tokens each relationship costs), one level below
    * q120's symmetric shingle-overlap matrix: q120 measures shared
    * VOCABULARY between sources; this measures the actual documents the
    * dedup election removes and who wins them. The diagonal is
    * within-source duplication (template spam); heavy off-diagonal
    * cells are syndication/mirror relationships a mixing step should
    * know before weighting sources independently.
    *
    * Scale shape: everything after the shared pair closure is
    * pair-graph-sized — two doc-grain joins attach the two source
    * labels and one token count, then a |sources|²-bounded aggregate.
    * The corpus scan contributes only (doc_id, source) and the
    * non-keepers' token counts. */
  def q230CrossSourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val labels = minLabelComponents(spark, verifiedPairs(spark, dir).select("d1", "d2"))
    val docs = Tables.documents(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    val toks = docs.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
    labels.filter(col("doc_id") =!= col("keeper"))
      .join(src.select(col("doc_id").as("keeper"), col("source").as("keeper_source")),
        Seq("keeper"))
      .join(src.select(col("doc_id"), col("source").as("dup_source")), Seq("doc_id"))
      .join(toks, Seq("doc_id"))
      .groupBy("keeper_source", "dup_source")
      .agg(count(lit(1)).as("n_dups"), sum(col("n_tok")).as("tokens_lost"))
      .orderBy("keeper_source", "dup_source")
  }

  /** q232 — EVAL-LEAK REPORT, the q62 transpose: q62 answers "which
    * TRAIN docs are contaminated"; this answers the benchmark owner's
    * question — per EVAL doc, how much of it leaks into the training
    * corpus: the distinct train docs sharing ≥1 shingle, the distinct
    * shingles of the eval doc seen anywhere in train, and the leaked
    * fraction of its shingle set (integer micros). An eval item at
    * leak_frac ≈ 1e6 is memorizable verbatim and must be retired; a
    * handful of shared 5-grams is noise — the triage q62's per-train
    * counts can't express.
    *
    * Scale shape: the SAME hash-grain shingle join as q62 (train side
    * from the bucketed [[shingleHashes]] stage, eval side the
    * benchmark-sized slice), aggregated at eval-doc grain; output is
    * eval-sized. The totalizing left join keeps zero-leak eval docs —
    * "nothing leaked" is the report's success row, not an absence. */
  def q232EvalLeakReport(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val isEval = col("doc_id") % EvalDocModulus === 0
    evalLeakOver(
      shingleSigs(spark, dir).filter(isEval),
      shingleHashes(spark, dir).filter(!isEval))
  }

  /** The leak report over ANY eval-side [[sigsOf]] frame and train-side
    * exploded (doc_id, h) frame — also the `eval_leak()` TVF body (the
    * `decontaminate` TVF's transpose). */
  private[graft] def evalLeakOver(evalSigs: DataFrame, trainH: DataFrame): DataFrame = {
    val evalH = evalSigs
      .select(col("doc_id").as("eval_id"), explode(col("hs")).as("h"))
    val leaks = evalH
      .join(trainH.select(col("doc_id").as("train_id"), col("h")), Seq("h"))
      .groupBy("eval_id")
      .agg(countDistinct(col("train_id")).as("n_train_docs"),
        countDistinct(col("h")).as("n_shared_shingles"))
    evalSigs.select(col("doc_id").as("eval_id"), col("n_sh").cast("long").as("n_shingles"))
      .join(leaks, Seq("eval_id"), "left")
      .select(col("eval_id"),
        col("n_shingles"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_shared_shingles"), lit(0L)).as("n_shared_shingles"))
      .withColumn("leak_frac_micro",
        expr("(n_shared_shingles * 1000000) div greatest(n_shingles, 1)"))
      .orderBy("eval_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q230_cross_source_dup_matrix" -> (q230CrossSourceDupMatrix _),
    "q232_eval_leak_report" -> (q232EvalLeakReport _),
    "q142_containment" -> (q142Containment _),
    "q147_dedup_sensitivity" -> (q147DedupSensitivity _),
    "q120_source_overlap" -> (q120SourceOverlap _),
    "q154_source_sketch" -> (q154SourceSketch _),
    "q160_normalized_dedup" -> (q160NormalizedDedup _),
    "q165_source_containment" -> (q165SourceContainment _),
    "q62_decontaminate" -> (q62Decontaminate _),
    "q24_dedup_exact"   -> (q24DedupExact _),
    "q25_dedup_counts"  -> (q25DedupCounts _),
    "q26_ngram_jaccard" -> (q26NgramJaccard _),
    "q99_prefix_join"   -> (q99PrefixJoin _),
    "q123_split_leakage" -> (q123SplitLeakage _),
    "q126_cluster_histogram" -> (q126ClusterHistogram _),
    "q131_quality_keeper" -> (q131QualityKeeper _),
    "q215_pref_pairs" -> (q215PrefPairs _),
    "q216_soft_dedup_weights" -> (q216SoftDedupWeights _),
    "q27_minhash_lsh"   -> (q27MinhashLsh _),
    "q28_simhash"       -> (q28Simhash _),
    "q38_dedup_apply"   -> (q38DedupApply _),
    "q80_span_dedup"    -> (q80SpanDedup _),
    "q171_edit_verified_dedup" -> (q171EditVerifiedDedup _),
    "q176_sorted_neighborhood" -> (q176SortedNeighborhood _))

  /** Shared exact-Jaccard CTE block (string-shingle recomputation of the
    * hash-shingle overlap). */
  private[operators] val jaccardCtes =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(w) - 4, 1) + 1),
      |    i -> array_to_string(list_slice(w, CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' ')))) AS s
      |  FROM toks),
      |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |p AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Shared exact-Jaccard oracle text (q26 and q27 converge to the same
    * exact answer — see q27 scaladoc). */
  private val jaccardOracle =
    s"""$jaccardCtes
      |SELECT d1, d2,
      |  round(CAST(inter AS DOUBLE) / (n1.n_sh + n2.n_sh - inter), 4) AS jaccard
      |FROM p JOIN n n1 ON p.d1 = n1.doc_id JOIN n n2 ON p.d2 = n2.doc_id
      |WHERE round(CAST(inter AS DOUBLE) / (n1.n_sh + n2.n_sh - inter), 4) >= 0.6
      |ORDER BY d1, d2""".stripMargin

  val oracles: Map[String, String] = Map(
    // q147: the q26 pair CTEs rolled up per threshold (same rounded-4
    // jaccard and literal-threshold compares the hash-matched q26/q99
    // already rely on)
    "q147_dedup_sensitivity" ->
      s"""$jaccardCtes,
         |j AS (
         |  SELECT p.d1, p.d2,
         |    round(CAST(inter AS DOUBLE) / (n1.n_sh + n2.n_sh - inter), 4) AS jaccard
         |  FROM p JOIN n n1 ON p.d1 = n1.doc_id JOIN n n2 ON p.d2 = n2.doc_id),
         |th AS (SELECT CAST(unnest([${SweepThresholds.mkString(", ")}]) AS DOUBLE) AS threshold),
         |e AS (
         |  SELECT th.threshold, j.d1, j.d2 FROM j, th WHERE j.jaccard >= th.threshold),
         |pc AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs FROM e GROUP BY 1),
         |dc AS (
         |  SELECT threshold, CAST(count(DISTINCT d) AS BIGINT) AS n_docs_affected
         |  FROM (SELECT threshold, d1 AS d FROM e UNION ALL SELECT threshold, d2 FROM e)
         |  GROUP BY 1)
         |SELECT th.threshold,
         |  coalesce(pc.n_pairs, 0) AS n_pairs,
         |  coalesce(dc.n_docs_affected, 0) AS n_docs_affected
         |FROM th LEFT JOIN pc ON th.threshold = pc.threshold
         |LEFT JOIN dc ON th.threshold = dc.threshold
         |ORDER BY th.threshold""".stripMargin,
    // q142: the q26 pair CTEs, containment-normalized (integer micro
    // division — exact on both engines)
    "q142_containment" ->
      s"""$jaccardCtes
         |SELECT CASE WHEN n2.n_sh < n1.n_sh THEN p.d2 ELSE p.d1 END AS contained,
         |  CASE WHEN n2.n_sh < n1.n_sh THEN p.d1 ELSE p.d2 END AS container,
         |  CAST((inter * 1000000) // least(n1.n_sh, n2.n_sh) AS BIGINT) AS containment_micro
         |FROM p JOIN n n1 ON p.d1 = n1.doc_id JOIN n n2 ON p.d2 = n2.doc_id
         |WHERE least(n1.n_sh, n2.n_sh) >= $ContainMinShingles
         |  AND (inter * 1000000) // least(n1.n_sh, n2.n_sh) >= $ContainMicros
         |ORDER BY contained, container""".stripMargin,
    // string-shingle recomputation of the engine's hash-grain source
    // sets (same collision caveat as q26/q62)
    "q165_source_containment" ->
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |sh AS MATERIALIZED (
         |  SELECT DISTINCT source,
         |    unnest(list_distinct(list_transform(range(1, greatest(len(w) - 4, 1) + 1),
         |      i -> array_to_string(list_slice(w, CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' ')))) AS s
         |  FROM toks),
         |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY source),
         |inter AS (
         |  SELECT a.source AS src_from, b.source AS src_to, CAST(count(*) AS BIGINT) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.source <> b.source
         |  GROUP BY 1, 2),
         |grid AS (
         |  SELECT f.source AS src_from, t.source AS src_to, f.n_sh AS n_from
         |  FROM n f, n t WHERE f.source <> t.source)
         |SELECT g.src_from, g.src_to, g.n_from,
         |  coalesce(i, 0) AS n_shared,
         |  coalesce(i, 0) * 1000000 // n_from AS containment_micro,
         |  coalesce(i, 0) * 1000000 // n_from >= $SourceContainMicros AS is_contained
         |FROM grid g
         |LEFT JOIN inter ON inter.src_from = g.src_from AND inter.src_to = g.src_to
         |ORDER BY g.src_from, g.src_to""".stripMargin,
    "q160_normalized_dedup" ->
      """SELECT md5(lower(regexp_replace(trim(text), ' +', ' ', 'g'))) AS fp,
        |  count(*) AS copies, min(doc_id) AS keeper,
        |  CAST(count(DISTINCT md5(trim(text))) AS BIGINT) AS n_raw_variants
        |FROM documents
        |GROUP BY 1 HAVING count(*) > 1
        |ORDER BY fp""".stripMargin,
    "q154_source_sketch" -> {
      // 48-bit value of the first 12 md5 hex nibbles (the hex4Sql move,
      // widened): nibble i × 16^(11−i)
      def hex12(hx: String): String = "(" + (0 until 12).map { i =>
        s"(strpos('0123456789abcdef', substr($hx, ${1 + i}, 1)) - 1) * ${1L << (4 * (11 - i))}"
      }.mkString(" +\n     ") + ")"
      val h = hex12("md5(CAST(t.k AS VARCHAR) || ':' || s)")
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |sh AS MATERIALIZED (
         |  SELECT DISTINCT source,
         |    unnest(list_distinct(list_transform(range(1, greatest(len(w) - 4, 1) + 1),
         |      i -> array_to_string(list_slice(w, CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' ')))) AS s
         |  FROM toks),
         |mins AS (
         |  SELECT source, t.k, min($h) AS mn
         |  FROM sh, range(0, $SketchPerms) t(k) GROUP BY 1, 2),
         |sigs AS (SELECT source, list(mn ORDER BY k) AS sig FROM mins GROUP BY source),
         |est AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    len(list_filter(range(1, ${SketchPerms + 1}), i -> a.sig[i] = b.sig[i]))
         |      * ${1000000L / SketchPerms} AS est_micro
         |  FROM sigs a JOIN sigs b ON a.source < b.source),
         |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY source),
         |inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT est.src_a, est.src_b, CAST(est_micro AS BIGINT) AS est_micro,
         |  coalesce(i, 0) * 1000000 // (na.n_sh + nb.n_sh - coalesce(i, 0)) AS exact_micro,
         |  abs(est_micro - coalesce(i, 0) * 1000000 // (na.n_sh + nb.n_sh - coalesce(i, 0)))
         |    <= $SketchTolMicro AS within_tol
         |FROM est
         |JOIN n na ON na.source = est.src_a
         |JOIN n nb ON nb.source = est.src_b
         |LEFT JOIN inter ON inter.src_a = est.src_a AND inter.src_b = est.src_b
         |ORDER BY est.src_a, est.src_b""".stripMargin
    },
    "q120_source_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source,
        |    unnest(list_distinct(list_transform(range(1, greatest(len(w) - 4, 1) + 1),
        |      i -> array_to_string(list_slice(w, CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' ')))) AS s
        |  FROM toks),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY source),
        |p AS (
        |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, na.n_sh AS n_a, nb.n_sh AS n_b, p.inter,
        |  na.n_sh + nb.n_sh - p.inter AS union_sh,
        |  CAST(p.inter AS DOUBLE) / (na.n_sh + nb.n_sh - p.inter) AS jaccard
        |FROM p JOIN n na ON na.source = p.src_a JOIN n nb ON nb.source = p.src_b
        |ORDER BY src_a, src_b""".stripMargin,
    // string-shingle recomputation of the hash-shingle overlap (counts
    // agree unless xxhash64 collides across the corpus' distinct
    // shingles — ~|shingles|²/2⁶⁵, see sigsOf)
    "q62_decontaminate" -> decontaminateOracle,
    "q24_dedup_exact" ->
      """SELECT md5(trim(text)) AS fp, count(*) AS copies,
        |  CAST(min(doc_id) AS BIGINT) AS keeper
        |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY fp""".stripMargin,
    "q25_dedup_counts" ->
      """SELECT count(*) AS total_docs,
        |  count(DISTINCT md5(trim(text))) AS distinct_docs FROM documents""".stripMargin,
    "q26_ngram_jaccard" -> jaccardOracle,
    // prefix filtering must not change the exact answer
    "q99_prefix_join"   -> jaccardOracle,
    // the q26 pair CTEs + the q58 split oracle as a subquery — the
    // oracle composes the same two pieces the engine does
    "q123_split_leakage" ->
      s"""$jaccardCtes,
         |j AS (
         |  SELECT d1, d2,
         |    round(CAST(inter AS DOUBLE) / (n1.n_sh + n2.n_sh - inter), 4) AS jaccard
         |  FROM p JOIN n n1 ON p.d1 = n1.doc_id JOIN n n2 ON p.d2 = n2.doc_id
         |  WHERE round(CAST(inter AS DOUBLE) / (n1.n_sh + n2.n_sh - inter), 4) >= 0.6),
         |sp AS (${Sampling.oracles("q58_split_assign")})
         |SELECT j.d1, j.d2, j.jaccard, s1.split AS split_1, s2.split AS split_2
         |FROM j JOIN sp s1 ON j.d1 = s1.doc_id JOIN sp s2 ON j.d2 = s2.doc_id
         |WHERE s1.split <> s2.split
         |ORDER BY d1, d2""".stripMargin,
    "q27_minhash_lsh"   -> jaccardOracle,
    // q176: the same normalization + levenshtein arithmetic as q171; the
    // neighborhood is the windowed self-join over the (blk, doc_id) rank
    "q176_sorted_neighborhood" ->
      s"""WITH nt AS (
         |  SELECT doc_id, lower(regexp_replace(trim(text), ' +', ' ', 'g')) AS nx
         |  FROM documents),
         |k AS MATERIALIZED (
         |  SELECT doc_id, nx,
         |    row_number() OVER (ORDER BY substr(nx, 1, $SnPrefix), doc_id) AS rk
         |  FROM nt),
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    CAST(levenshtein(a.nx, b.nx) AS BIGINT) AS edit_dist,
         |    CAST(greatest(len(a.nx), len(b.nx)) AS BIGINT) AS maxlen
         |  FROM k a JOIN k b ON b.rk - a.rk BETWEEN 1 AND $SnWindow)
         |SELECT d1, d2, edit_dist,
         |  (maxlen - edit_dist) * 1000000 // greatest(maxlen, 1) AS sim_micro
         |FROM pairs
         |WHERE (maxlen - edit_dist) * 1000000 // greatest(maxlen, 1) >= $SnSimFloorMicros
         |ORDER BY d1, d2""".stripMargin,
    // q171: the q27 pair CTEs + the same normalization as q160 + DuckDB's
    // levenshtein (plain character-level edit distance on both engines;
    // the fixture text is ASCII so UTF-16 vs codepoint counting agree)
    "q171_edit_verified_dedup" ->
      s"""$jaccardCtes,
         |j AS (
         |  SELECT d1, d2,
         |    round(CAST(inter AS DOUBLE) / (n1.n_sh + n2.n_sh - inter), 4) AS jaccard
         |  FROM p JOIN n n1 ON p.d1 = n1.doc_id JOIN n n2 ON p.d2 = n2.doc_id
         |  WHERE round(CAST(inter AS DOUBLE) / (n1.n_sh + n2.n_sh - inter), 4) >= 0.6),
         |nt AS (SELECT doc_id, lower(regexp_replace(trim(text), ' +', ' ', 'g')) AS nx
         |       FROM documents),
         |e AS (
         |  SELECT j.d1, j.d2, j.jaccard,
         |    CAST(levenshtein(a.nx, b.nx) AS BIGINT) AS edit_dist,
         |    CAST(greatest(len(a.nx), len(b.nx)) AS BIGINT) AS maxlen
         |  FROM j JOIN nt a ON j.d1 = a.doc_id JOIN nt b ON j.d2 = b.doc_id)
         |SELECT d1, d2, jaccard, edit_dist,
         |  (maxlen - edit_dist) * 1000000 // greatest(maxlen, 1) AS edit_sim_micro,
         |  CASE WHEN (maxlen - edit_dist) * 1000000 // greatest(maxlen, 1)
         |           >= $EditNearExactMicros
         |         THEN 'near_exact'
         |       WHEN (maxlen - edit_dist) * 1000000 // greatest(maxlen, 1)
         |           >= $EditHighMicros
         |         THEN 'high'
         |       ELSE 'moderate' END AS tier
         |FROM e ORDER BY d1, d2""".stripMargin,
    // q80: the span fingerprint is md5 on both engines, so the election
    // and the reassembled text agree verbatim; list_slice bounds are
    // both-inclusive (= Spark's slice(start, length) at length 10).
    "q80_span_dedup" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, w, CAST(ceil(len(w) / $SpanWindow.0) AS BIGINT) AS n_win
         |  FROM t WHERE len(w) > 0),
         |wins AS (
         |  SELECT doc_id, n_win, i AS widx,
         |    array_to_string(list_slice(w,
         |      CAST(i * $SpanWindow + 1 AS INTEGER),
         |      CAST(i * $SpanWindow + $SpanWindow AS INTEGER)), ' ') AS wtext
         |  FROM d, unnest(range(n_win)) AS u(i)),
         |kept AS (
         |  SELECT doc_id, n_win, widx, wtext FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY md5(wtext) ORDER BY doc_id, widx) AS rn
         |    FROM wins) WHERE rn = 1)
         |SELECT doc_id,
         |  string_agg(wtext, ' ' ORDER BY widx) AS text_dedup,
         |  count(*) AS n_kept,
         |  max(n_win) - count(*) AS n_removed
         |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q28 gate: the exact high-Jaccard pair count is a corpus fact the
    // oracle recomputes with the q26 arithmetic; the recall/precision
    // verdicts are deterministic (fixed hash, fixed chunking) booleans.
    "q28_simhash" ->
      s"""$jaccardCtes
         |SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
         |  TRUE AS recall_ok, TRUE AS precision_ok
         |FROM p JOIN n n1 ON p.d1 = n1.doc_id JOIN n n2 ON p.d2 = n2.doc_id
         |WHERE round(CAST(inter AS DOUBLE) / (n1.n_sh + n2.n_sh - inter), 4)
         |  >= $SimhashRecallJaccard""".stripMargin,
    // connected components over the same exact-Jaccard pair graph,
    // as a recursive CTE (reachability → min reachable id per node)
    "q38_dedup_apply" ->
      s"""$reachCtes
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS keeper,
         |  id = min(r) AS is_keeper
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // same closure; election replayed with the single-rounded quality
    // score and the (q_micro DESC, doc_id) window
    "q131_quality_keeper" ->
      s"""$reachCtes,
         |lab AS (SELECT id, min(r) AS grp FROM reach GROUP BY id),
         |q AS (
         |  SELECT doc_id,
         |    CAST(round((least(len(w) / 100.0, 1.0) * 0.5 +
         |      len(list_distinct(w)) * 1.0 / len(w) * 0.5) * 10000) AS BIGINT)
         |      AS q_micro
         |  FROM toks WHERE len(w) > 0),
         |j AS (SELECT lab.id AS doc_id, lab.grp, q.q_micro
         |      FROM lab JOIN q ON lab.id = q.doc_id),
         |e AS (
         |  SELECT grp, doc_id AS keeper FROM (
         |    SELECT *, row_number() OVER (PARTITION BY grp ORDER BY q_micro DESC, doc_id) AS rk
         |    FROM j) WHERE rk = 1)
         |SELECT j.doc_id, CAST(j.grp AS BIGINT) AS grp,
         |  CAST(e.keeper AS BIGINT) AS keeper,
         |  j.doc_id = e.keeper AS is_keeper, j.q_micro
         |FROM j JOIN e USING (grp) ORDER BY j.doc_id""".stripMargin,
    // same closure + the q131 quality CTE; the two opposed-tie-break
    // elections replayed as row_number windows
    "q215_pref_pairs" ->
      s"""$reachCtes,
         |lab AS (SELECT id, min(r) AS grp FROM reach GROUP BY id),
         |q AS (
         |  SELECT doc_id,
         |    CAST(round((least(len(w) / 100.0, 1.0) * 0.5 +
         |      len(list_distinct(w)) * 1.0 / len(w) * 0.5) * 10000) AS BIGINT)
         |      AS q_micro
         |  FROM toks WHERE len(w) > 0),
         |j AS (SELECT lab.id AS doc_id, lab.grp, q.q_micro
         |      FROM lab JOIN q ON lab.id = q.doc_id),
         |g AS (SELECT grp FROM j GROUP BY grp HAVING count(*) >= 2),
         |rb AS (SELECT grp, doc_id AS chosen_id, q_micro AS q_chosen FROM (
         |        SELECT *, row_number() OVER (PARTITION BY grp
         |          ORDER BY q_micro DESC, doc_id) AS rk FROM j) WHERE rk = 1),
         |rw AS (SELECT grp, doc_id AS rejected_id, q_micro AS q_rejected FROM (
         |        SELECT *, row_number() OVER (PARTITION BY grp
         |          ORDER BY q_micro, doc_id DESC) AS rk FROM j) WHERE rk = 1),
         |cs AS (SELECT grp, CAST(count(*) AS BIGINT) AS cluster_size FROM j GROUP BY grp)
         |SELECT CAST(g.grp AS BIGINT) AS grp, CAST(chosen_id AS BIGINT) AS chosen_id,
         |  CAST(rejected_id AS BIGINT) AS rejected_id,
         |  q_chosen - q_rejected AS margin_micro, cluster_size,
         |  q_chosen > q_rejected AS informative
         |FROM g JOIN rb USING (grp) JOIN rw USING (grp) JOIN cs USING (grp)
         |ORDER BY grp""".stripMargin,
    // same closure; weights integer-micro, the weighted sum in HUGEINT
    // (matching Spark's decimal(38,0) accumulator), one integer division
    "q216_soft_dedup_weights" ->
      s"""$reachCtes,
         |lab AS (SELECT id, min(r) AS grp FROM reach GROUP BY id),
         |cs AS (SELECT grp, count(*) AS cluster_size FROM lab GROUP BY grp),
         |w AS (SELECT lab.id AS doc_id, 1000000 // cs.cluster_size AS w_micro
         |      FROM lab JOIN cs USING (grp)),
         |d AS (
         |  SELECT t.doc_id, dd.source, len(t.w) AS n_tok,
         |    coalesce(w.w_micro, 1000000) AS w_micro
         |  FROM toks t JOIN documents dd ON t.doc_id = dd.doc_id
         |  LEFT JOIN w ON t.doc_id = w.doc_id),
         |a AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    sum(CAST(n_tok AS HUGEINT) * w_micro) AS eff_e6
         |  FROM d GROUP BY source)
         |SELECT source, n_docs, n_tokens,
         |  CAST(eff_e6 // 1000000 AS BIGINT) AS eff_tokens,
         |  CAST((CAST(1000000 AS HUGEINT) * (n_tokens - CAST(eff_e6 // 1000000 AS BIGINT)))
         |    // greatest(n_tokens, 1) AS BIGINT) AS dup_tax_micro
         |FROM a ORDER BY source""".stripMargin,
    // the q62 shingle join transposed to eval-doc grain, with the
    // totalizing left join for zero-leak rows (string-shingle
    // recomputation of the hash-grain sets — the q26/q62 convention)
    "q232_eval_leak_report" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |sh AS MATERIALIZED (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(w) - 4, 1) + 1),
         |    i -> array_to_string(list_slice(w, CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' ')))) AS s
         |  FROM toks),
         |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % $EvalDocModulus = 0),
         |evn AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS n_shingles FROM ev GROUP BY eval_id),
         |tr AS (SELECT doc_id AS train_id, s FROM sh WHERE doc_id % $EvalDocModulus <> 0),
         |j AS (
         |  SELECT eval_id, CAST(count(DISTINCT train_id) AS BIGINT) AS n_train_docs,
         |    CAST(count(DISTINCT ev.s) AS BIGINT) AS n_shared_shingles
         |  FROM ev JOIN tr USING (s) GROUP BY eval_id)
         |SELECT evn.eval_id, evn.n_shingles,
         |  coalesce(n_train_docs, 0) AS n_train_docs,
         |  coalesce(n_shared_shingles, 0) AS n_shared_shingles,
         |  CAST((coalesce(n_shared_shingles, 0) * 1000000)
         |    // greatest(evn.n_shingles, 1) AS BIGINT) AS leak_frac_micro
         |FROM evn LEFT JOIN j USING (eval_id)
         |ORDER BY evn.eval_id""".stripMargin,
    // same closure; non-keepers joined to both source labels and their
    // token counts, aggregated at the (keeper_source, dup_source) grain
    "q230_cross_source_dup_matrix" ->
      s"""$reachCtes,
         |lab AS (SELECT id, min(r) AS keeper FROM reach GROUP BY id),
         |d AS (
         |  SELECT lab.id AS doc_id, lab.keeper,
         |    ks.source AS keeper_source, ds.source AS dup_source,
         |    CAST(len(t.w) AS BIGINT) AS n_tok
         |  FROM lab
         |  JOIN documents ks ON lab.keeper = ks.doc_id
         |  JOIN documents ds ON lab.id = ds.doc_id
         |  JOIN toks t ON lab.id = t.doc_id
         |  WHERE lab.id <> lab.keeper)
         |SELECT keeper_source, dup_source,
         |  CAST(count(*) AS BIGINT) AS n_dups,
         |  CAST(sum(n_tok) AS BIGINT) AS tokens_lost
         |FROM d GROUP BY 1, 2
         |ORDER BY keeper_source, dup_source""".stripMargin,
    // duplicate groups = the same transitive closure; histogram at
    // group-size grain
    "q126_cluster_histogram" ->
      s"""$reachCtes,
         |lab AS (SELECT id, min(r) AS keeper FROM reach GROUP BY id),
         |cs AS (SELECT keeper, CAST(count(*) AS BIGINT) AS cluster_size FROM lab GROUP BY keeper)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)

  /** The q38 reachability CTEs (exact near-dup pairs → symmetric edges →
    * transitive closure), shared by the dedup-apply and cluster-histogram
    * oracles. */
  /** Shared q62/q167 oracle: the batch decontamination answer — the
    * streaming at-ingest screen (q167) must land on the identical rows,
    * so BOTH queries carry this text verbatim. */
  private[graft] lazy val decontaminateOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(w) - 4, 1) + 1),
       |    i -> array_to_string(list_slice(w, CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' ')))) AS s
       |  FROM toks),
       |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % $EvalDocModulus = 0)
       |SELECT t.doc_id, count(DISTINCT t.s) AS n_shared
       |FROM sh t JOIN ev USING (s)
       |WHERE t.doc_id % $EvalDocModulus <> 0
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Shared oracle prefix: the exact-verified near-dup pair graph
    * (toks → shingles → Jaccard ≥ 0.6 pairs → symmetric edges) — the
    * SQL replay of [[verifiedPairs]]. Consumed by [[reachCtes]] (the
    * q38/q126/q131 reachability family) and by q168's propagation
    * oracle ([[Propagate]]), so the graph over which quality smooths
    * is definitionally the one dedup clusters on. */
  private[graft] lazy val pairGraphCtes =
    """WITH RECURSIVE toks AS MATERIALIZED (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(w) - 4, 1) + 1),
      |    i -> array_to_string(list_slice(w, CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' ')))) AS s
      |  FROM toks),
      |n AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |p AS MATERIALIZED (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS MATERIALIZED (
      |  SELECT d1, d2 FROM p
      |  JOIN n n1 ON p.d1 = n1.doc_id JOIN n n2 ON p.d2 = n2.doc_id
      |  WHERE round(CAST(inter AS DOUBLE) / (n1.n_sh + n2.n_sh - inter), 4) >= 0.6),
      |edges AS MATERIALIZED (SELECT d1 AS s, d2 AS t FROM pairs UNION ALL SELECT d2, d1 FROM pairs)""".stripMargin

  private[operators] lazy val reachCtes =
    s"""$pairGraphCtes,
      |reach(id, r) AS (
      |  SELECT DISTINCT s, s FROM edges
      |  UNION
      |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.t = reach.id)""".stripMargin
}
