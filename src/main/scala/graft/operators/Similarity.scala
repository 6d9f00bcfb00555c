package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Sessions, Tables}
import VectorSearch.{NumProbes, TopK}

/** Similarity search over the `embeddings` table (SURVEY §2.9): exact
  * brute-force cosine top-k as the correctness baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Numeric parity: cosine is computed with an explicit left-to-right
  * fold in DOUBLE (`aggregate(zip_with(...))`), the same accumulation
  * order DuckDB's list functions use over a DOUBLE[] cast — so the
  * values match bit-for-bit and the oracle can compare rounded cosines
  * safely.
  *
  * Scale design: brute force is O(probes × corpus) — fine for a probe
  * set, impossible for all-pairs at 100 TB. The LSH variant buckets
  * vectors by sign patterns against shared random hyperplanes; the join
  * is then bucket-equality (shuffle on a small int key), and each
  * candidate list shrinks by ~2^planes. Hyperplanes are generated
  * driver-side from a fixed seed and broadcast as literals — no state,
  * reproducible across runs and clusters.
  */
object Similarity extends graft.QueryModule {

  /** Left-fold dot product in double over two float-array columns —
    * the composable reference form, kept for spec cross-validation of
    * the native expression. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Composable-form cosine (interpreted higher-order functions). */
  def cosineFold(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Production cosine: the codegen'd native expression
    * ([[graft.functions.CosineSimilarity]]) — bit-identical to
    * [[cosineFold]], ~20× faster on the all-pairs scan. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_sim(a, b)

  /** The `cos_raw` score of a candidate against its probe. */
  private def cosRaw: Seq[Column] =
    Seq(cosine(col("probe_vec"), col("embedding")).as("cos_raw"))

  /** Top-[[TopK]] of scored `(probe_id, neighbor_id, cos_raw)` candidates
    * in the q29 output shape (cosine rounded at 6). */
  private def cosineTopK(scored: DataFrame): DataFrame =
    VectorSearch.topK(scored, col("cos_raw").desc)
      .select(col("probe_id"), col("neighbor_id"), round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("probe_id"), col("cosine").desc, col("neighbor_id"))

  /** q29 — exact brute-force cosine top-k: for each probe vector, the 5
    * nearest neighbors by cosine over the whole corpus. The probe side
    * is broadcast (tiny); ranking is a window per probe. */
  def q29CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val emb = Tables.embeddings(spark, dir)
    // size-gated corpus-side fanout (see Tables.fanoutIfHeavy): a
    // one-row-group embeddings scan runs this kernel on ONE task; past
    // ~2 MB the 32-way kernel beats the round-robin pass, below it the
    // exchange costs more than the tens-of-ms kernel it parallelizes.
    cosineTopK(VectorSearch.exactScan(
      Tables.fanoutIfHeavy(spark, emb), VectorSearch.probes(emb), cosRaw))
  }

  /** Random hyperplanes for sign-LSH, fixed seed — deterministic across
    * runs/executors. planes(p)(d) ~ U(−1, 1) (direction only matters). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextDouble() * 2.0 - 1.0)
  }

  val NumPlanes = 8 // 256 buckets; resize with corpus (≈ log2(n / target bucket size))

  /** Sign-pattern bucket id of a vector column against the plane set —
    * the native single-pass [[graft.functions.SignBuckets]] expression
    * (one table = the whole plane set). Bit-identical to the composable
    * `when(dot > 0, 1<<i)` sum it replaces: same left-fold dot order,
    * same bit packing. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    graft.functions.VectorFunctions.sign_buckets(vec, planes, planes.length).getItem(0)

  /** q30 — ANN top-k via sign-LSH buckets with 2-bit multiprobe: each
    * probe scores candidates in its own bucket plus every bucket within
    * Hamming ≤ 2 of it (1 + 8 + 28 = 37 of 256 buckets ≈ 14% of the
    * corpus). Multiprobe is the standard recall lever when neighbors sit
    * at wide angles (these fixtures' top-5 neighbors are only at cosine
    * ≈ 0.5, i.e. ~60°, where each plane disagrees with p ≈ 1/3).
    * Approximate by construction — recall is spec-checked against q29,
    * not oracle-checked. Output shape matches q29 for comparability. */
  def annLshTopK(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val emb = Tables.embeddings(spark, dir)
    val planes = hyperplanes(NumPlanes, 64)
    // the bucket assignment + scoring kernel parallelize together off
    // the size-gated fanout (the q29 rationale; no-op at fixture size)
    val bucketed = Tables.fanoutIfHeavy(spark, emb)
      .withColumn("bucket", lshBucket(col("embedding"), planes))
    // probe-side bucket expansion: all masks with ≤2 bits set
    val flips: Seq[Int] = 0 +:
      (0 until NumPlanes).map(1 << _) ++:
      (for (i <- 0 until NumPlanes; j <- i + 1 until NumPlanes)
        yield (1 << i) | (1 << j))
    val probes = VectorSearch.probes(bucketed, extra = Seq(
      explode(array(flips.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket")))
    cosineTopK(VectorSearch.scored(bucketed.join(broadcast(probes), Seq("bucket")), cosRaw))
  }

  /** Corpus-level recall floor for the q30 sign-LSH gate — the spec
    * floor (single-probe sign-LSH at the fixtures' wide neighbor angles
    * is a modest-recall regime; zero means broken). */
  val LshRecallFloor = 0.2

  /** q30 — the sign-LSH ANN gate: [[annLshTopK]] against the exact twin
    * IN-PLAN, same verdict shape as q43 — probe count, exact-result
    * count, recall-floor boolean; deterministic (fixed-seed planes,
    * fixed probe set), so the oracle asserts the row literally and this
    * query is a full hash-match instead of rows-only. Production callers
    * use [[annLshTopK]]. */
  def q30AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    recallOf(q29CosineTopK(spark, dir), annLshTopK(spark, dir))
      .select(col("n_probes"), col("n_exact_results"),
        (col("recall") >= LshRecallFloor).as("recall_ok"))
  }

  /** One row: probe count, exact-result count and corpus-level recall of
    * the `approx` top-k against the `exact` one — the ANN gates' shape. */
  private def recallOf(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select("probe_id", "neighbor_id")
      .join(approx.select(col("probe_id"), col("neighbor_id"), lit(1L).as("hit")),
        Seq("probe_id", "neighbor_id"), "left")
      .agg(
        countDistinct(col("probe_id")).as("n_probes"),
        count(lit(1)).as("n_exact_results"),
        (sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1))).as("recall"))

  /** Near-dup cosine threshold. The fixture corpus has no true embedding
    * duplicates (measured max pairwise cosine ≈ 0.51), so the threshold
    * sits where the operator still surfaces the densest-cluster pairs;
    * a real dedup run would use ≥0.95. */
  val NearDupThreshold = 0.45

  /** q31 — embedding-cosine near-duplicate pairs (SURVEY §2.9
    * "embedding-cosine near-dup"), exact all-pairs baseline: every pair
    * with cosine ≥ threshold. O(n²) by design — this is the correctness
    * reference; at 100 TB the identical scoring runs behind the sign-LSH
    * bucket prefilter of [[q30AnnLsh]] (bucket join first, exact cosine
    * only within buckets), turning n² into Σ bucket². */
  def q31CosineNearDup(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val emb = Tables.embeddings(spark, dir)
    // fanout the STREAM side (the q191 lesson): the broadcast-NL cross
    // join parallelizes by stream-side partitions, and a one-row-group
    // embeddings file otherwise runs the whole n² kernel on one core
    val l = Tables.fanout(spark, emb)
      .select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val r = emb.select(col("vec_id").as("v2"), col("embedding").as("e2"))
    l.crossJoin(r)
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"), cosine(col("e1"), col("e2")).as("cos_raw"))
      .filter(col("cos_raw") >= NearDupThreshold)
      .select(col("v1"), col("v2"), round(col("cos_raw"), 6).as("cosine"))
      .orderBy("v1", "v2")
  }

  /** Multi-table LSH parameters for the ALL-PAIRS near-dup scale path:
    * T independent tables of k planes each. A pair at angle θ collides
    * in one table with p = (1 − θ/π)^k and in ≥1 of T tables with
    * 1 − (1−p)^T. The fixtures are the ADVERSARIAL regime — their
    * "near-dups" sit at cosine ≈ 0.45-0.51 (θ ≈ 60°, see
    * [[NearDupThreshold]]) where sign-LSH prunes weakly by construction;
    * k=6, T=16 gives recall ≈ 0.71 at the widest pair while cutting
    * candidates to ≈ T/2^k ≈ 0.25 n². At a production near-dup
    * threshold (cosine ≥ 0.9, θ ≤ 26°) the SAME code with k=8, T=8
    * yields recall ≈ 0.94 at ≈ n²/32 candidates — the constants are
    * corpus knobs; the structure (bucket join → id-pair dedup → exact
    * verify) is what scales. */
  val NumTables = 16
  val PlanesPerTable = 6

  /** q49 — the SCALE PATH for embedding near-dup (q31's documented
    * upgrade): multi-table sign-LSH bucketing turns the O(n²) cross join
    * into per-bucket self-joins; candidates are deduped as id pairs
    * (embeddings re-fetched by join afterwards — dedup the small thing,
    * not the wide thing), then EXACT cosine + threshold verifies, so
    * precision is exact and only recall is probabilistic (spec-checked
    * against q31). Approximate → rows-only for the driver. */
  /** Corpus-level recall floor for the q49 gate (spec floor: multi-table
    * miss probability ≈ (1−p^k)^T ≈ 0.21 at the widest corpus pair
    * angle, so ≥ 0.5 aggregate recall holds with wide margin). */
  val NearDupRecallFloor = 0.5

  /** q49 — the near-dup LSH gate: [[nearDupLshPairs]] against the exact
    * all-pairs twin (q31) IN-PLAN. Emits the exact pair count (an
    * oracle-recomputable corpus fact), a precision verdict (the LSH
    * output must be a SUBSET of the exact pairs — exact by construction,
    * the verify step recomputes the cosine) and the recall-floor
    * verdict. Deterministic (fixed-seed planes), so the whole row
    * hash-matches a literal oracle. Production callers use
    * [[nearDupLshPairs]] — no O(n²) twin in that path. */
  def q49NearDupLsh(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val exact = q31CosineNearDup(spark, dir)
      .select(col("v1"), col("v2"), lit(1L).as("ex"))
    val lsh = nearDupLshPairs(
      Tables.embeddings(spark, dir), NearDupThreshold, NumTables, PlanesPerTable)
      .select(col("v1"), col("v2"), lit(1L).as("hit"))
    exact.join(lsh, Seq("v1", "v2"), "full_outer")
      .agg(
        sum(coalesce(col("ex"), lit(0L))).as("n_exact_pairs"),
        sum(when(col("ex").isNull, 1L).otherwise(0L)).as("n_false_pos"),
        sum(when(col("ex").isNotNull && col("hit").isNotNull, 1L).otherwise(0L))
          .as("n_hits"))
      .select(
        col("n_exact_pairs"),
        (col("n_false_pos") === 0L).as("precision_ok"),
        (col("n_hits").cast("double") / col("n_exact_pairs") >= NearDupRecallFloor)
          .as("recall_ok"))
  }

  /** Multi-table sign-LSH candidate id pairs over any (vec_id, embedding)
    * frame — the pruning half of the near-dup scale path, parameterized
    * so the (threshold, k, T) regime is a caller knob, not a constant
    * (the production cosine ≥ 0.9 / k=8 / T=8 regime is spec-checked on
    * planted fixtures in `SimilaritySpec`). */
  def nearDupLshCandidates(
      emb: DataFrame,
      numTables: Int,
      planesPerTable: Int,
      dim: Int = 64): DataFrame = {
    val planes = hyperplanes(numTables * planesPerTable, dim)
    // ALL table buckets in one native pass over the planes (the
    // composable per-plane dot folds were T×k interpreted lambdas/row),
    // then posexplode to (table, bucket) rows
    val bucketed = emb
      .select(col("vec_id"),
        posexplode(graft.functions.VectorFunctions.sign_buckets(
          col("embedding"), planes, planesPerTable)))
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("bucket"))
    val l = bucketed.select(col("tbl"), col("bucket"), col("vec_id").as("v1"))
    val r = bucketed.select(col("tbl"), col("bucket"), col("vec_id").as("v2"))
    // candidate id pairs, deduped across tables BEFORE touching vectors
    l.join(r, Seq("tbl", "bucket"))
      .filter(col("v1") < col("v2"))
      .select("v1", "v2")
      .distinct()
  }

  /** Candidates → exact-cosine verify at `threshold`: precision is exact,
    * only recall is probabilistic (the LSH collision bound). */
  def nearDupLshPairs(
      emb: DataFrame,
      threshold: Double,
      numTables: Int,
      planesPerTable: Int,
      dim: Int = 64): DataFrame =
    nearDupLshCandidates(emb, numTables, planesPerTable, dim)
      .join(emb.select(col("vec_id").as("v1"), col("embedding").as("e1")), Seq("v1"))
      .join(emb.select(col("vec_id").as("v2"), col("embedding").as("e2")), Seq("v2"))
      .select(col("v1"), col("v2"), cosine(col("e1"), col("e2")).as("cos_raw"))
      .filter(col("cos_raw") >= threshold)
      .select(col("v1"), col("v2"), round(col("cos_raw"), 6).as("cosine"))
      .orderBy("v1", "v2")

  /** IVF parameters: coarse-quantizer list count, per-vector spill
    * assignment, and probed lists. nlist ≈ √n is the classic sizing;
    * each vector is indexed in its [[SpillAssign]] nearest lists
    * (spill-to-2nd-nearest — the standard recall lever for vectors near
    * a cell boundary, which single-assignment IVF misses whenever the
    * probe lands one cell over). Expected scan fraction per probe =
    * nprobe × spill / nlist = 16 × 2 / 128 = 25% — the operating point
    * (recall ≥ 0.8 at ≤ 25% scan, spec-asserted; measured 0.85 on the
    * fixtures, whose neighbors sit at adversarial ~60° angles). Fine
    * cells + wide probing beat coarse cells + spill-heavy indexing at
    * equal scan budget here: with near-orthogonal neighbors, cell
    * DIVERSITY is what recovers them, not deeper duplication (swept via
    * `tools.IvfTune`: 32/2/4 → 0.75, 96/3/8 → 0.75, 96/2/12 → 0.80,
    * 128/2/16 → 0.85). The spill costs index size, not query-time scan
    * budget. */
  val NumLists = 128
  val SpillAssign = 2
  val NumProbeLists = 16

  /** ANN via IVF (inverted-file) index, with the index BUILD split
    * out of the query path: [[IvfIndex.centroids]] trains the coarse
    * quantizer once per (corpus, nlist) — on a bounded deterministic
    * sample, the way faiss trains IVF quantizers — and caches it; the
    * query itself is then a map-only centroid assignment (the codegen'd
    * [[graft.functions.NearestCentroids]] expression, no ML-library
    * transform, no shuffle) plus the bucketed scoring join. Probe → cell
    * distances are computed driver-side over the nlist centroids —
    * constant-size, never data-sized. This is the production entry; the
    * gate query ([[q43AnnIvf]]) wraps it in a recall verdict against the
    * exact twin. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val emb = Tables.embeddings(spark, dir)
    val centers = IvfIndex.centroids(spark, dir, NumLists)
    // spill assignment: each vector appears in its SpillAssign nearest
    // lists — the index is spill× the corpus, but each probe still scans
    // only its nprobe lists
    ivfScoreTail(spilled(emb, centers), ivfProbes(spark, emb, centers))
  }

  /** `(vec_id, embedding, list_id)`: each vector in its [[SpillAssign]]
    * nearest lists — the IVF index over any `(vec_id, embedding)` store. */
  private[graft] def spilled(store: DataFrame, centers: Array[Array[Double]]): DataFrame =
    store.select(
      col("vec_id"), col("embedding"),
      explode(graft.functions.VectorFunctions.nearest_centroids(
        col("embedding"), centers, SpillAssign)).as("list_id"))

  /** The (probe_id, probe_vec, list_id) probe frame of [[ivfTopK]]: each
    * probe fanned out to its `nprobe` nearest lists
    * ([[VectorSearch.probeLists]], shared with the partitioned-store
    * serving path of [[graft.layout.IvfLayout]]). */
  private[graft] def ivfProbes(spark: SparkSession, emb: DataFrame,
      centers: Array[Array[Double]],
      nprobe: Int = NumProbeLists): DataFrame = {
    import spark.implicits._
    val probeLists = VectorSearch.probeLists(emb, centers, nprobe)
      .map { case (p, l, _) => (p, l) }.toDF("probe_id", "list_id")
    VectorSearch.probes(emb).join(probeLists, Seq("probe_id"))
  }

  /** The bucketed scoring join + spill-dedup + rank tail over ANY
    * (vec_id, embedding, list_id) candidate store — the in-memory
    * index and the [[graft.layout.IvfLayout]] partitioned store serve
    * through this SAME tail. */
  private[graft] def ivfScoreTail(assigned: DataFrame,
      probes: DataFrame): DataFrame = {
    // a spilled vector can reach the same probe through two lists —
    // collapse before ranking (map-side-combining max, not distinct, so
    // the dedup shuffles one row per (probe, neighbor))
    cosineTopK(VectorSearch.scored(assigned.join(broadcast(probes), Seq("list_id")), cosRaw)
      .groupBy("probe_id", "neighbor_id")
      .agg(max(col("cos_raw")).as("cos_raw")))
  }

  /** Corpus-level recall floor the IVF search is gated on (the spec
    * floor; measured ≈0.85 at the default 25% scan fraction). */
  val IvfRecallFloor = 0.8

  /** q43 — the IVF ANN gate: [[ivfTopK]] measured against the exact
    * brute-force twin ([[q29CosineTopK]]) IN-PLAN, emitting the probe
    * count, the exact-result count, and whether corpus-level recall
    * clears [[IvfRecallFloor]]. Both searches are deterministic (fixed
    * probe set, deterministic quantizer sample), so the verdict row is
    * exactly reproducible — which upgrades this query from the driver's
    * rows-only check to a full hash-match: the oracle recomputes the
    * probe/result counts and asserts the verdict literally. Production
    * callers use [[ivfTopK]] directly (no exact twin, no verdict). */
  def q43AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    recallOf(q29CosineTopK(spark, dir), ivfTopK(spark, dir))
      .select(col("n_probes"), col("n_exact_results"),
        (col("recall") >= IvfRecallFloor).as("recall_ok"))
  }

  /** Metadata predicate of the FILTERED-ANN family (q209): neighbors
    * must come from this document source. A deployment passes any
    * store-column predicate. */
  val FilterSource = "src0"

  /** Recall floor of the filtered IVF search vs the exact filtered
    * twin. With selectivity-adaptive probing (see [[ivfFilteredTopK]])
    * a 5%-selective fixture filter widens the probe to every list, so
    * measured recall is exactly 1.0 at both driver SFs; the floor
    * leaves room for the broad-filter regime where real IVF pruning
    * (and q43-like ~0.85 recall) kicks back in. */
  val FilteredRecallFloor = 0.8

  /** The metadata-carrying vector store: each embedding travels with
    * its document's `source` column — the join happens ONCE at
    * index-build time (per corpus version, like the [[IvfIndex]]
    * quantizer and the q194 layout write), so a query-time filter is a
    * pushed-down column predicate on the store scan, never a
    * data-sized join in the query path. This is how production vector
    * stores do metadata filtering (Milvus/Qdrant/LanceDB segment-level
    * prefilter). */
  private[graft] def metaStore(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).join(
      Tables.documents(spark, dir).select(
        col("doc_id").as("vec_id"), col("source")),
      Seq("vec_id"))

  /** Exact filtered top-k — the brute-force twin over the
    * predicate-matching corpus slice (the q29 shape + the filter). */
  private[graft] def filteredExactTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val allowed = metaStore(spark, dir).filter(col("source") === FilterSource)
    cosineTopK(VectorSearch.exactScan(
      Tables.fanoutIfHeavy(spark, allowed), VectorSearch.probes(emb), cosRaw))
  }

  /** PRODUCTION filtered ANN: the q43 IVF search with the metadata
    * PREFILTER applied to the inverted lists before scoring — the
    * store carries `source` as a column ([[metaStore]]), so the filter
    * is a map-side predicate on the store scan (on the q194 layout it
    * additionally rides partition pruning), then the SAME probe
    * fan-out and scoring tail as every other IVF path. Prefiltering
    * beats postfiltering here by construction: top-k is taken over
    * candidates that already satisfy the predicate, so a selective
    * filter can never starve the result set below k while matching
    * vectors exist in the probed lists.
    *
    * SELECTIVITY-ADAPTIVE PROBING: a fixed nprobe under a narrow
    * filter probes lists that are mostly empty of allowed vectors
    * (measured: recall 0.6 at the fixture's 5% filter with the q43
    * default) — so the probe fan-out widens by the filter's inverse
    * selectivity, `nprobe = min(nlist, NumProbeLists · ⌈n/allowed⌉)`,
    * degrading gracefully to a brute-force scan OF THE FILTERED SLICE
    * when the filter is narrow (the candidate set stays ≤ spill ×
    * slice — already pruned by the predicate). This is the
    * cardinality-based prefilter/index switch production vector stores
    * implement (Qdrant's payload-cardinality planner, Milvus' segment
    * prefilter): IVF pruning pays off exactly when the filter does
    * not. Both counts are per-corpus-version facts (the quantizer's
    * cache key), never per-query work. */
  private[graft] def ivfFilteredTopK(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val emb = Tables.embeddings(spark, dir)
    val centers = IvfIndex.centroids(spark, dir, NumLists)
    val store = metaStore(spark, dir).filter(col("source") === FilterSource)
    val nVec = emb.count()
    val nAllowed = math.max(store.count(), 1L)
    val boost = (nVec + nAllowed - 1L) / nAllowed
    val effNprobe =
      math.min(NumLists.toLong, NumProbeLists.toLong * boost).toInt
    ivfScoreTail(spilled(store, centers), ivfProbes(spark, emb, centers, effNprobe))
  }

  /** q209 — the FILTERED-ANN gate (the q43 convention): the filtered
    * IVF search measured against the exact filtered twin IN-PLAN, plus
    * the filter facts — how many store vectors satisfy the predicate,
    * and that the predicate actually prunes (strict subset of the
    * corpus). Production callers use [[ivfFilteredTopK]] directly. */
  def q209FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val facts = metaStore(spark, dir)
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(when(col("source") === FilterSource, 1L).otherwise(0L))
          .as("n_allowed"))
    recallOf(filteredExactTopK(spark, dir), ivfFilteredTopK(spark, dir))
      .crossJoin(broadcast(facts))
      .select(col("n_probes"), col("n_exact_results"), col("n_allowed"),
        (col("recall") >= FilteredRecallFloor).as("recall_ok"),
        (col("n_allowed") < col("n_vectors")).as("filter_selective"))
  }

  /** SemDeDup parameters: cluster count for the semantic-dedup pass and
    * the duplicate threshold. The synthetic embeddings' near-dup pairs
    * sit at cosine ≈ 0.45-0.51 (see [[NearDupThreshold]]); production
    * text-embedding corpora run τ ≈ 0.95+ — a caller knob on
    * [[semDedup]]. */
  val SemClusters = 16

  /** Target mean cluster population for SemDeDup. The cluster count must
    * SCALE with the corpus — k = max(SemClusters, n / this) keeps the
    * within-cluster pair cost Σ|c|² ≈ n·target LINEAR in n, where a
    * fixed k makes it n²/k (measured 36× on a 10× scale-up before this).
    * Floored at [[SemClusters]] so the fixture SFs (n ≤ 2000 →
    * k = SemClusters) are unchanged; capped at half the quantizer's
    * training-sample size so Lloyd stays meaningful. */
  val SemTargetClusterSize = 250L

  def semClustersFor(n: Long): Int =
    math.min(IvfIndex.SampleSize / 2,
      math.max(SemClusters.toLong, n / SemTargetClusterSize)).toInt

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the IVF coarse
    * quantizer, then look for duplicate pairs ONLY within a cluster —
    * pairwise cost drops from O(n²) to Σ|cluster|², and each cluster's
    * pairs compute independently after one shuffle on cluster id.
    *
    * Keeper election is GROUP-based and shared with q38: the
    * within-cluster pairs feed [[Dedup.minLabelComponents]] (hybrid
    * union-find / distributed min-label CC), each duplicate group keeps
    * its minimum vec_id (the paper keeps one representative per group;
    * ours is the deterministic choice) and drops the rest. One CC pass
    * over the pair graph — which is near-dup-sized, tiny relative to the
    * corpus — replaces the earlier chain-greedy rule ("drop iff ANY
    * lower-id similar neighbor"), which disagreed with q38 about what a
    * duplicate group means on star-shaped graphs (a member whose direct
    * neighbors all have higher ids survived even though its group's
    * keeper was lower).
    *
    * At 100 TB: k scales as n / target-cluster-size so Σ|c|² stays
    * bounded; the quantizer trains on a capped sample ([[IvfIndex]]) and
    * assignment is a map-only codegen pass. A dup pair straddling a
    * cluster boundary is missed — that is the documented SemDeDup
    * trade (recall, never precision), spec-measured against the exact
    * all-pairs twin. */
  private def assignClusters(emb: DataFrame, centers: Array[Array[Double]]): DataFrame =
    emb.select(
      col("vec_id"),
      col("embedding"),
      element_at(graft.functions.VectorFunctions.nearest_centroids(
        col("embedding"), centers, 1), 1).as("cluster"))

  /** IVF-bucketed exact near-dup pairs: within-cluster cosine ≥ τ — the
    * LINEAR-scale path for embedding near-dup (Σ|c|² ≈ n·target with
    * [[semClustersFor]]-sized k, measured ~5× at a 10× scale-up, where
    * the sign-LSH candidates of [[nearDupLshCandidates]] are ≈ 0.25·n²
    * at the fixtures' wide-angle regime, measured 68×). Recall trade:
    * pairs straddling a cluster boundary are missed — the SemDeDup
    * trade, spec-measured against the exact twin. */
  def ivfNearDupPairs(
      emb: DataFrame,
      centers: Array[Array[Double]],
      threshold: Double): DataFrame =
    ivfPairsOfAssigned(assignClusters(emb, centers), threshold)

  /** [[ivfNearDupPairs]] over an ALREADY-ASSIGNED frame — shared with
    * [[semDedup]] so the nearest-centroid corpus pass runs once, not
    * once for the status rows and again for the pair join. */
  private def ivfPairsOfAssigned(assigned: DataFrame, threshold: Double): DataFrame = {
    val l = assigned.select(col("cluster"), col("vec_id").as("v1"), col("embedding").as("e1"))
    val r = assigned.select(col("cluster"), col("vec_id").as("v2"), col("embedding").as("e2"))
    l.join(r, Seq("cluster"))
      .filter(col("v1") < col("v2"))
      .filter(cosine(col("e1"), col("e2")) >= threshold)
      .select(col("v1"), col("v2"))
  }

  def semDedup(
      emb: DataFrame,
      centers: Array[Array[Double]],
      threshold: Double): DataFrame = {
    val assigned = assignClusters(emb, centers)
    val pairs = ivfPairsOfAssigned(assigned, threshold)
      .select(col("v1").as("d1"), col("v2").as("d2"))
    val groups = Dedup.minLabelComponents(emb.sparkSession, pairs)
      .select(col("doc_id").as("vec_id"), col("keeper"))
    assigned
      .join(groups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        when(col("keeper").isNull || col("keeper") === col("vec_id"), "keep")
          .otherwise("drop").as("status"))
  }

  /** PRODUCTION SemDeDup statuses: [[semDedup]] over the embeddings
    * table at the corpus's near-dup threshold — one (vec_id, cluster,
    * status) row per vector. The cluster column depends on the trained
    * quantizer, so the detail rows are not oracle-reproducible; the
    * [[q69SemDedup]] gate verifies them against the exact all-pairs twin
    * in-plan instead. Exact-twin parity + planted-duplicate recall
    * spec'd in `SimilaritySpec`. */
  def semDedupStatuses(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val emb = Tables.embeddings(spark, dir)
    // size the quantizer to the corpus (index-build-time metadata read,
    // same lifecycle as the centroid training itself)
    val k = semClustersFor(emb.count())
    semDedup(emb, IvfIndex.centroids(spark, dir, k), NearDupThreshold)
      .orderBy("vec_id")
  }

  /** q69 — the SemDeDup VERDICT GATE (same pattern as the q28/q30/q43/q49
    * gates): [[semDedupStatuses]] against the exact all-pairs twin
    * IN-PLAN. Emits the vector count and the exact duplicate-involved
    * vector count (both corpus facts the oracle recomputes with the q31
    * arithmetic) plus two deterministic verdicts: every dropped vector
    * is an endpoint of some EXACT near-dup pair (precision — a drop is
    * always justified by a real pair), and no exact pair whose endpoints
    * share a cluster survives with both sides kept (the within-cluster
    * twin property; pairs straddling cluster boundaries are the
    * documented SemDeDup recall trade). Quantizer-dependent columns
    * never reach the output → full hash-match instead of rows-only.
    * Production callers use [[semDedupStatuses]]. */
  def q69SemDedup(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    // both gate inputs materialized once (eager localCheckpoint, the
    // q175/q251 lesson): statuses feeds FOUR consumers (the count agg,
    // the bad-drop anti-join and both sides of the survived join) and
    // pairs feeds two — without the checkpoints the clustered dedup
    // re-runs four times and the exact quadratic twin twice. Both
    // frames are id-grain (≤ 3 int/string columns per vector/pair).
    val statuses = graft.core.Materialize.once(semDedupStatuses(spark, dir))
    val pairs = graft.core.Materialize.once(
      q31CosineNearDup(spark, dir).select(col("v1"), col("v2")))
    val dupVecs = pairs
      .select(explode(array(col("v1"), col("v2"))).as("vec_id")).distinct()
    val nAgg = statuses.agg(count(lit(1)).as("n_vectors"))
    val dvAgg = dupVecs.agg(count(lit(1)).as("n_exact_dup_vectors"))
    val badDrops = statuses.filter(col("status") === "drop")
      .join(dupVecs, Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n_bad_drops"))
    val survived = pairs
      .join(statuses.select(col("vec_id").as("v1"), col("cluster").as("c1"),
        col("status").as("st1")), Seq("v1"))
      .join(statuses.select(col("vec_id").as("v2"), col("cluster").as("c2"),
        col("status").as("st2")), Seq("v2"))
      .agg(coalesce(sum(when(col("c1") === col("c2") &&
        col("st1") === "keep" && col("st2") === "keep", 1L).otherwise(0L)), lit(0L))
        .as("n_uncollapsed"))
    nAgg.crossJoin(dvAgg).crossJoin(badDrops).crossJoin(survived) // 1-row aggs
      .select(
        col("n_vectors"), col("n_exact_dup_vectors"),
        (col("n_bad_drops") === 0).as("drops_are_true_dups"),
        (col("n_uncollapsed") === 0).as("same_cluster_pairs_collapsed"))
  }

  /** q82 — per-source embedding CENTROID DRIFT between two corpus
    * versions (the embedding-space twin of q71's composition drift: a
    * recrawl can keep the source mix stable while the CONTENT of a
    * source shifts — the centroid moves, the mix doesn't; monitoring
    * both catches both failure modes before a model trains on them).
    * Version membership is the q66 fixture rule set, evaluated per-row
    * as conditional aggregates — ONE scan of the embeddings, one
    * shuffle from (rows × dims) down to the (source, dim) cell frame
    * (partial-agg combines map-side; cells = sources × 64, trivially
    * small at any corpus scale), then a per-source fold of the 64-dim
    * centroid pair into cosine drift. Drift is rounded at 6: the
    * per-cell mean is a double sum whose partition-order wobble is
    * ~1e-13 relative, far inside the rounding. */
  def q82CentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val src = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    val cells = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .join(src, Seq("vec_id"))
      .select(col("vec_id"), col("source"), posexplode(col("embedding")))
      .select(
        col("source"), col("pos").as("dim"), col("col").cast("double").as("v"),
        (col("vec_id") % Corpus.RemovedInV2Mod =!= Corpus.RemovedInV2Rem).as("in1"),
        (col("vec_id") % Corpus.DroppedFromV1Mod =!= Corpus.DroppedFromV1Rem).as("in2"))
      .groupBy("source", "dim")
      .agg(
        avg(when(col("in1"), col("v"))).as("a1"),
        avg(when(col("in2"), col("v"))).as("a2"))
    cells.groupBy("source")
      .agg(
        sum(col("a1") * col("a2")).as("dot"),
        sum(col("a1") * col("a1")).as("n1"),
        sum(col("a2") * col("a2")).as("n2"))
      .select(col("source"),
        round(lit(1.0) - col("dot") / sqrt(col("n1") * col("n2")), 6)
          .as("centroid_drift"))
      .orderBy("source")
  }

  /** Eval-slice modulus for the SEMANTIC decontamination fixture
    * (vec_id ≡ 0 mod this = the held-out eval set) — mirrors
    * [[Dedup.EvalDocModulus]]'s q62 convention so the two
    * decontamination views carve the same kind of slice. */
  val EvalVecModulus = 97L

  /** q137 — SEMANTIC DECONTAMINATION: the embedding-space twin of q62's
    * n-gram decontamination. Paraphrased eval leakage shares no 5-gram
    * with the eval set but sits next to it in embedding space (Yang et
    * al. 2023, "Rethinking Benchmark and Contamination ... n-gram
    * overlap is not enough"), so a production pipeline audits BOTH:
    * q62 catches verbatim leakage, this catches semantic leakage.
    *
    * For every train vector: the max cosine to ANY eval vector; the
    * per-source report counts vectors over the [[NearDupThreshold]]
    * contamination line. Eval sets are small by construction (a slice
    * here; thousands of rows in production), so the eval side is a
    * BROADCAST and the scan is ONE map-only pass over the train corpus
    * — |train|·|eval| dot products with no shuffle until the tiny
    * (source)-grain report. At 100 TB the same report runs behind the
    * q49 sign-LSH bucket prefilter (bucket-join train×eval first, exact
    * cosine only within buckets) exactly as q31→q49; the exact form IS
    * the oracle-checked baseline, like q31.
    *
    * Numeric contract: cosine is the q29/q31 bit-identical double fold;
    * max is order-free (no double sums cross the engines); one
    * round(·, 6) on the comparison-stable max. */
  def q137SemDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    semDecontaminate(Tables.embeddings(spark, dir), Tables.documents(spark, dir))
  }

  /** The q137 report over ANY embeddings/documents-shaped frames (also
    * the `sem_decontaminate()` TVF). */
  def semDecontaminate(emb: DataFrame, docs: DataFrame): DataFrame = {
    val ev = broadcast(
      emb.filter(col("vec_id") % EvalVecModulus === 0)
        .select(col("embedding").as("ee")))
    val mx = emb.filter(col("vec_id") % EvalVecModulus =!= 0)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(ev)
      .select(col("vec_id"), cosine(col("embedding"), col("ee")).as("c"))
      .groupBy("vec_id")
      .agg(max(col("c")).as("mx"))
    val src = docs.select(col("doc_id").as("vec_id"), col("source"))
    mx.join(src, Seq("vec_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_train"),
        sum(when(col("mx") >= NearDupThreshold, 1L).otherwise(0L)).as("n_contaminated"),
        round(max(col("mx")), 6).as("max_eval_cosine"))
      .orderBy("source")
  }

  /** Hard-negative cosine band [lo, hi): high enough to be informative,
    * strictly below [[NearDupThreshold]] so a paraphrase can never be
    * mislabeled negative. */
  val HnLoCos = 0.15
  val HnHiCos = NearDupThreshold
  val HnK = 5

  /** q156 — HARD-NEGATIVE MINING (the contrastive-training pair miner,
    * DPR / Karpukhin et al. 2020 §3.2): for each anchor vector, the
    * [[HnK]] highest-cosine candidates inside the band
    * [[[HnLoCos]], [[HnHiCos]]) — similar enough that the training
    * gradient is informative, but capped strictly below the near-dup
    * line so no positive-in-disguise is ever labeled negative (the
    * standard false-negative guard). Anchors are the fixed probe set
    * (the q29 convention).
    *
    * Scale shape: the fixture runs the exact brute-force band scan
    * (probes × corpus, broadcast probe side, map-only) — at 100 TB the
    * candidate stream comes from the q43 IVF / q30 LSH index instead
    * and this SAME band-and-rank tail runs over it, exactly the
    * q29→q30/q43 relationship. Band edges compare the bit-identical
    * cosine fold in both engines, so no boundary tie can flip. */
  def q156HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    hardNegatives(Tables.embeddings(spark, dir), HnLoCos, HnHiCos, HnK)
  }

  /** The miner over ANY (vec_id, embedding) frame — also the
    * `hard_negatives(lo, hi, k)` TVF body. */
  private[graft] def hardNegatives(emb: DataFrame, lo: Double, hi: Double,
      k: Int): DataFrame = {
    val banded = VectorSearch.exactScan(Tables.fanoutIfHeavy(emb.sparkSession, emb),
        VectorSearch.probes(emb, "anchor_id"), cosRaw, "anchor_id", "negative_id")
      .filter(col("cos_raw") >= lo && col("cos_raw") < hi)
    VectorSearch.topK(banded, col("cos_raw").desc, Some(k), "anchor_id", "negative_id")
      .select(col("anchor_id"), col("rnk").cast("long").as("rnk"),
        col("negative_id"), round(col("cos_raw"), 6).as("cosine"))
      .orderBy("anchor_id", "rnk")
  }

  /** Unit-vector quantization grain for the diversity audit: milli
    * units keep Σ-of-squares within int64 up to ~10⁵ vectors per
    * source × 32 dims (a deployment drops the grain for bigger
    * strata); the quantization error on a MEAN cosine is ≤ ~1e-3 —
    * audit precision, exactly replayed by the oracle. */
  val DivQuant = 1000.0

  /** q157 — EMBEDDING DIVERSITY AUDIT: mean pairwise cosine within each
    * source, WITHOUT a pair join. On unit vectors,
    * Σ_{i≠j} cos(vᵢ,vⱼ) = ‖Σᵢv̂ᵢ‖² − Σᵢ‖v̂ᵢ‖², so the per-source mean
    * needs only the per-dimension SUM of quantized unit vectors and the
    * sum of their self-dots — two map-side-combined aggregates over ONE
    * scan. The n² pair computation q31 pays for near-dup detection is
    * deleted, which is the difference between an audit you run per
    * recrawl and one you can't run at all at 100 TB. High mean cosine =
    * collapsed/templated source (the SemDeDup signal, Abbas et al.
    * 2023, at corpus grain); low = diverse.
    *
    * Parity: each unit vector is quantized to integer milli-units
    * (sign-split half-away, the q88/q130 contract) BEFORE any sum, so
    * both engines sum exact integers in any order; the published mean
    * is one sign-split integer division. */
  def q157EmbeddingDiversity(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    embeddingDiversity(
      Tables.embeddings(spark, dir),
      Tables.documents(spark, dir).select(col("doc_id").as("vec_id"), col("source")))
  }

  /** The audit over ANY (vec_id, embedding) + (vec_id, source) frames —
    * also the `embedding_diversity()` TVF body. */
  private[graft] def embeddingDiversity(emb: DataFrame, src: DataFrame): DataFrame = {
    // one codegen'd normalize+quantize pass (UnitQuantize) — the
    // composable transform form re-ran the norm fold per element
    val qv = graft.functions.VectorFunctions.unit_quantize(
      col("embedding"), DivQuant)
    // ONE pass: quantize once, explode to (source, dim, q), and take all
    // three statistics from a single two-level aggregate — per (source,
    // dim): Σq, Σq², row count (= the source's vector count, identical
    // at every dim); per source: aa = Σ_d (Σq)², bb = Σ_d Σq² (which IS
    // Σ_vec‖v̂‖²). A second scan / second quantization pass buys nothing.
    graft.core.Tables.fanout(emb.sparkSession, emb)
      .select(col("vec_id"), col("embedding")).join(src, Seq("vec_id"))
      .select(col("source"), posexplode(qv))
      .groupBy("source", "pos")
      .agg(sum(col("col")).as("sd"), sum(col("col") * col("col")).as("sq"),
        count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(max(col("cnt")).as("n_vecs"),
        sum(col("sd") * col("sd")).as("aa"), sum(col("sq")).as("bb"))
      .select(col("source"), col("n_vecs"),
        // truncating integer division, sign-split so both engines agree
        when(col("n_vecs") < 2, lit(null).cast("long"))
          .when(col("aa") - col("bb") >= 0,
            expr("(aa - bb) div (n_vecs * (n_vecs - 1))"))
          .otherwise(-expr("(bb - aa) div (n_vecs * (n_vecs - 1))"))
          .as("mean_pair_cos_micro"))
      .orderBy("source")
  }

  /** nprobe values for the q162 ablation and the per-value recall
    * floors the gate asserts (set from measured fixture recalls with
    * margin; the spec pins the actual values). */
  val NprobeSweep: Seq[Int] = Seq(1, 4, 16)
  val NprobeRecallFloorE2: Map[Int, Long] = Map(1 -> 10L, 4 -> 30L, 16 -> 60L)

  /** q162 — IVF nprobe ABLATION GATE: the recall-vs-cost tuning table
    * every ANN deployment publishes (Jégou et al. §V.C; the q146/q147
    * ablation posture applied to the index) — top-k recall against the
    * exact q29 twin at nprobe ∈ [[NprobeSweep]] visited lists, ALL from
    * ONE assignment pass and ONE exact-twin computation: candidates
    * carry their list's per-probe rank, so "nprobe = n" is a filter,
    * never a recompute. Emitted per nprobe: probe counts (oracle-
    * recomputed facts) and three deterministic verdicts — recall above
    * the per-nprobe floor, recall monotone in nprobe (more lists can
    * only help — asserted in-plan across the sweep's branches), and
    * the candidate set bounded by the visited share of the spilled
    * index (the linear-cost claim). Centroids are engine-local
    * (capped-sample trained), so this is a q43-style verdict gate;
    * the measured recalls themselves are spec-pinned. */
  def q162NprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val emb = Tables.embeddings(spark, dir)
    val corpusN = emb.count()
    val centers = IvfIndex.centroids(spark, dir, NumLists)
    import spark.implicits._
    // every probe's centroid ranking once — nprobe=n is then lrank ≤ n
    val probeListRanks = VectorSearch.probeLists(emb, centers, NprobeSweep.max)
      .toDF("probe_id", "list_id", "lrank")
    val probes = VectorSearch.probes(emb).join(probeListRanks, Seq("probe_id"))
    // one scored candidate stream, each with its BEST list rank
    val cand = spilled(emb, centers).join(broadcast(probes), Seq("list_id"))
      .filter(VectorSearch.notSelf())
      .groupBy(col("probe_id"), col("vec_id").as("neighbor_id"))
      .agg(min(col("lrank")).as("lrank"),
        max(cosine(col("probe_vec"), col("embedding"))).as("cos_raw"))
    // the exact twin (q29 arithmetic) as a (probe, neighbor) top-k set
    val exact = VectorSearch.topK(VectorSearch.exactScan(
        Tables.fanoutIfHeavy(emb.sparkSession, emb), VectorSearch.probes(emb), cosRaw),
      col("cos_raw").desc).select("probe_id", "neighbor_id")
    // per-nprobe branch: filter by rank, re-rank, intersect with exact
    val branches = NprobeSweep.map { n =>
      val topkN = VectorSearch.topK(cand.filter(col("lrank") <= n), col("cos_raw").desc)
      val hits = topkN.join(exact, Seq("probe_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("sum_hits")).select(lit(n).as("nprobe"), col("sum_hits"))
      val maxCand = cand.filter(col("lrank") <= n)
        .groupBy("probe_id").agg(count(lit(1)).as("nc"))
        .agg(max(col("nc")).as("max_cand")).select(lit(n).as("nprobe"), col("max_cand"))
      hits.join(maxCand, Seq("nprobe"))
    }
    val sweep = branches.reduce(_ unionAll _)
    val wOrd = Window.orderBy("nprobe")
    val floorExpr = NprobeSweep.tail.foldLeft(
      when(col("nprobe") === NprobeSweep.head,
        col("sum_hits") * 100 >= lit(NprobeRecallFloorE2(NprobeSweep.head)) * NumProbes * TopK)) {
      (acc, n) =>
        acc.when(col("nprobe") === n,
          col("sum_hits") * 100 >= lit(NprobeRecallFloorE2(n)) * NumProbes * TopK)
    }
    sweep
      .withColumn("prev_hits", lag(col("sum_hits"), 1).over(wOrd))
      .select(
        col("nprobe").cast("long").as("nprobe"),
        lit(NumProbes.toLong).as("n_probes"),
        lit((NumProbes * TopK).toLong).as("n_exact_results"),
        floorExpr.as("recall_ok"),
        coalesce(col("sum_hits") >= col("prev_hits"), lit(true)).as("monotone_ok"),
        // visited share of the spilled index, with 4x imbalance slack
        (col("max_cand") <= lit(corpusN) * col("nprobe") * SpillAssign * 4 / NumLists + TopK)
          .as("scan_bounded_ok"))
      .orderBy("nprobe")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q162_nprobe_sweep" -> (q162NprobeSweep _),
    "q157_embedding_diversity" -> (q157EmbeddingDiversity _),
    "q156_hard_negatives" -> (q156HardNegatives _),
    "q82_centroid_drift"  -> (q82CentroidDrift _),
    "q137_sem_decontaminate" -> (q137SemDecontaminate _),
    "q69_sem_dedup"       -> (q69SemDedup _),
    "q29_cosine_topk"     -> (q29CosineTopK _),
    "q30_ann_lsh"         -> (q30AnnLsh _),
    "q31_cosine_near_dup" -> (q31CosineNearDup _),
    "q43_ann_ivf"         -> (q43AnnIvf _),
    "q209_filtered_ann"   -> (q209FilteredAnn _),
    "q49_near_dup_lsh"    -> (q49NearDupLsh _))

  val oracles: Map[String, String] = Map(
    // q162: the q43 gate convention swept — probe counts are corpus
    // facts, the three verdicts are deterministic in-plan booleans.
    "q162_nprobe_sweep" -> {
      val vals = NprobeSweep.map(n => s"($n)").mkString(", ")
      s"""WITH p AS (
         |  SELECT CAST(count(*) AS BIGINT) AS np FROM embeddings
         |  WHERE vec_id < $NumProbes)
         |SELECT CAST(t.n AS BIGINT) AS nprobe, np AS n_probes,
         |  np * $TopK AS n_exact_results,
         |  TRUE AS recall_ok, TRUE AS monotone_ok, TRUE AS scan_bounded_ok
         |FROM p, (VALUES $vals) t(n) ORDER BY nprobe""".stripMargin
    },
    // q157: the Σ-vector identity replayed — unit-quantize, two
    // integer aggregates, one sign-split truncating division.
    "q157_embedding_diversity" -> {
      val nrm = "sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))"
      s"""WITH q AS MATERIALIZED (
         |  SELECT d.source,
         |    list_transform(CAST(e.embedding AS DOUBLE[]),
         |      x -> ${KMeans.halfAwaySql(s"1000.0 * x / $nrm")}) AS q
         |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         |t AS MATERIALIZED (
         |  SELECT source, q,
         |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qq
         |  FROM q),
         |dims AS (
         |  SELECT source, unnest(range(len(q))) AS dim, unnest(q) AS v FROM t),
         |sd AS (SELECT source, dim, sum(v) AS sd FROM dims GROUP BY 1, 2),
         |a AS (SELECT source, CAST(sum(sd * sd) AS BIGINT) AS aa FROM sd GROUP BY source),
         |b AS (SELECT source, count(*) AS n_vecs, sum(qq) AS bb FROM t GROUP BY source)
         |SELECT b.source, b.n_vecs,
         |  CAST(CASE WHEN n_vecs < 2 THEN NULL
         |            WHEN aa - bb >= 0 THEN (aa - bb) // (n_vecs * (n_vecs - 1))
         |            ELSE -((bb - aa) // (n_vecs * (n_vecs - 1))) END AS BIGINT)
         |    AS mean_pair_cos_micro
         |FROM b JOIN a USING (source) ORDER BY source""".stripMargin
    },
    // q156: the q29 ranking replayed inside the hard-negative band.
    "q156_hard_negatives" ->
      s"""WITH probes AS (
         |  SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS pv
         |  FROM embeddings WHERE vec_id < $NumProbes),
         |scored AS (
         |  SELECT p.anchor_id, e.vec_id AS negative_id,
         |    list_dot_product(p.pv, CAST(e.embedding AS DOUBLE[])) /
         |      sqrt(list_dot_product(p.pv, p.pv) *
         |           list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS cos_raw
         |  FROM embeddings e, probes p WHERE e.vec_id <> p.anchor_id),
         |banded AS (
         |  SELECT anchor_id, negative_id, cos_raw,
         |    row_number() OVER (PARTITION BY anchor_id
         |                       ORDER BY cos_raw DESC, negative_id) AS rnk
         |  FROM scored WHERE cos_raw >= $HnLoCos AND cos_raw < $HnHiCos)
         |SELECT anchor_id, CAST(rnk AS BIGINT) AS rnk, negative_id,
         |  round(cos_raw, 6) AS cosine
         |FROM banded WHERE rnk <= $HnK
         |ORDER BY anchor_id, rnk""".stripMargin,
    // q137: exact replay — same cosine arithmetic as q31, max per train
    // vector, source-grain report.
    "q137_sem_decontaminate" ->
      s"""WITH ev AS (
         |  SELECT CAST(embedding AS DOUBLE[]) AS ee
         |  FROM embeddings WHERE vec_id % $EvalVecModulus = 0),
         |mx AS (
         |  SELECT t.vec_id,
         |    max(list_dot_product(CAST(t.embedding AS DOUBLE[]), ev.ee) /
         |      sqrt(list_dot_product(CAST(t.embedding AS DOUBLE[]), CAST(t.embedding AS DOUBLE[])) *
         |           list_dot_product(ev.ee, ev.ee))) AS mx
         |  FROM embeddings t, ev
         |  WHERE t.vec_id % $EvalVecModulus <> 0
         |  GROUP BY t.vec_id)
         |SELECT d.source, count(*) AS n_train,
         |  CAST(sum(CASE WHEN m.mx >= $NearDupThreshold THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contaminated,
         |  round(max(m.mx), 6) AS max_eval_cosine
         |FROM mx m JOIN documents d ON m.vec_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // q43: the verdict row is exactly reproducible — n_probes and
    // n_exact_results are corpus facts, recall_ok is the deterministic
    // engine-side gate (both searches are deterministic), asserted
    // literally. Counts assume |corpus| > NumProbes + TopK (every probe
    // has a full exact top-k) — true at every driver SF.
    "q43_ann_ivf" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(count(*) * $TopK AS BIGINT) AS n_exact_results,
         |  TRUE AS recall_ok
         |FROM embeddings WHERE vec_id < $NumProbes""".stripMargin,
    // q209: the q43 verdict convention under a metadata filter — probe
    // and allowed-store counts are corpus facts (n_exact_results caps
    // each probe's result list at k over the allowed slice, minus the
    // probe itself when it is allowed); the verdicts are deterministic
    // in-plan booleans.
    "q209_filtered_ann" ->
      s"""WITH a AS (
         |  SELECT count(*) AS na
         |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
         |  WHERE d.source = '$FilterSource'),
         |p AS (
         |  SELECT e.vec_id,
         |    CASE WHEN d.source = '$FilterSource' THEN 1 ELSE 0 END AS self_allowed
         |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
         |  WHERE e.vec_id < $NumProbes)
         |SELECT
         |  CAST(sum(CASE WHEN na - self_allowed > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_probes,
         |  CAST(sum(least($TopK, na - self_allowed)) AS BIGINT) AS n_exact_results,
         |  CAST(na AS BIGINT) AS n_allowed,
         |  TRUE AS recall_ok, TRUE AS filter_selective
         |FROM p, a GROUP BY na""".stripMargin,
    // q30: same verdict shape as q43 at the sign-LSH recall floor.
    "q30_ann_lsh" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(count(*) * $TopK AS BIGINT) AS n_exact_results,
         |  TRUE AS recall_ok
         |FROM embeddings WHERE vec_id < $NumProbes""".stripMargin,
    // q49: the exact near-dup pair count is a corpus fact the oracle
    // recomputes with the q31 arithmetic; both verdicts deterministic.
    "q49_near_dup_lsh" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
         |  TRUE AS precision_ok, TRUE AS recall_ok
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
         |    sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) *
         |         list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))) >= $NearDupThreshold""".stripMargin,
    "q29_cosine_topk" ->
      s"""WITH probes AS (
         |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
         |  FROM embeddings WHERE vec_id < $NumProbes),
         |scored AS (
         |  SELECT p.probe_id, e.vec_id AS neighbor_id,
         |    list_dot_product(p.pv, CAST(e.embedding AS DOUBLE[])) /
         |      sqrt(list_dot_product(p.pv, p.pv) *
         |           list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS cos_raw
         |  FROM embeddings e, probes p WHERE e.vec_id <> p.probe_id),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, cos_raw,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY cos_raw DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT probe_id, neighbor_id, round(cos_raw, 6) AS cosine
         |FROM ranked WHERE rnk <= $TopK
         |ORDER BY probe_id, cosine DESC, neighbor_id""".stripMargin,
    "q31_cosine_near_dup" ->
      s"""SELECT a.vec_id AS v1, b.vec_id AS v2,
         |  round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
         |    sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) *
         |         list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 6) AS cosine
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
         |    sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) *
         |         list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))) >= $NearDupThreshold
         |ORDER BY v1, v2""".stripMargin,
    // q82: DuckDB's parallel unnests zip positionally, so dim/value pair
    // exactly like Spark's posexplode; both engines average in double
    // and round the final drift at 6 (see the q82 scaladoc on wobble).
    "q82_centroid_drift" ->
      s"""WITH e AS (
         |  SELECT d.source,
         |    unnest(range(len(e.embedding))) AS dim,
         |    unnest(CAST(e.embedding AS DOUBLE[])) AS v,
         |    (e.vec_id % ${Corpus.RemovedInV2Mod} <> ${Corpus.RemovedInV2Rem}) AS in1,
         |    (e.vec_id % ${Corpus.DroppedFromV1Mod} <> ${Corpus.DroppedFromV1Rem}) AS in2
         |  FROM embeddings e
         |  JOIN documents d ON e.vec_id = d.doc_id),
         |c AS (
         |  SELECT source, dim,
         |    avg(CASE WHEN in1 THEN v END) AS a1,
         |    avg(CASE WHEN in2 THEN v END) AS a2
         |  FROM e GROUP BY source, dim)
         |SELECT source,
         |  round(1.0 - sum(a1 * a2) / sqrt(sum(a1 * a1) * sum(a2 * a2)), 6)
         |    AS centroid_drift
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // q69 gate: both counts are corpus facts recomputed with the q31
    // arithmetic; the precision/collapse verdicts are deterministic
    // (fixed-sample quantizer, exact cosine) booleans.
    "q69_sem_dedup" ->
      s"""WITH p AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
         |      sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) *
         |           list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))) >= $NearDupThreshold),
         |dv AS (SELECT DISTINCT v FROM (SELECT v1 AS v FROM p UNION ALL SELECT v2 FROM p))
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
         |  (SELECT CAST(count(*) AS BIGINT) FROM dv) AS n_exact_dup_vectors,
         |  TRUE AS drops_are_true_dups,
         |  TRUE AS same_cluster_pairs_collapsed""".stripMargin)
}
