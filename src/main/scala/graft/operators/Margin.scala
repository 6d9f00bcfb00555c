package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** MARGIN-BASED PAIR MINING (SURVEY §2.9 similarity family, beside
  * q156 hard negatives): mine aligned pairs across two halves of the
  * corpus with the RATIO-MARGIN criterion of large-scale bitext mining
  * (Artetxe & Schwenk 2019 "Margin-based Parallel Corpus Mining";
  * the CCMatrix/LASER pipeline): a candidate (x, y) is kept not for
  * its absolute cosine but for how much it stands out against each
  * side's other neighbors —
  * margin(x, y) = 2·cos(x, y) / (avgTopK(x→B) + avgTopK(y→A)).
  * Absolute-threshold mining drowns in hubness (dense regions pass
  * everything); the margin normalizes by local density, which is why
  * every production bitext miner uses it. Here the two "languages" are
  * the deterministic vec_id-parity halves of the embedding corpus —
  * the same split-fixture convention as q123's leakage probe.
  *
  * Scale regime: this is the EXACT miner — the all-pairs scores ARE
  * the mining criterion's ground truth, and the fixture-sized run
  * gates the arithmetic end-to-end (the q31/q156 exact-twin
  * convention; deliberately quadratic, excluded from the 10× sweep).
  * At 100 TB the candidate stream comes from the q43 IVF index run
  * from BOTH sides (each x scores only its probed lists, fwd/bwd
  * top-K sums are computed over those candidates) and this SAME
  * margin-and-rank tail runs over it — exactly the q29→q43
  * relationship, with the margin denominator then an approximation
  * whose recall the index's own q43/q162 gates bound.
  *
  * Parity: cosines are fixed to half-away integer micros BEFORE any
  * sum or ranking; top-K sums are integer; the margin is one
  * truncating integer division of positive integers — no float ever
  * crosses an ordering boundary in either engine.
  */
object Margin extends graft.QueryModule {

  /** Neighborhood size of the margin denominator (top-K cosine sums on
    * each side — K=4 is the LASER operating point's order). */
  val MarginK = 4

  /** Mining threshold in margin micros (1e6 = a pair exactly at its
    * neighborhood average). 310000 admits roughly the top decile of
    * per-anchor best margins on the fixtures. */
  val MarginTauMicro = 310000L

  /** q191 — mined pair report: each side-A anchor's best-margin side-B
    * partner, kept where the margin clears [[MarginTauMicro]]. */
  def q191MarginMining(spark: SparkSession, dir: String): DataFrame = {
    minedPairs(Tables.embeddings(spark, dir))
  }

  /** The miner over ANY (vec_id, embedding) frame — also the
    * `margin_pairs()` TVF body. */
  private[graft] def minedPairs(emb: DataFrame): DataFrame = {
    // fanout the STREAM side of the grid: the broadcast-NL cross join
    // parallelizes by stream-side partitions, and a one-row-group
    // embeddings fixture scans as ONE task — putting the entire n²
    // cosine kernel on one core no matter how wide the machine (the
    // [[graft.core.Tables.fanout]] rationale, applied to the quadratic
    // gate's only CPU-heavy stage)
    val a = graft.core.Tables.fanout(emb.sparkSession,
        emb.filter(col("vec_id") % 2 === 0))
      .select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    // the exact candidate grid (the documented quadratic gate regime);
    // only positive-cosine candidates participate — a negative cosine
    // is never a mining candidate and keeps the integer margin
    // arithmetic sign-free
    val pairs = a.crossJoin(b)
      .select(col("a_id"), col("b_id"),
        KMeans.halfAway(lit(1e6) *
          Similarity.cosine(col("va"), col("vb"))).as("cm"))
      .filter(col("cm") > 0)
    marginRankTail(pairs)
  }

  /** The margin-and-rank tail over ANY (a_id, b_id, cm) candidate
    * frame — shared verbatim by the exact miner ([[minedPairs]], whose
    * candidate set is the full grid) and the production miner
    * ([[ivfMinedPairs]], whose candidate set is the IVF-blocked
    * stream): top-[[MarginK]] neighborhood sums on each side, the
    * truncating-division margin, the best-per-anchor ranking and the
    * [[MarginTauMicro]] threshold. Over a blocked candidate set the
    * neighborhood sums are computed over the CANDIDATES (the
    * denominator is an approximation whose recall the q200 gate
    * bounds); over the full grid they are the exact LASER criterion. */
  private[graft] def marginRankTail(pairs: DataFrame): DataFrame = {
    // materialize the scored candidates ONCE (eager localCheckpoint,
    // the q175/q251 double-compute lesson): the frame feeds THREE
    // consumers — the forward window (partitioned by a_id), the
    // backward window (partitioned by b_id) and the margin join — and
    // the a_id/b_id partitionings can never share an exchange, so an
    // unmaterialized frame recomputes the cosine kernel per consumer
    // (for the exact miner that is the full quadratic grid, scored
    // twice). The checkpoint is candidate-grain: three int64s per
    // pair, no vectors.
    val p = graft.core.Materialize.once(pairs)
    val wf = Window.partitionBy("a_id").orderBy(col("cm").desc, col("b_id"))
    val fwd = p.withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= MarginK)
      .groupBy("a_id").agg(sum(col("cm")).as("fs"))
    val wb = Window.partitionBy("b_id").orderBy(col("cm").desc, col("a_id"))
    val bwd = p.withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= MarginK)
      .groupBy("b_id").agg(sum(col("cm")).as("bs"))
    val margined = p
      .join(fwd, Seq("a_id")).join(bwd, Seq("b_id"))
      .withColumn("margin_micro", expr("(2 * cm * 1000000) div (fs + bs)"))
    val best = Window.partitionBy("a_id")
      .orderBy(col("margin_micro").desc, col("b_id"))
    margined
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1 && col("margin_micro") >= MarginTauMicro)
      .select(col("a_id"), col("b_id"),
        col("cm").as("cos_micro"), col("margin_micro"))
      .orderBy("a_id")
  }

  /** Probed lists per anchor in the production miner. With the index
    * spilled [[Similarity.SpillAssign]]× and candidates drawn from
    * BOTH directions, the expected scan fraction per anchor is
    * ≈ 2 · probe · spill / nlist — 2·4·2/16 = 100%-capped at the
    * fixture floor (nlist = 16), shrinking to ~8% at nlist = 200
    * (50k vectors) because nlist scales with the corpus
    * ([[Similarity.semClustersFor]]). */
  val MarginProbeLists = 4

  /** Recall floor of the production miner vs the exact miner, gated by
    * q200 (measured 1.00 at sf0.01 and sf0.1 — the fixture nlist floor
    * scans most of the grid; the floor leaves room for the blocked
    * regime at production nlist sizing). */
  val MarginRecallFloor = 0.7

  /** Per-corpus-version MATERIALIZED assignment store: `(vec_id, rank)`
    * rows partitioned by `list_id`, where rank is the vector's position
    * in its nearest-centroid order, covering the widest fan-out either
    * miner direction needs (max(probe, spill)). A temp directory in the
    * [[graft.core.ArtifactStore]], built once per corpus version, so
    * candidate generation is two 2-column parquet scans whose rank filter
    * prunes at the row-group level instead of four full-corpus
    * nearest-centroid passes. [[NearestCentroids]]' sorted insert is
    * prefix-stable (slots 0..n−1 never depend on the slots above), so
    * `rank < n` over the maxN store reproduces the n-wide assignment
    * EXACTLY — the q200 gate's hash is unchanged by construction. */
  private[operators] def assignStore(spark: SparkSession, dir: String): String =
    graft.core.ArtifactStore.tempDir(spark, dir, Seq("embeddings.parquet"), "marginassign") { out =>
      val emb = Tables.embeddings(spark, dir)
      val k = Similarity.semClustersFor(emb.count())
      val centers = IvfIndex.centroids(spark, dir, k)
      val maxN = math.max(MarginProbeLists, Similarity.SpillAssign)
      emb.select(col("vec_id"),
          posexplode(graft.functions.VectorFunctions.nearest_centroids(
            col("embedding"), centers, maxN)))
        .toDF("vec_id", "rank", "list_id")
        .write.partitionBy("list_id").parquet(s"$out/store")
    } + "/store"

  /** Rank-filtered side of the store: ids only — the join fan-out
    * never carries vectors (see [[ivfMinedPairs]]). */
  private def storeSide(spark: SparkSession, dir: String,
      parity: Int, idCol: String, n: Int): DataFrame =
    spark.read.parquet(assignStore(spark, dir))
      .filter(col("vec_id") % 2 === parity && col("rank") < n)
      .select(col("vec_id").as(idCol), col("list_id"))

  /** The IVF-candidate PRODUCTION miner (the q29→q43 relationship):
    * the same [[marginRankTail]] run over the q43-style IVF candidate
    * stream generated from BOTH sides — every anchor probes its
    * [[MarginProbeLists]] nearest lists against the other side's
    * spill-assigned inverted lists, and symmetrically. Candidate pairs
    * therefore exist wherever EITHER endpoint's probe fan-out reaches
    * the other — the union keeps the forward and backward
    * neighborhoods the margin denominator needs. All four assignment
    * roles are rank-prefix reads of the ONE materialized
    * [[assignStore]] (built once per corpus version), so the per-run
    * candidate generation is pure id-pair joins over the partitioned
    * store.
    *
    * Scale shape: the quantizer trains once per corpus version on a
    * bounded sample ([[IvfIndex]]); nlist scales with the corpus
    * ([[Similarity.semClustersFor]]), so the candidate count is
    * ≈ 2·probe·spill·target-cluster-size · n — LINEAR in the corpus
    * where the exact grid is quadratic. Two list-keyed shuffle joins,
    * one pair-keyed dedup, then the shared rank tail.
    *
    * The list joins move ID PAIRS ONLY — a pair reaches the stream
    * through several lists and both directions (spill × probe dup
    * factor ~2-4×), so deduplicating ids FIRST and scoring each
    * unique pair ONCE beats carrying vectors through the fan-out and
    * computing the cosine per occurrence (measured 21 → ~14 s at the
    * 10× tree). The vector re-attach is two id-keyed joins sized by
    * the DEDUPED pair list — the same shape at 100 TB (re-key by
    * a_id, then by b_id), with Catalyst free to broadcast the vector
    * side while it fits. */
  private[graft] def ivfMinedPairs(spark: SparkSession, dir: String): DataFrame =
    marginRankTail(ivfScoredCandidates(spark, dir))

  /** The production miner's scored candidate stream — the frame
    * [[marginRankTail]] materializes. Split out so plan audits can
    * check the candidate-generation shape (id-only store scans)
    * directly: the tail's checkpoint hides this subplan from the
    * final query's executed plan. */
  private[graft] def ivfScoredCandidates(spark: SparkSession, dir: String): DataFrame =
    scoredCandidates(spark, dir, ivfCandidateIds(spark, dir))

  /** The deduped candidate id-pair stream (a_id, b_id) of the
    * production miner — the two rank-prefix store joins, both
    * directions, deduplicated. Split out so q200 can materialize it
    * ONCE for its two consumers (the scoring arm and the
    * candidates-pruned count — round 16: the count previously re-ran
    * the whole candidate generation a second time, a full extra pass
    * of two list-keyed joins + a union distinct per gate run). */
  private[graft] def ivfCandidateIds(spark: SparkSession, dir: String): DataFrame = {
    val fwd = storeSide(spark, dir, 0, "a_id", MarginProbeLists)
      .join(storeSide(spark, dir, 1, "b_id", Similarity.SpillAssign), Seq("list_id"))
    val bwd = storeSide(spark, dir, 0, "a_id", Similarity.SpillAssign)
      .join(storeSide(spark, dir, 1, "b_id", MarginProbeLists), Seq("list_id"))
    fwd.select("a_id", "b_id")
      .union(bwd.select("a_id", "b_id"))
      .distinct()
  }

  /** Vector re-attach + scoring over ANY deduped (a_id, b_id) id
    * frame (see [[ivfMinedPairs]]' scaladoc for why ids travel the
    * fan-out and vectors attach here, once per unique pair). */
  private[graft] def scoredCandidates(spark: SparkSession, dir: String,
      ids: DataFrame): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val a = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    ids.join(a, Seq("a_id")).join(b, Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        KMeans.halfAway(lit(1e6) *
          Similarity.cosine(col("va"), col("vb"))).as("cm"))
      .filter(col("cm") > 0)
  }

  /** q200 — the production-miner GATE (the q43 convention):
    * [[ivfMinedPairs]] measured against the exact miner IN-PLAN.
    * Emits the exact mined-pair count (a corpus fact the oracle
    * recomputes with the full q191 arithmetic) plus two deterministic
    * verdicts: recall of the exact mined set clears
    * [[MarginRecallFloor]], and the blocked candidate stream is a
    * strict subset of the exact grid (the pruning fact). Production
    * callers use [[ivfMinedPairs]] directly. */
  def q200MarginIvf(spark: SparkSession, dir: String): DataFrame = {
    // the two miners are INDEPENDENT jobs until the recall join — and
    // each materializes its scored candidates ([[marginRankTail]]'s
    // eager checkpoint), so building them from one driver thread
    // serializes two materialization jobs back to back. Overlap them
    // from driver threads (the standard concurrent-jobs idiom: the
    // scheduler runs both, each back-filling the other's stage tails).
    // [[graft.core.JobOverlap]], not the global EC: the dedicated pool
    // carries the submitting thread's job group / FAIR pool so these
    // sub-jobs stay cancellable with their query (round-15 advisor).
    // [[assignStore]] builds once per key, so the prod arm racing the
    // exact arm is safe.
    import graft.core.JobOverlap
    val exactF = JobOverlap.submit(spark.sparkContext)(
      minedPairs(Tables.embeddings(spark, dir)).select("a_id", "b_id"))
    // the candidate id set materialized ONCE (round 16): it feeds both
    // the prod arm's scoring and the candidates-pruned count, which
    // previously re-ran the whole candidate generation; candidate-grain
    // (two int64s per pair). Built on this thread while the exact arm
    // runs, then the prod arm forks off the materialized frame.
    val candIds = graft.core.Materialize.once(ivfCandidateIds(spark, dir))
    val prodF = JobOverlap.submit(spark.sparkContext)(
      marginRankTail(scoredCandidates(spark, dir, candIds))
        .select(col("a_id"), col("b_id"), lit(1L).as("hit")))
    val emb = Tables.embeddings(spark, dir)
    // ONE parity-count job instead of two driver count() actions
    val cnts = emb.agg(
      sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)),
      sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L))).head()
    val grid = cnts.getLong(0) * cnts.getLong(1)
    val exact = JobOverlap.await(exactF)
    val prod = JobOverlap.await(prodF)
    val recallAgg = exact.join(prod, Seq("a_id", "b_id"), "left")
      .agg(
        count(lit(1)).as("n_exact_pairs"),
        ((sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)))
          >= MarginRecallFloor).as("recall_ok"))
    recallAgg.crossJoin(broadcast(candIds.agg(count(lit(1)).as("n_cand"))))
      .select(col("n_exact_pairs"), col("recall_ok"),
        (col("n_cand") < lit(grid)).as("candidates_pruned"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q191_margin_mining" -> (q191MarginMining _),
    "q200_margin_ivf"    -> (q200MarginIvf _))

  /** Full value oracle: the whole miner replayed — micro cosines, both
    * top-K neighborhood sums, the truncating-division margin, the
    * best-per-anchor ranking and the threshold. */
  val oracles: Map[String, String] = Map(
    "q191_margin_mining" -> {
      val cos = "1000000.0 * list_dot_product(a.ve, b.ve) / " +
        "sqrt(list_dot_product(a.ve, a.ve) * list_dot_product(b.ve, b.ve))"
      s"""WITH v AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         |p AS MATERIALIZED (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${KMeans.halfAwaySql(cos)} AS cm
         |  FROM v a, v b
         |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
         |pp AS MATERIALIZED (SELECT * FROM p WHERE cm > 0),
         |fwd AS (
         |  SELECT a_id, sum(cm) AS fs FROM (
         |    SELECT a_id, cm, row_number() OVER (
         |      PARTITION BY a_id ORDER BY cm DESC, b_id) AS rn FROM pp)
         |  WHERE rn <= $MarginK GROUP BY a_id),
         |bwd AS (
         |  SELECT b_id, sum(cm) AS bs FROM (
         |    SELECT b_id, cm, row_number() OVER (
         |      PARTITION BY b_id ORDER BY cm DESC, a_id) AS rn FROM pp)
         |  WHERE rn <= $MarginK GROUP BY b_id),
         |m AS (
         |  SELECT pp.a_id, pp.b_id, pp.cm,
         |    (2 * pp.cm * 1000000) // (fs + bs) AS margin_micro,
         |    row_number() OVER (PARTITION BY pp.a_id
         |      ORDER BY (2 * pp.cm * 1000000) // (fs + bs) DESC, pp.b_id) AS rn
         |  FROM pp JOIN fwd USING (a_id) JOIN bwd USING (b_id))
         |SELECT a_id, b_id, CAST(cm AS BIGINT) AS cos_micro,
         |  CAST(margin_micro AS BIGINT) AS margin_micro
         |FROM m WHERE rn = 1 AND margin_micro >= $MarginTauMicro
         |ORDER BY a_id""".stripMargin
    },
    // q200: the q43 gate convention — the exact mined-pair count is a
    // corpus fact the oracle recomputes with the full q191 arithmetic;
    // the recall and pruning verdicts are deterministic in-plan
    // booleans.
    "q200_margin_ivf" -> {
      val cos = "1000000.0 * list_dot_product(a.ve, b.ve) / " +
        "sqrt(list_dot_product(a.ve, a.ve) * list_dot_product(b.ve, b.ve))"
      s"""WITH v AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         |p AS MATERIALIZED (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${KMeans.halfAwaySql(cos)} AS cm
         |  FROM v a, v b
         |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
         |pp AS MATERIALIZED (SELECT * FROM p WHERE cm > 0),
         |fwd AS (
         |  SELECT a_id, sum(cm) AS fs FROM (
         |    SELECT a_id, cm, row_number() OVER (
         |      PARTITION BY a_id ORDER BY cm DESC, b_id) AS rn FROM pp)
         |  WHERE rn <= $MarginK GROUP BY a_id),
         |bwd AS (
         |  SELECT b_id, sum(cm) AS bs FROM (
         |    SELECT b_id, cm, row_number() OVER (
         |      PARTITION BY b_id ORDER BY cm DESC, a_id) AS rn FROM pp)
         |  WHERE rn <= $MarginK GROUP BY b_id),
         |m AS (
         |  SELECT pp.a_id,
         |    (2 * pp.cm * 1000000) // (fs + bs) AS margin_micro,
         |    row_number() OVER (PARTITION BY pp.a_id
         |      ORDER BY (2 * pp.cm * 1000000) // (fs + bs) DESC, pp.b_id) AS rn
         |  FROM pp JOIN fwd USING (a_id) JOIN bwd USING (b_id))
         |SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
         |  TRUE AS recall_ok, TRUE AS candidates_pruned
         |FROM m WHERE rn = 1 AND margin_micro >= $MarginTauMicro""".stripMargin
    })
}
