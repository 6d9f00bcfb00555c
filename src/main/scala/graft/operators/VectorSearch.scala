package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The search convention of the vector-search family. Every search is
  * probe set → candidates → score → top-k per probe, and the methods
  * differ only in how they generate candidates (exact scan, sign-LSH
  * buckets, IVF lists, PQ-ADC shortlist, SQ reconstruction — the split
  * "Continuously Adaptive Similarity Search", SIGMOD 2020, makes). This
  * object owns the rest, so every method shares one contract:
  *
  *  - probes: the store rows with `vec_id < NumProbes` (ids are dense
  *    from 0 in every fixture; the oracles count the same predicate);
  *  - self-exclusion: a probe is never its own neighbour;
  *  - ranking: `row_number` per probe by score, ties to the lower
  *    neighbour id, so every ranking is total and deterministic;
  *  - k: at most k rows per probe; with no k the full ranking is kept.
  *
  * Nothing here decides an exchange: the caller passes the store it
  * wants scanned (fanned out with `Tables.fanoutIfHeavy` or not). */
object VectorSearch {

  /** Probe-set size and result size of every search in the family. */
  val NumProbes = 8
  val TopK = 5

  private def isProbe: Column = col("vec_id") < NumProbes

  /** `(probe, probe_vec, extra...)` — the probe set of a `(vec_id,
    * embedding)` store, to broadcast against the candidates. */
  def probes(emb: DataFrame, probe: String = "probe_id",
      extra: Seq[Column] = Nil): DataFrame =
    emb.filter(isProbe)
      .select(col("vec_id").as(probe) +: col("embedding").as("probe_vec") +: extra: _*)

  /** The probe rows of a micro-quantized `(vec_id, em)` frame, collected
    * for the quantized paths' driver-side lookup tables. */
  def intProbes(q: DataFrame): Seq[(Long, Array[Long])] =
    q.filter(isProbe).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq

  /** Collected integer probes as a broadcast `(probe_id, pv)` frame. */
  def intProbeFrame(spark: SparkSession, rows: Seq[(Long, Array[Long])]): DataFrame = {
    import spark.implicits._
    broadcast(rows.toDF("probe_id", "pv"))
  }

  /** Self-exclusion: the candidate row is not the probe itself. */
  def notSelf(probe: String = "probe_id"): Column = col("vec_id") =!= col(probe)

  /** Candidates → `(probe, neighbour, scores...)`: self-pairs dropped and
    * the store's `vec_id` named as the neighbour. `pairs` is any join of
    * store rows with probe rows — the method's candidate generator. */
  def scored(pairs: DataFrame, scores: Seq[Column], probe: String = "probe_id",
      neighbor: String = "neighbor_id"): DataFrame =
    pairs.filter(notSelf(probe))
      .select(col(probe) +: col("vec_id").as(neighbor) +: scores: _*)

  /** The exact candidate generator: every row of `store` against every
    * broadcast probe. */
  def exactScan(store: DataFrame, probes: DataFrame, scores: Seq[Column],
      probe: String = "probe_id", neighbor: String = "neighbor_id"): DataFrame =
    scored(store.crossJoin(broadcast(probes)), scores, probe, neighbor)

  /** The rank tail: `rank` = `row_number` per probe ordered by `score`,
    * then by the neighbour id; rows past `k` are dropped, and `k = None`
    * keeps the full ranking. */
  def topK(df: DataFrame, score: Column, k: Option[Int] = Some(TopK),
      probe: String = "probe_id", neighbor: String = "neighbor_id",
      rank: String = "rnk"): DataFrame = {
    val ranked = df.withColumn(rank, row_number().over(
      Window.partitionBy(probe).orderBy(score, col(neighbor))))
    k.fold(ranked)(n => ranked.filter(col(rank) <= n))
  }

  /** Exact int64 squared L2 between two `array<long>` columns, folded
    * left to right (the order the oracle's `list_sum` replays). */
  def l2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)

  /** [[l2]] over the first `d` dimensions. */
  def l2Prefix(a: Column, b: Column, d: Int): Column = l2(slice(a, 1, d), slice(b, 1, d))

  /** Each probe's `nprobe` nearest `centers` by squared L2, as
    * `(probe_id, list_id, lrank)` with the 1-based list rank (ties to the
    * lower list id) — driver-side over the collected probe vectors, so
    * the in-memory index, the partitioned layout and the nprobe sweep
    * all probe the same lists. */
  def probeLists(emb: DataFrame, centers: Array[Array[Double]],
      nprobe: Int): Seq[(Long, Int, Int)] = {
    val rows = emb.filter(isProbe).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def dist2(a: Array[Float], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - c(i); s += d * d; i += 1 }
      s
    }
    rows.toSeq.flatMap { case (pid, vec) =>
      centers.zipWithIndex
        .map { case (c, li) => (li, dist2(vec, c)) }
        .sortBy(_._2).take(nprobe)
        .zipWithIndex.map { case ((li, _), r) => (pid, li, r + 1) }
    }
  }
}
