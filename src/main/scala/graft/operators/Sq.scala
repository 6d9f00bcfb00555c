package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import VectorSearch.{NumProbes, TopK}

/** SCALAR-QUANTIZED (SQ8) similarity search — the third leg of the
  * quantized-retrieval family: q88 measures what int8 storage costs in
  * reconstruction error, q140/q143 search 8-byte PQ codes, and this
  * query SEARCHES the int8-coded store directly (Faiss
  * `IndexScalarQuantizer` posture): each database vector is held as 64
  * int8 codes + one per-vector scale, the query stays full-precision,
  * and distances are computed asymmetrically against the de-quantized
  * codes. SQ8 is the operating point deployments pick when PQ's 64×
  * compression is too lossy — 4× compression, near-exact recall — so
  * the engine should offer both and let the recall/byte trade be
  * measured, which is exactly what this gate emits.
  *
  * Numeric contract (full-value oracle, stronger than the q140 gate):
  * SQ has NO trained codebook — quantization is closed-form — so the
  * oracle recomputes the ENTIRE search, per-probe recall included,
  * bit-for-bit. All arithmetic is int64: embeddings enter as
  * [[KMeans.quantized]] micros; `scale = max(|em_i|, 1)`;
  * `code_i = trunc(em_i·127 / scale)` and
  * `recon_i = trunc(code_i·scale / 127)` both use TRUNCATION TOWARD
  * ZERO — Spark-side as the exact identity `(a − a % b) / b` (the
  * numerator is an exact multiple of b, so the double division is
  * exact), DuckDB-side as the sign-split `//` idiom ([[KMeans]]
  * convention) — and every distance is an exact Σ(pv−recon)² in int64.
  *
  * Scale shape: codes+recon are MAP-ONLY per vector (no training pass,
  * no codebook join — SQ's operational advantage over PQ); the probe
  * set is a fixed tiny collect broadcast as literals (q29/q140
  * convention); the only shuffle is the (probe, vec)-grain top-k
  * window, identical to the exact baseline's. At 100 TB the asymmetric
  * scan reads 1/4 the bytes of the float store — that byte ratio, not
  * the op count, is what SQ buys. */
object Sq extends graft.QueryModule {

  /** Truncate-toward-zero integer division of `a` by positive `b`:
    * `(a − a % b) / b`. Spark's `%` keeps the dividend's sign, so the
    * numerator is the exact multiple of `b` nearest zero; both operands
    * stay far under 2⁵³, so the double division is exact. */
  private def tdiv(a: Column, b: Column): Column =
    ((a - a % b) / b).cast("long")

  /** (vec_id, em, recon): the int8 code's de-quantized value per
    * element — map-only over the micro-quantized store. */
  private[graft] def reconstructed(spark: SparkSession, dir: String): DataFrame =
    reconstructedOf(KMeans.quantized(spark, dir))

  /** [[reconstructed]] over ANY micro-quantized (vec_id, em) frame. */
  private[graft] def reconstructedOf(q: DataFrame): DataFrame = {
    val em = col("em")
    val scale = greatest(array_max(transform(em, e => abs(e))), lit(1L))
    q.withColumn("sc", scale)
      .withColumn("recon",
        transform(em, e => tdiv(tdiv(e * 127, col("sc")) * col("sc"), lit(127L))))
  }

  /** Exact int-L2 top-[[TopK]] `(probe_id, neighbor_id, d)` of `q`'s
    * probes over the `vec` column of `store`: `q`'s own `em` (the exact
    * twin, the recall reference) or [[reconstructedOf]]'s `recon` (the
    * PRODUCTION SQ8 search — full-precision probe vs the int8-coded
    * database side). */
  private[graft] def l2TopKOf(spark: SparkSession, q: DataFrame, store: DataFrame,
      vec: String): DataFrame = {
    val pDf = VectorSearch.intProbeFrame(spark, VectorSearch.intProbes(q))
    VectorSearch.topK(
      VectorSearch.exactScan(store, pDf, Seq(VectorSearch.l2(col(vec), col("pv")).as("d"))),
      col("d")).select(col("probe_id"), col("neighbor_id"), col("d"))
  }

  /** q173 — the SQ8 SEARCH GATE, per probe: exact-result count, SQ-hit
    * count, integer recall, and the summed asymmetric distance of the
    * SQ result set (the error-mass fact q88 predicts). Everything in
    * the row is recomputed verbatim by the oracle. */
  def q173SqAdc(spark: SparkSession, dir: String): DataFrame = {
    sqGateOver(spark, KMeans.quantized(spark, dir))
  }

  /** The gate over ANY quantized (vec_id, em) frame — also the
    * `sq_search()` TVF body. */
  private[graft] def sqGateOver(spark: SparkSession, q: DataFrame): DataFrame = {
    val sq = l2TopKOf(spark, q, reconstructedOf(q), "recon")
    val exact = l2TopKOf(spark, q, q, "em")
    val hits = sq.select(col("probe_id"), col("neighbor_id"))
      .join(exact, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
    sq.groupBy("probe_id")
      .agg(count(lit(1)).as("n_sq"), sum(col("d")).as("sq_err"))
      .join(hits, Seq("probe_id"), "left_outer")
      .select(
        col("probe_id"),
        lit(TopK.toLong).as("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"coalesce(n_hits, 0) * 1000000 div $TopK").as("recall_micro"),
        col("sq_err"))
      .orderBy("probe_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q173_sq_adc" -> (q173SqAdc _))

  /** Full value oracle: quantize, reconstruct, search and score in SQL
    * with the identical integer arithmetic. */
  val oracles: Map[String, String] = Map(
    "q173_sq_adc" -> {
      val dim = 64
      // truncation toward zero of a/b (b > 0) as sign-split floor-div
      def tdivSql(a: String, b: String) =
        s"(CASE WHEN ($a) >= 0 THEN ($a) // ($b) ELSE -((-($a)) // ($b)) END)"
      val code = tdivSql("x * 127", "sc")
      val recon = tdivSql(s"$code * sc", "127")
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> ${KMeans.halfAwaySql("CAST(x AS DOUBLE) * 1000000")}) AS em
         |  FROM embeddings),
         |r AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(em, x -> CAST($recon AS BIGINT)) AS recon
         |  FROM (SELECT vec_id, em,
         |          greatest(list_max(list_transform(em, x -> abs(x))), 1) AS sc
         |        FROM e)),
         |p AS (SELECT vec_id AS probe_id, em AS pv FROM e WHERE vec_id < $NumProbes),
         |ex AS (
         |  SELECT probe_id, vec_id,
         |    list_sum(list_transform(range(1, ${dim + 1}),
         |      i -> (pv[i] - em[i]) * (pv[i] - em[i]))) AS d
         |  FROM p, e WHERE e.vec_id <> p.probe_id),
         |ext AS MATERIALIZED (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY d, vec_id) AS rk
         |    FROM ex) WHERE rk <= $TopK),
         |sq AS (
         |  SELECT probe_id, vec_id,
         |    list_sum(list_transform(range(1, ${dim + 1}),
         |      i -> (pv[i] - recon[i]) * (pv[i] - recon[i]))) AS d
         |  FROM p, r WHERE r.vec_id <> p.probe_id),
         |sqt AS MATERIALIZED (
         |  SELECT probe_id, vec_id, d FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY d, vec_id) AS rk
         |    FROM sq) WHERE rk <= $TopK),
         |h AS (
         |  SELECT sqt.probe_id AS hp, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM sqt JOIN ext ON sqt.probe_id = ext.probe_id AND sqt.vec_id = ext.vec_id
         |  GROUP BY 1)
         |SELECT sqt.probe_id, CAST($TopK AS BIGINT) AS n_exact,
         |  coalesce(h.n_hits, 0) AS n_hits,
         |  coalesce(h.n_hits, 0) * 1000000 // $TopK AS recall_micro,
         |  CAST(sum(sqt.d) AS BIGINT) AS sq_err
         |FROM sqt LEFT JOIN h ON h.hp = sqt.probe_id
         |GROUP BY 1, 3, 4
         |ORDER BY probe_id""".stripMargin
    })
}
