package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}

/** JOHNSON–LINDENSTRAUSS RANDOM PROJECTION (SURVEY §2.9 similarity
  * family): data-INDEPENDENT dimensionality reduction with a ±1 sign
  * matrix (Achlioptas 2001 "Database-friendly random projections") —
  * the zero-pass complement of the trained reducers (q133 PCA needs a
  * covariance pass, q174 Matryoshka needs a trained embedder, q136 PQ
  * needs a codebook). At 100 TB the training pass is the expensive
  * part; a JL sketch needs NONE: the projection matrix is a pure
  * function of (row index, output dim), generated identically on every
  * executor from integer arithmetic — nothing is broadcast, nothing is
  * trained, and the map is embarrassingly parallel. The price is a
  * distortion bound instead of optimality, and q217 reports exactly
  * that price: per-pair distance ratios against the JL expectation
  * (E‖Px‖² = k·‖x‖² for ±1 signs, so pairwise distances scale by √k).
  *
  * Parity: the sign is the 16th bit of one LCG step of the flattened
  * (dim·D + i) index — 64-bit integer arithmetic both engines compute
  * exactly (the LOW LCG bits alternate deterministically and would be
  * a useless "sign"; bit 16 of a mod-2³¹ LCG passes the sign-balance
  * spec). Projections fold left-to-right in double (the q29/q31
  * `list_dot_product` contract) and land as ONE micro rounding; the
  * distance ratio divides two already-rounded micros — every ordering
  * and every emitted value is integer-derived, so the DuckDB oracle
  * replays the ENTIRE operator value-for-value (stronger than the
  * q30/q49 verdict gates: nothing here is engine-local). */
object RandomProjection extends graft.QueryModule {

  /** Output dimensionality of the sketch. */
  val JlDim = 16

  /** Consecutive-id pairs audited for distortion: (v, v+1) for even
    * v < [[JlPairSpan]] — deterministic, corpus-independent. */
  val JlPairSpan = 400L

  /** LCG sign for flattened index k = j·D + i: bit 16 of
    * (1103515245·k + 12345) mod 2³¹ — +1 on even, −1 on odd. */
  private def signExpr(k: Column): Column =
    when(shiftright((lit(1103515245L) * k + lit(12345L)) % lit(2147483648L), 16)
      % 2 === 0, lit(1.0d))
      .otherwise(lit(-1.0d))

  /** The k-dim projection of a float-array column as array<double>:
    * proj[j] = Σᵢ emb[i]·sign(j·D + i), left-to-right. */
  private[graft] def jlProject(emb: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), j =>
      aggregate(sequence(lit(0), size(emb) - 1), lit(0.0d),
        (acc, i) => acc +
          element_at(emb, i + 1).cast("double") * signExpr(j * size(emb) + i)))

  /** q217 — per-pair distortion audit of the JL sketch: original vs
    * projected squared distance (micros) and the ratio against the √k
    * expectation, over the deterministic consecutive-id pair set. */
  def q217JlProjection(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    distortionOver(Tables.fanout(spark, Tables.embeddings(spark, dir)))
  }

  /** The audit over ANY (vec_id, embedding) frame (also the
    * `jl_distortion()` TVF body). */
  private[graft] def distortionOver(emb: DataFrame): DataFrame = {
    val proj = emb
      .filter(col("vec_id") < JlPairSpan)
      .select(col("vec_id"), col("embedding"),
        jlProject(col("embedding"), JlDim).as("p"))
    val a = proj.select(col("vec_id").as("v1"), col("embedding").as("e1"),
      col("p").as("p1"))
    val b = proj.select(col("vec_id").as("v2"), col("embedding").as("e2"),
      col("p").as("p2"))
    // squared distances, left-to-right folds, ONE micro rounding each
    def d2(x: Column, y: Column, n: Column): Column =
      aggregate(sequence(lit(0), n - 1), lit(0.0d), (acc, i) => {
        val diff = element_at(x, i + 1).cast("double") -
          element_at(y, i + 1).cast("double")
        acc + diff * diff
      })
    a.join(b, col("v2") === col("v1") + 1 && col("v1") % 2 === 0)
      .select(col("v1"), col("v2"),
        floor(d2(col("e1"), col("e2"), size(col("e1"))) * lit(1e6) + lit(0.5))
          .cast("long").as("d2_orig_micro"),
        floor(d2(col("p1"), col("p2"), lit(JlDim)) * lit(1e6) + lit(0.5))
          .cast("long").as("d2_proj_micro"))
      // ratio of the two micros against the k× expectation, integer
      // division over already-integer inputs (guarded: identical
      // vectors give 0/0 → ratio 0 on both engines)
      .withColumn("ratio_micro",
        expr(s"(1000000 * d2_proj_micro) div greatest($JlDim * d2_orig_micro, 1)"))
      .orderBy("v1")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q217_jl_distortion" -> (q217JlProjection _))

  /** Full value oracle: the sign matrix regenerated from the same LCG
    * bit, projections via `list_dot_product` (the same left fold), the
    * same single micro roundings and integer ratio. */
  val oracles: Map[String, String] = Map(
    "q217_jl_distortion" -> {
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, len(embedding) AS d
         |  FROM embeddings WHERE vec_id < $JlPairSpan),
         |p AS (
         |  SELECT vec_id, v,
         |    list_transform(range(0, $JlDim), j ->
         |      list_dot_product(v, list_transform(range(0, d), i ->
         |        CASE WHEN ((1103515245 * (j * d + i) + 12345) % 2147483648)
         |               // 65536 % 2 = 0
         |             THEN 1.0 ELSE -1.0 END))) AS pr
         |  FROM e),
         |pairs AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2,
         |    CAST(floor(list_dot_product(
         |      list_transform(range(1, len(a.v) + 1), i -> a.v[i] - b.v[i]),
         |      list_transform(range(1, len(a.v) + 1), i -> a.v[i] - b.v[i]))
         |      * 1e6 + 0.5) AS BIGINT) AS d2_orig_micro,
         |    CAST(floor(list_dot_product(
         |      list_transform(range(1, $JlDim + 1), i -> a.pr[i] - b.pr[i]),
         |      list_transform(range(1, $JlDim + 1), i -> a.pr[i] - b.pr[i]))
         |      * 1e6 + 0.5) AS BIGINT) AS d2_proj_micro
         |  FROM p a JOIN p b ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0)
         |SELECT v1, v2, d2_orig_micro, d2_proj_micro,
         |  CAST((1000000 * d2_proj_micro)
         |    // greatest($JlDim * d2_orig_micro, 1) AS BIGINT) AS ratio_micro
         |FROM pairs ORDER BY v1""".stripMargin
    })
}
