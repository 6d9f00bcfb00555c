package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Embedding quantization audit: per-vector symmetric int8 quantization
  * (the storage format that cuts a 100 TB float32 embedding store to a
  * quarter) and the reconstruction error it would cost — the
  * measure-before-you-commit table a pipeline produces before flipping
  * its vector store to int8.
  *
  * Numeric contract (oracle parity): the quantized code is
  * `clamp(floor(x/scale + 0.5), ±127)` — floor(+0.5) instead of round()
  * because the two engines' round() differ on halves while floor is
  * IEEE-identical — and every error term is converted to integer
  * nano-units (`floor(err·1e9 + 0.5)`) BEFORE any aggregation, so all
  * sums are order-free BIGINT arithmetic (the BM25 micro-scoring trick).
  * The only doubles that survive to the output are single divisions /
  * sqrts of exact integers — bit-identical in both engines.
  */
object Quantize extends graft.QueryModule {

  /** Per-vector int8 quantization error columns over an `embedding`
    * array<float> column: `dim`, `scale`, and `sum_e2` (Σ per-element
    * squared reconstruction error in nano²-units). Map-only — one
    * projection, no shuffle, no UDF: `transform`/`aggregate` higher-order
    * functions keep the whole computation in Catalyst. */
  def int8Error(df: DataFrame, emb: Column): DataFrame = {
    val scale = greatest(
      array_max(transform(emb, e => abs(e))).cast("double") / lit(127.0),
      lit(1e-12))
    val withScale = df.withColumn("dim", size(emb).cast("long"))
      .withColumn("scale", scale)
    val e2 = transform(emb, e => {
      val x = e.cast("double")
      val q = least(greatest(floor(x / col("scale") + lit(0.5)), lit(-127.0)),
        lit(127.0))
      val micro = floor((x - q * col("scale")) * lit(1e9) + lit(0.5)).cast("long")
      micro * micro
    })
    withScale.withColumn("sum_e2",
      aggregate(e2, lit(0L), (acc, v) => acc + v))
  }

  /** q88 — int8 reconstruction-error report per label: vector/element
    * counts, the exact integer error mass, the worst per-label scale
    * (max is order-free, unlike avg-of-double), and the RMS error in
    * original units. One embeddings scan, one tiny label-grain shuffle. */
  def q88QuantizeError(spark: SparkSession, dir: String): DataFrame = {
    int8Error(Tables.embeddings(spark, dir), col("embedding"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("dim")).as("n_elems"),
        sum(col("sum_e2")).as("total_e2"),
        round(max(col("scale")), 9).as("max_scale"))
      .select(col("label"), col("n_vecs"), col("n_elems"), col("total_e2"),
        col("max_scale"),
        round(sqrt(col("total_e2").cast("double") / col("n_elems")) / lit(1e9), 9)
          .as("rms_err"))
      .orderBy("label")
  }

  /** q95 — embedding NORM audit per label: zero-vector and unit-norm
    * counts plus exact min/max/mean of ‖x‖² — the vector-QA table a
    * similarity pipeline checks before trusting cosine (a zero vector
    * NaNs every cosine it touches; wild norms mean a broken encoder).
    * ‖x‖² is a left-fold in double (the [[graft.functions]] cosine
    * contract) converted to integer nano²-units per vector BEFORE any
    * aggregation — min/max/sum over BIGINT are order-free, so the gate
    * is exact. Map-only + one label-grain shuffle. */
  def q95NormAudit(spark: SparkSession, dir: String): DataFrame = {
    val emb = col("embedding")
    val norm2 = aggregate(emb, lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val micro = floor(norm2 * lit(1e9) + lit(0.5)).cast("long")
    Tables.embeddings(spark, dir)
      .select(col("label"), micro.as("n2"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("n2") === 0L, 1L).otherwise(0L)).as("n_zero"),
        // "unit" to within 1e-3 of ‖x‖²=1 in nano² units
        sum(when(abs(col("n2") - lit(1000000000L)) <= lit(1000000L), 1L)
          .otherwise(0L)).as("n_unit"),
        min(col("n2")).as("min_norm2_nano"),
        max(col("n2")).as("max_norm2_nano"),
        sum(col("n2")).as("sum_norm2_nano"))
      .select(col("label"), col("n_vecs"), col("n_zero"), col("n_unit"),
        col("min_norm2_nano"), col("max_norm2_nano"),
        (floor((col("sum_norm2_nano") * 2 + col("n_vecs")) /
          (col("n_vecs") * 2)) / lit(1e9)).as("avg_norm2"))
      .orderBy("label")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q88_quantize_error" -> (q88QuantizeError _),
    "q95_norm_audit" -> (q95NormAudit _))

  val oracles: Map[String, String] = Map(
    // norm² is an ORDERED left fold over doubles — list_reduce, not
    // list_sum, so the oracle replays Spark's aggregate() exactly
    "q95_norm_audit" ->
      """WITH v AS (
        |  SELECT label,
        |    CAST(floor(list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (acc, e) -> acc + e) * 1e9 + 0.5) AS BIGINT) AS n2
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(sum(CASE WHEN abs(n2 - 1000000000) <= 1000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unit,
        |  min(n2) AS min_norm2_nano, max(n2) AS max_norm2_nano,
        |  floor((CAST(sum(n2) AS BIGINT) * 2 + count(*)) / (count(*) * 2))
        |    / 1e9 AS avg_norm2
        |FROM v GROUP BY label ORDER BY label""".stripMargin,
    "q88_quantize_error" ->
      """WITH q AS (
        |  SELECT label, CAST(len(embedding) AS BIGINT) AS dim,
        |    greatest(CAST(list_max(list_transform(embedding, x -> abs(x)))
        |               AS DOUBLE) / 127.0, 1e-12) AS scale,
        |    embedding
        |  FROM embeddings),
        |e AS (
        |  SELECT label, dim, scale,
        |    CAST(list_sum(list_transform(
        |      list_transform(embedding, x ->
        |        CAST(floor((CAST(x AS DOUBLE)
        |          - least(greatest(floor(CAST(x AS DOUBLE) / scale + 0.5),
        |                           -127.0), 127.0) * scale) * 1e9 + 0.5)
        |          AS BIGINT)),
        |      m -> m * m)) AS BIGINT) AS sum_e2
        |  FROM q)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(dim) AS BIGINT) AS n_elems,
        |  CAST(sum(sum_e2) AS BIGINT) AS total_e2,
        |  round(max(scale), 9) AS max_scale,
        |  round(sqrt(CAST(sum(sum_e2) AS DOUBLE) / sum(dim)) / 1e9, 9) AS rms_err
        |FROM e GROUP BY label ORDER BY label""".stripMargin)
}
