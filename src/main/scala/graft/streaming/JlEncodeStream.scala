package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.operators.RandomProjection

/** STREAMING JL encode: the q217 ±1 random projection applied to
  * embeddings AS THEY ARRIVE — the purest "encode at write time" in the
  * engine, because unlike the PQ twin (q141: batch-trained codebook
  * broadcast to the stream) there is NOTHING to train or broadcast at
  * all: the sign matrix is a pure integer function of (index, dim)
  * regenerated inside the row expression, so the ingest path has zero
  * state, zero model artifacts, zero coupling to any batch job — a new
  * executor joining a 100 TB ingest fleet computes identical sketches
  * from its first row.
  *
  * Output grain is (vec_id, dim, proj_micro) — scalar columns, exactly
  * replayable: an AvailableNow drain over the static corpus emits the
  * batch projection of every vector, so the query carries a FULL value
  * oracle (the same LCG sign bit and `list_dot_product` left fold as
  * q217's). */
object JlEncodeStream extends graft.QueryModule {

  /** q219 — each arriving embedding's k-dim JL sketch, one row per
    * output dimension. */
  def q219StreamJlEncode(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val fileSchema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    val stream = spark.readStream
      .schema(fileSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
    val sketched = graft.core.Tables.fanout(spark, stream)
      .select(col("vec_id"),
        RandomProjection.jlProject(col("embedding"), RandomProjection.JlDim).as("p"))
      .select(col("vec_id"), posexplode(col("p")).as(Seq("dim", "pv")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        floor(col("pv") * lit(1e6) + lit(0.5)).cast("long").as("proj_micro"))
    EventStream.drainToFiles(spark, sketched).orderBy("vec_id", "dim")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q219_stream_jl_encode" -> (q219StreamJlEncode _))

  /** Full value oracle: the q217 sign matrix and left-fold dot,
    * re-shaped to one row per (vector, output dim). */
  val oracles: Map[String, String] = Map(
    "q219_stream_jl_encode" -> {
      val k = RandomProjection.JlDim
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, len(embedding) AS d
         |  FROM embeddings),
         |p AS (SELECT vec_id, unnest(range(0, $k)) AS dim, v, d FROM e)
         |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
         |  CAST(floor(list_dot_product(v, list_transform(range(0, d), i ->
         |    CASE WHEN ((1103515245 * (dim * d + i) + 12345) % 2147483648)
         |           // 65536 % 2 = 0
         |         THEN 1.0 ELSE -1.0 END)) * 1e6 + 0.5) AS BIGINT) AS proj_micro
         |FROM p ORDER BY vec_id, dim""".stripMargin
    })
}
