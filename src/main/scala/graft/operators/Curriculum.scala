package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** CURRICULUM SHARDING (SURVEY §2.9 sampling/mixing family): order the
  * corpus by a quality signal and cut it into contiguous shards — the
  * data-ordering step of curriculum training (clean→noisy schedules)
  * and the physical layout for quality-stratified sampling. The hard
  * part at 100 TB is the GLOBAL order: a naive `row_number()` window
  * with no partition key single-threads the corpus, so the rank comes
  * from [[Classify.withGlobalRank]] (range-partitioned sort +
  * partition-offset ranks — TeraSort-shaped, fully parallel), and the
  * shard id is a closed-form function of the rank, never a second
  * pass.
  *
  * Score: q23's quality signal quantized in ONE rounding to integer
  * ten-thousandths (`round(raw·1e4)` — the q131 election convention),
  * so a float ulp can never flip a rank across engines; ties break by
  * doc_id (total order). The report is shard-grain: sizes, rank
  * bounds, and each shard's quality band — non-overlapping and
  * monotone by construction, which the oracle checks value-for-value.
  */
object Curriculum extends graft.QueryModule {

  /** Number of curriculum shards. */
  val Shards = 8

  /** q189 — the shard manifest of the quality-ordered corpus. */
  def q189CurriculumShards(spark: SparkSession, dir: String): DataFrame = {
    shardsOver(Tables.documents(spark, dir))
  }

  /** The manifest over ANY (doc_id, text) frame — q189's body and the
    * `curriculum_shards()` TVF's (whose resolution runs the global-rank
    * sort eagerly, the ivf_maintain convention). */
  private[graft] def shardsOver(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val scored = docs
      .select(
        col("doc_id"),
        size(toks).cast("double").as("n_tokens"),
        size(array_distinct(toks)).cast("double").as("n_distinct"))
      .select(
        col("doc_id"),
        round((least(col("n_tokens") / 100.0, lit(1.0)) * 0.5 +
          col("n_distinct") / greatest(col("n_tokens"), lit(1.0)) * 0.5) * 10000)
          .cast("long").as("q_micro"))
    val ranked = Classify.withGlobalRank(
      scored, Seq(col("q_micro").desc, col("doc_id")), "rk")
    // corpus size attaches as a broadcast scalar (the q78 convention);
    // shard = (rk-1) div ceil(n/S), all integer arithmetic
    val n = ranked.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("shard", expr(s"(rk - 1) div ((n + ${Shards - 1}) div $Shards)"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("rk")).as("rank_lo"), max(col("rk")).as("rank_hi"),
        max(col("q_micro")).as("q_max"), min(col("q_micro")).as("q_min"))
      .orderBy("shard")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q189_curriculum_shards" -> (q189CurriculumShards _))

  /** Full value oracle: the same one-rounding score, a window
    * row_number over the same total order (row-identical to the
    * distributed rank — the q175 closed-form-tie convention), and the
    * same integer shard arithmetic. */
  val oracles: Map[String, String] = Map(
    "q189_curriculum_shards" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS n_tokens,
         |    CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE) AS n_distinct
         |  FROM documents),
         |s AS (
         |  SELECT doc_id,
         |    CAST(round((least(n_tokens / 100.0, 1.0) * 0.5
         |      + n_distinct / greatest(n_tokens, 1.0) * 0.5) * 10000) AS BIGINT) AS q_micro
         |  FROM t),
         |r AS (
         |  SELECT doc_id, q_micro,
         |    row_number() OVER (ORDER BY q_micro DESC, doc_id) AS rk,
         |    count(*) OVER () AS n
         |  FROM s)
         |SELECT CAST((rk - 1) // ((n + ${Shards - 1}) // $Shards) AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(min(rk) AS BIGINT) AS rank_lo, CAST(max(rk) AS BIGINT) AS rank_hi,
         |  CAST(max(q_micro) AS BIGINT) AS q_max, CAST(min(q_micro) AS BIGINT) AS q_min
         |FROM r GROUP BY 1 ORDER BY shard""".stripMargin)
}
