package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.operators.{ScoreNorm, TextOps}

/** STREAMING PERCENTILE SCREEN: the q218 cross-source score calibration
  * served at ingest — the per-source value-grain CDF is built ONCE per
  * corpus version ([[graft.core.ArtifactStore]]; a calibration artifact an
  * offline job publishes) and shipped to the stream as one literal map,
  * so every arriving document gets its within-source percentile with
  * row-local arithmetic: no state store, no watermark, no shuffle. This
  * is the artifact-serving pattern (q152's NB slice, q141's codebook)
  * applied to the calibration table — and here the artifact is bounded
  * by the closed score DOMAIN (≤ 10001 values per source), not by a
  * truncation choice: the shipped map IS the whole calibration,
  * lossless.
  *
  * An AvailableNow drain over the static corpus lands on EXACTLY the
  * q218 batch rows (a (source, q_micro) pair unseen in the calibration
  * corpus drops — inner-join semantics, the frozen-calibration
  * contract), so the query carries q218's full value oracle verbatim
  * (the q62/q167 shared-text convention). */
object PercentileStream extends graft.QueryModule {

  /** q224 — each arriving document's within-source score percentile. */
  def q224StreamPercentileScreen(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val cdf: Map[String, Long] =
      graft.core.ArtifactStore.value(spark, dir, Seq("documents.parquet"), "scoreCdf") { _ =>
        ScoreNorm.cdfOf(graft.core.Tables.documents(spark, dir))
          .collect()
          .map(r => s"${r.getString(0)}:${r.getLong(1)}" -> r.getLong(2))
          .toMap
      }
    val cdfLit = typedLit(cdf)
    val stream = spark.readStream
      .schema(DedupStream.docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val toks = TextOps.tokens(coalesce(col("text"), lit("")))
    val screened = graft.core.Tables.fanout(spark, stream)
      .filter(size(toks) > 0)
      .select(col("doc_id"), col("source"),
        round((least(size(toks).cast("double") / 100.0, lit(1.0)) * 0.5 +
          size(array_distinct(toks)).cast("double") / size(toks) * 0.5) * 10000)
          .cast("long").as("q_micro"))
      .withColumn("pct_micro",
        element_at(cdfLit, concat(col("source"), lit(":"), col("q_micro"))))
      .filter(col("pct_micro").isNotNull)
    EventStream.drainToFiles(spark, screened).orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q224_stream_percentile_screen" -> (q224StreamPercentileScreen _))

  val oracles: Map[String, String] = Map(
    "q224_stream_percentile_screen" -> ScoreNorm.percentileOracleSql)
}
