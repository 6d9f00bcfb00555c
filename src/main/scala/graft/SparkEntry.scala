package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the query surface of every operator module:
  *  - [[graft.operators.Relational]] — SURVEY §2.2-2.7 relational inventory
  *  - [[graft.operators.TextOps]] — token stats, fingerprints, quality, lang-ID
  *  - [[graft.operators.Dedup]] — exact / n-gram Jaccard / MinHash-LSH / SimHash
  *  - [[graft.operators.Similarity]] — cosine top-k, sign-LSH ANN, near-dup
  *  - [[graft.operators.Multimodal]] — binary payload columns + decode stage
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Multi-way join + aggregate (revenue per nation) — exercises scan,
    * filter pushdown, broadcast + shuffle joins, partial aggregation and
    * top-k in one plan. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q12RevenueByNation(spark, "/root/testdata/sf0.001")

  /** Every query module, in registry order: a key two modules share
    * resolves to the later module, as a chain of map `++` would. */
  def modules: Seq[QueryModule] = Seq(
    operators.Relational, operators.TextOps, operators.Dedup, operators.Similarity,
    operators.Multimodal, operators.Audio, operators.Temporal, operators.Skew,
    operators.Sampling, operators.Corpus, operators.Privacy, operators.Retrieval,
    operators.Audit, operators.Classify, operators.Analytics, operators.BloomPrune,
    operators.Quantize, operators.KMeans, operators.Pq, operators.Sq,
    operators.Matryoshka, operators.Pca, operators.HeavyHitters,
    operators.QuantileSketch, operators.Propagate, operators.Cms, operators.IvfMaintain,
    operators.Taxonomy, operators.Cdc, operators.HllRollup, operators.Curriculum,
    operators.Margin, operators.Purge, operators.WeakLabels, operators.LangSegments,
    operators.Trajectory, operators.Outlier, operators.Mixture, operators.Drift,
    operators.Linkage, operators.RandomProjection, operators.ScoreNorm,
    operators.Sharding, operators.Curation, operators.Export, operators.Admission,
    layout.BucketedLayout, layout.ZOrderLayout, layout.PartitionedEventsLayout,
    layout.IvfLayout, sources.JsonlIngest, streaming.EventStream, streaming.FunnelStream,
    streaming.IngestStream, streaming.DedupStream, streaming.BudgetStream,
    streaming.DsirStream, streaming.AssignStream, streaming.PqEncodeStream,
    streaming.HeavyHittersStream, streaming.ClassifyStream, streaming.AnomalyStream,
    streaming.DecodeStream, streaming.DecontaminateStream, streaming.CmsStream,
    streaming.QuantileStream, streaming.CdcStream, streaming.RouteStream,
    streaming.OutlierStream, streaming.DriftStream, streaming.WeakLabelStream,
    streaming.TrajectoryStream, streaming.JlEncodeStream, streaming.PercentileStream,
    streaming.AdmissionStream, streaming.PurgeStream, streaming.TransitionStream)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.foldLeft(Map.empty[String, (SparkSession, String) => DataFrame])(_ ++ _.queries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.foldLeft(Map.empty[String, String])(_ ++ _.oracles)
}

/** A module of the query surface: its queries, and the DuckDB oracle SQL
  * of each query that has one. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
