package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.operators.Outlier

/** STREAMING EMBEDDING-OUTLIER SCREEN: q192's source-centroid audit
  * run AT INGEST — each arriving embedding is scored against its
  * source's Σ-vector centroid and off-distribution vectors (cosine
  * below [[Outlier.OutlierTauMicro]]) are dropped at the door (the
  * q152/q167/q190 score-at-ingest posture applied to embedding-space
  * screening; in production the screen sits between the embedder and
  * the vector store, so a poisoned / mis-embedded batch never lands).
  *
  * Batch-train, ship to the stream: the centroid table is a BOUNDED
  * |sources| × dim artifact, collected once per corpus version
  * ([[graft.core.ArtifactStore]] — never retrained per micro-batch) and
  * joined as a broadcast local relation. The arriving vector's source
  * rides a stream-static enrichment join (the q79 shape) against the
  * id→source projection. Scoring is [[Outlier.centroidCosMicro]] — the
  * SAME column expression as batch — so the drained admission equals
  * the batch audit minus its outlier rows, and the q192 oracle
  * machinery gates this query value-for-value. Stateless row-local
  * math: no watermark, no state store.
  */
object OutlierStream extends graft.QueryModule {

  /** q195 — streamed outlier screen over `dir`'s embeddings. */
  def q195StreamOutlierScreen(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    // keyed on BOTH inputs: the centroids depend on embeddings AND the
    // vec_id→source mapping in documents — a documents-only refresh
    // must invalidate the artifact too
    val cents = graft.core.ArtifactStore.value(
      spark, dir, Seq("embeddings.parquet", "documents.parquet"), "outlierCentroids") { _ =>
      Outlier.sourceCentroids(spark, dir)
    }
    import spark.implicits._
    val centDf = cents.toDF("source", "cv")
    val src = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    val fileSchema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    val stream = spark.readStream
      .schema(fileSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
    val admitted = Outlier.quantizeCols(graft.core.Tables.fanout(spark, stream))
      .join(src, Seq("vec_id"))
      .join(broadcast(centDf), Seq("source"))
      .select(col("vec_id"), col("source"),
        Outlier.centroidCosMicro(col("qv"), col("cv"))
          .as("centroid_cos_micro"))
      .filter(col("centroid_cos_micro") >= Outlier.OutlierTauMicro)
    EventStream.drainToFiles(spark, admitted).orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q195_stream_outlier_screen" -> (q195StreamOutlierScreen _))

  /** The q192 oracle minus its outlier rows (and flag column) —
    * per-vector, value-for-value. */
  val oracles: Map[String, String] = Map(
    "q195_stream_outlier_screen" -> {
      val nrm = "sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))"
      val qd = "list_transform(q.qv, x -> CAST(x AS DOUBLE))"
      val cos = s"1000000.0 * list_dot_product($qd, c.cv) / " +
        s"sqrt(list_dot_product($qd, $qd) * list_dot_product(c.cv, c.cv))"
      s"""WITH q AS MATERIALIZED (
         |  SELECT e.vec_id, d.source,
         |    list_transform(CAST(e.embedding AS DOUBLE[]),
         |      x -> ${graft.operators.KMeans.halfAwaySql(s"1000.0 * x / $nrm")}) AS qv
         |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         |dims AS (
         |  SELECT source, unnest(range(len(qv))) AS dim, unnest(qv) AS v FROM q),
         |cent AS (
         |  SELECT source, list(CAST(sd AS DOUBLE) ORDER BY dim) AS cv
         |  FROM (SELECT source, dim, sum(v) AS sd FROM dims GROUP BY 1, 2)
         |  GROUP BY source)
         |SELECT q.vec_id, q.source,
         |  ${graft.operators.KMeans.halfAwaySql(cos)} AS centroid_cos_micro
         |FROM q JOIN cent c USING (source)
         |WHERE ${graft.operators.KMeans.halfAwaySql(cos)} >= ${Outlier.OutlierTauMicro}
         |ORDER BY q.vec_id""".stripMargin
    })
}
