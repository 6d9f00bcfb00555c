package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Incremental ANN-index maintenance (SURVEY §2.9): the diff-sized
  * refresh story (q100 signatures / q116 tokens / q149 dhash / q164
  * classifier counts) applied to the VECTOR INDEX — when a recrawl adds
  * embeddings, a 100 TB deployment does NOT retrain its coarse
  * quantizer; it assigns the delta map-only against the FROZEN
  * centroids and watches a drift monitor to decide when retraining is
  * actually due (the standard Faiss/IVF operational posture: centroids
  * age, lists imbalance, assigned distances creep up).
  *
  * q170 reports exactly that decision input, per cluster of the
  * v1-trained index: v1 member count and micro-rounded assigned-
  * distance sum (the index's own training-time fit), the DELTA's count
  * and distance sum under the same frozen centroids, and a drift
  * verdict — the delta's mean assigned distance exceeding 2× the v1
  * mean, evaluated as an integer cross-multiplication
  * (`d_sum_added · n_v1 > 2 · d_sum_v1 · n_added`) so no division ever
  * crosses an engine boundary.
  *
  * Scale shape: training cost is paid once per index version (cached,
  * [[KMeans.trainedCentroidsOf]] — and at deployment it is the
  * ALREADY-TRAINED index being maintained); the refresh itself is two
  * map-only assignment passes (k×dim broadcast literal, the q135
  * posture) + one k-sized aggregate each — O(|delta| + |v1|) with
  * nothing collected beyond the k×dim centroids. Snapshot rule shared
  * with the corpus family ([[Corpus.DroppedFromV1Mod]]): v1 = vectors
  * whose id ≢ rem, delta = the recrawl's additions.
  */
object IvfMaintain extends graft.QueryModule {

  /** v1 membership rule — the [[Corpus.DroppedFromV1Mod]] convention on
    * vec_id, so the "old index" slice is oracle-reconstructible. */
  private def isV1 = col("vec_id") % Corpus.DroppedFromV1Mod =!= Corpus.DroppedFromV1Rem

  private val isV1Sql =
    s"vec_id % ${Corpus.DroppedFromV1Mod} <> ${Corpus.DroppedFromV1Rem}"

  /** q170 — per-cluster maintenance report of the v1-trained index
    * after the delta lands: (cluster, n_v1, d_sum_v1_micro, n_added,
    * d_sum_added_micro, drift). */
  def q170IncrementalIvf(spark: SparkSession, dir: String): DataFrame = {
    val q = KMeans.quantized(spark, dir)
    // the frozen index: trained on v1 ONCE per corpus version (at
    // deployment this is the existing index — the maintenance path
    // never retrains it)
    maintainOver(q, KMeans.trainedCentroidsOf(spark, dir, "v1", q.filter(isV1)))
  }

  /** The maintenance report over ANY quantized (vec_id, em) frame and
    * a frozen centroid set — q170's body and (through
    * [[maintainFromEmbeddings]]) the `ivf_maintain()` TVF's. */
  private[graft] def maintainOver(
      q: DataFrame, cents: Seq[(Int, Array[Long])]): DataFrame = {
    def report(slice: DataFrame, n: String, d: String): DataFrame =
      KMeans.assigned(slice, cents)
        .groupBy(col("cluster").cast("long").as("cluster"))
        .agg(count(lit(1)).as(n),
          sum(expr("(d + 500000) div 1000000")).as(d))
    val v1 = report(q.filter(isV1), "n_v1", "d_sum_v1_micro")
    val added = report(q.filter(!isV1), "n_added", "d_sum_added_micro")
    v1.join(added, Seq("cluster"), "full_outer")
      .select(col("cluster"),
        coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        coalesce(col("d_sum_v1_micro"), lit(0L)).as("d_sum_v1_micro"),
        coalesce(col("n_added"), lit(0L)).as("n_added"),
        coalesce(col("d_sum_added_micro"), lit(0L)).as("d_sum_added_micro"))
      .withColumn("drift",
        col("d_sum_added_micro") * col("n_v1") > col("d_sum_v1_micro") * col("n_added") * 2)
      .orderBy("cluster")
  }

  /** [[maintainOver]] from a raw embeddings frame, the frozen index
    * trained on its v1 slice AT RESOLUTION TIME (uncached — a TVF has
    * no corpus dir to key the version cache; the `sem_dedup` TVF's
    * resolution-time-fit convention, heavier here by the [[KMeans]]
    * training rounds and documented as such). */
  private[graft] def maintainFromEmbeddings(emb: DataFrame): DataFrame = {
    val q = KMeans.quantizedOf(emb)
    maintainOver(q, KMeans.trainOn(q.filter(isV1)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q170_incremental_ivf" -> (q170IncrementalIvf _))

  /** Full value oracle: the v1-sliced training trajectory
    * ([[KMeans.commonCtesWhere]], shared text) + one assignment pass per
    * slice against the final centroids + the same integer report. */
  val oracles: Map[String, String] = Map(
    "q170_incremental_ivf" -> {
      val dim = 64
      def assignReport(name: String, rel: String, n: String, d: String) =
        s"""$name AS (
           |  SELECT cluster, count(*) AS $n,
           |    CAST(sum((CAST(dd AS BIGINT) + 500000) // 1000000) AS BIGINT) AS $d
           |  FROM (
           |    SELECT vec_id, j AS cluster, dd
           |    FROM (SELECT t.vec_id, c.j, list_sum(list_transform(range(1, ${dim + 1}),
           |            i -> (t.em[i] - c.c[i]) * (t.em[i] - c.c[i]))) AS dd,
           |            row_number() OVER (PARTITION BY t.vec_id
           |              ORDER BY list_sum(list_transform(range(1, ${dim + 1}),
           |                i -> (t.em[i] - c.c[i]) * (t.em[i] - c.c[i]))), c.j) AS rk
           |          FROM $rel t, c${KMeans.Iters} c) WHERE rk = 1)
           |  GROUP BY cluster)""".stripMargin
      s"""WITH ${KMeans.commonCtesWhere(s"WHERE $isV1Sql")},
         |e2 AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> ${KMeans.halfAwaySql("CAST(x AS DOUBLE) * 1000000")}) AS em
         |  FROM embeddings WHERE NOT ($isV1Sql)),
         |${assignReport("rv1", "e", "n_v1", "d_sum_v1_micro")},
         |${assignReport("radd", "e2", "n_added", "d_sum_added_micro")}
         |SELECT CAST(coalesce(rv1.cluster, radd.cluster) AS BIGINT) AS cluster,
         |  CAST(coalesce(n_v1, 0) AS BIGINT) AS n_v1,
         |  CAST(coalesce(d_sum_v1_micro, 0) AS BIGINT) AS d_sum_v1_micro,
         |  CAST(coalesce(n_added, 0) AS BIGINT) AS n_added,
         |  CAST(coalesce(d_sum_added_micro, 0) AS BIGINT) AS d_sum_added_micro,
         |  coalesce(d_sum_added_micro, 0) * coalesce(n_v1, 0)
         |    > coalesce(d_sum_v1_micro, 0) * coalesce(n_added, 0) * 2 AS drift
         |FROM rv1 FULL OUTER JOIN radd ON rv1.cluster = radd.cluster
         |ORDER BY cluster""".stripMargin
    })
}
