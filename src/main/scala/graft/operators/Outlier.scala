package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** EMBEDDING OUTLIER AUDIT (SURVEY §2.9 similarity/embedding-analytics
  * family, beside q157 diversity and q177 silhouette): per-vector
  * cosine to its source's centroid, with vectors that point AWAY from
  * their source flagged as outliers — the standard embedding-space
  * screen for mislabeled / off-distribution / adversarial documents
  * before they enter a training mix (the within-source counterpart of
  * SemDeDup's within-cluster view; cf. the contamination screens
  * q62/q137, which compare against an EVAL set, where this compares a
  * source against itself).
  *
  * Scale shape: the centroid of a source is invariant to scaling, so
  * the Σ-vector (the same per-(source, dim) integer sum q157 already
  * uses) IS the centroid — no division, no second statistic. The audit
  * is then (1) one map-side-combined aggregate producing one tiny row
  * per (source, dim), and (2) one map-only scoring pass with the
  * |sources|-row centroid table broadcast — nothing corpus-sized ever
  * shuffles, which is what lets the screen run per-recrawl at 100 TB.
  * The quantization grain trade is q157's ([[Similarity.DivQuant]]
  * doc): milli units keep the per-dim Σ and the scoring dot inside
  * double-exact range up to ~10⁷ vectors per source; a deployment
  * shards bigger sources or drops the grain.
  *
  * Parity: unit vectors are quantized to integer milli-units BEFORE
  * the sum (sign-split half-away, the q88/q130 contract), so both
  * engines aggregate exact integers in any order; the per-vector score
  * is one double cosine over those integers, published as half-away
  * micros. The centroid INCLUDES the vector itself (the Σ-vector is
  * the unnormalized mean over all of the source's vectors) — documented
  * rather than excluded, because leave-one-out would force a per-vector
  * centroid subtraction that the oracle replays identically anyway but
  * buys no extra detection power at audit grain.
  */
object Outlier extends graft.QueryModule {

  /** A vector whose centroid cosine is below this (micro units) points
    * away from its own source's mean direction — the outlier line.
    * Zero is the natural geometric threshold (orthogonal-or-opposed);
    * on the fixtures ~4% of vectors sit below it. */
  val OutlierTauMicro = 0L

  /** q192 — the per-vector outlier audit over the embeddings corpus. */
  def q192EmbeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    scoresOver(
      Tables.embeddings(spark, dir),
      Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("source")))
  }

  /** Codegen'd double dot over bigint arrays
    * ([[graft.functions.DotProductLong]] — one fold, same
    * left-to-right accumulation as the interpreted
    * `aggregate(zip_with(...))` chain it replaced, which re-ran the
    * whole fold per lambda call). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_long(a, b)

  /** The per-vector score: cosine of the quantized vector against its
    * source's Σ-vector centroid, half-away micros — ONE column
    * expression shared by the batch audit and the streaming screen
    * (q195), so the two can never drift. The double grouping
    * `(1e6·dot)/sqrt(dotA·dotB)` is exactly the oracle's. */
  private[graft] def centroidCosMicro(qv: Column, cv: Column): Column =
    KMeans.halfAway(lit(1e6) * dot(qv, cv) /
      sqrt(dot(qv, qv) * dot(cv, cv)))

  /** (vec_id, qv) unit-milli quantization of an embedding column — the
    * same map the batch audit applies, exposed for the stream. One
    * codegen'd pass ([[graft.functions.UnitQuantize]]): the composable
    * `transform(v, x -> …/nrm)` form re-evaluated the norm fold PER
    * ELEMENT (no CSE inside Catalyst lambdas) — O(dim²) interpreted
    * work that dominated q192's cost (measured 17.7 s → sub-second at
    * the 10× tree). */
  private[graft] def quantizeCols(df: DataFrame): DataFrame =
    df.withColumn("qv", graft.functions.VectorFunctions.unit_quantize(
      col("embedding"), Similarity.DivQuant))

  /** The audit over ANY (vec_id, embedding) + (vec_id, source) frames —
    * also the `embedding_outliers()` TVF body and the batch tail the
    * streaming screen (q195) gates against. */
  private[graft] def scoresOver(emb: DataFrame, src: DataFrame): DataFrame = {
    val quantized = quantizedOver(emb, src)
    quantized
      .join(broadcast(centroidsOver(quantized)), Seq("source"))
      .select(
        col("vec_id"), col("source"),
        centroidCosMicro(col("qv"), col("cv")).as("centroid_cos_micro"))
      .withColumn("is_outlier", col("centroid_cos_micro") < OutlierTauMicro)
      .orderBy("vec_id")
  }

  /** (vec_id, source, qv): unit vectors quantized to integer
    * milli-units — the shared input of both the centroid aggregate and
    * the scoring pass. The quantization is a cheap map; recomputing it
    * on each side is the right trade against caching a corpus-sized
    * frame (the plan scans the store twice, both scans column-pruned
    * and map-only into their aggregates). */
  private def quantizedOver(emb: DataFrame, src: DataFrame): DataFrame =
    quantizeCols(Tables.fanout(emb.sparkSession, emb))
      .select("vec_id", "qv")
      .join(src, Seq("vec_id"))

  /** (source, cv): the Σ-vector centroid per source — |sources| rows,
    * assembled dim-by-dim so the aggregate stays map-side-combinable
    * (never a whole-array reduce of skewed big sources on one task). */
  private[graft] def centroidsOver(quantized: DataFrame): DataFrame =
    quantized
      .select(col("source"), posexplode(col("qv")))
      .groupBy("source", "pos")
      .agg(sum(col("col")).as("sd"))
      .groupBy("source")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("sd")))),
        s => s.getField("sd")).as("cv"))

  /** The collected (source, Σ-vector) centroid table — the BOUNDED
    * (|sources| × dim) trained artifact the streaming screen (q195)
    * ships to the stream via [[graft.core.ArtifactStore]]. */
  private[graft] def sourceCentroids(spark: SparkSession,
      dir: String): Seq[(String, Seq[Long])] =
    centroidsOver(quantizedOver(
      Tables.embeddings(spark, dir),
      Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("source"))))
      .collect().toSeq
      .map(r => r.getString(0) -> r.getSeq[Long](1))

  /** q212 — VECTOR HYGIENE REPORT: the pre-indexing validation pass
    * every embedding store runs before vectors reach an index or a
    * training mix — corpus-level counts of NULL embeddings, zero-norm
    * vectors (un-normalizable: they poison cosine math with NaN),
    * non-finite components (NaN/±Inf — upstream encoder bugs), and
    * dimension consistency (a mixed-dim store breaks every dot
    * product), plus the norm distribution in half-away milli units.
    * One map-only scan into a 1-row aggregate; nothing corpus-sized
    * shuffles. Parity: counts are integers; norm stats are halfAway
    * milli; the avg is one truncating division. */
  def q212VectorHygiene(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val nf = size(filter(col("embedding"),
      x => isnan(x) || abs(x) === lit(Float.PositiveInfinity)))
    // per-row norm: one double fold (evaluated once per row — cheap;
    // the q192 per-ELEMENT pathology does not apply outside lambdas).
    // Defined ONLY for finite vectors: a NaN norm would silently cast
    // to 0 on Spark and ERROR the BIGINT cast on DuckDB — so the
    // non-finite rows are counted separately and excluded from every
    // norm statistic on both engines.
    val trueNorm = sqrt(aggregate(
      zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x))
    val nm = when(col("embedding").isNotNull && nf === 0,
      KMeans.halfAway(lit(1000.0) * trueNorm))
    emb.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("embedding").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(when(nm === 0L, 1L).otherwise(0L)).as("n_zero_norm"),
        sum(when(col("embedding").isNotNull && nf > 0, 1L).otherwise(0L))
          .as("n_nonfinite"),
        min(size(col("embedding"))).cast("long").as("min_dim"),
        max(size(col("embedding"))).cast("long").as("max_dim"),
        min(nm).as("min_norm_milli"),
        max(nm).as("max_norm_milli"),
        sum(nm).as("sum_norm_milli"),
        sum(when(nm.isNotNull, 1L).otherwise(0L)).as("n_scored"))
      .withColumn("avg_norm_milli",
        expr("sum_norm_milli div greatest(n_scored, 1)"))
      .withColumn("dims_consistent", col("min_dim") === col("max_dim"))
      .drop("sum_norm_milli", "n_scored")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q192_embedding_outliers" -> (q192EmbeddingOutliers _),
    "q212_vector_hygiene" -> (q212VectorHygiene _))

  /** Full value oracle: quantize → Σ-vector per source → the same
    * double cosine over integers, micro half-away — replayed
    * value-for-value (the q157 arithmetic at per-vector grain). */
  val oracles: Map[String, String] = Map(
    // q212: the hygiene counts + halfAway-milli norm stats replayed;
    // the avg is one truncating division of non-negative integers.
    "q212_vector_hygiene" -> {
      val nmSql = KMeans.halfAwaySql(
        "1000.0 * sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), " +
          "CAST(embedding AS DOUBLE[])))")
      s"""WITH f AS (
         |  SELECT embedding, len(embedding) AS dim,
         |    len(list_filter(embedding, x -> isnan(x) OR isinf(x))) AS nf
         |  FROM embeddings),
         |n AS (
         |  SELECT embedding, dim, nf,
         |    CASE WHEN embedding IS NOT NULL AND nf = 0 THEN $nmSql END AS nm
         |  FROM f)
         |SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(sum(CASE WHEN nm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
         |  CAST(sum(CASE WHEN embedding IS NOT NULL AND nf > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_nonfinite,
         |  CAST(min(dim) AS BIGINT) AS min_dim,
         |  CAST(max(dim) AS BIGINT) AS max_dim,
         |  CAST(min(nm) AS BIGINT) AS min_norm_milli,
         |  CAST(max(nm) AS BIGINT) AS max_norm_milli,
         |  CAST(sum(nm) // greatest(count(nm), 1) AS BIGINT) AS avg_norm_milli,
         |  min(dim) = max(dim) AS dims_consistent
         |FROM n""".stripMargin
    },
    "q192_embedding_outliers" -> {
      val nrm = "sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))"
      val qd = "list_transform(q.qv, x -> CAST(x AS DOUBLE))"
      val cos = s"1000000.0 * list_dot_product($qd, c.cv) / " +
        s"sqrt(list_dot_product($qd, $qd) * list_dot_product(c.cv, c.cv))"
      s"""WITH q AS MATERIALIZED (
         |  SELECT e.vec_id, d.source,
         |    list_transform(CAST(e.embedding AS DOUBLE[]),
         |      x -> ${KMeans.halfAwaySql(s"1000.0 * x / $nrm")}) AS qv
         |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         |dims AS (
         |  SELECT source, unnest(range(len(qv))) AS dim, unnest(qv) AS v FROM q),
         |cent AS (
         |  SELECT source, list(CAST(sd AS DOUBLE) ORDER BY dim) AS cv
         |  FROM (SELECT source, dim, sum(v) AS sd FROM dims GROUP BY 1, 2)
         |  GROUP BY source)
         |SELECT q.vec_id, q.source,
         |  ${KMeans.halfAwaySql(cos)} AS centroid_cos_micro,
         |  ${KMeans.halfAwaySql(cos)} < $OutlierTauMicro AS is_outlier
         |FROM q JOIN cent c USING (source)
         |ORDER BY q.vec_id""".stripMargin
    })
}
