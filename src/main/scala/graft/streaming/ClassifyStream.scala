package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Classify, TextOps}

/** STREAMING QUALITY ADMISSION: the q151 Naive Bayes classifier run at
  * ingest — batch-train over the historical corpus, ship a BOUNDED slice
  * of the model to the stream, score every arriving document map-only
  * (the q132/q135/q141 batch-train / score-at-ingest posture applied to
  * the quality filter).
  *
  * The full q151 model is vocabulary-sized and deliberately never
  * collected; the stream ships the [[Classify.NbModelK]] tokens with the
  * LARGEST |weight| (ties by token — a total order, so the truncation is
  * deterministic and the oracle replays it with the same ORDER BY). That
  * is the standard serving compression for linear text classifiers: the
  * heavy tail of near-zero weights moves scores by ~nothing but would
  * make the broadcast unbounded. Out-of-model tokens score 0 by
  * construction in BOTH engines.
  *
  * Scoring is stateless row-local column math — no watermark, no state
  * store, the firehose never shuffles. Admission keeps predicted-HQ
  * documents (score ≥ 0, the same decision line as q151's `pred_hq`). */
object ClassifyStream extends graft.QueryModule {

  /** q152 — streamed admission over `dir`'s documents table.
    *
    * Serving shape: the truncated model ships as a SORTED xxhash64 key
    * array + aligned weight array (hashed at build time with the
    * engine's own `xxhash64` column function, so the stream side's
    * `transform(toks, xxhash64)` probes the identical key space), and
    * scoring is one [[graft.functions.SortedKeyWeightSum]] probe —
    * O(log K) long compares per token occurrence inside whole-stage
    * codegen. A literal-map form (`element_at(typedLit(map), t)`) pays
    * a linear O(K) string scan per occurrence (Catalyst's GetMapValue
    * has no literal fast path); at the 10× fixture that scan measured
    * as this drain's dominant cost. */
  def q152StreamNbQuality(spark: SparkSession, dir: String): DataFrame = {
    // batch-train, truncate to the K largest-|w| tokens (bounded collect
    // by construction), ship hashed keys + weights + prior. Trained once
    // per corpus version (ArtifactStore), never per drain.
    val (keys: Array[Long], weights: Array[Long], prior: Long) =
      graft.core.ArtifactStore.value(spark, dir, Seq("documents.parquet"),
          "nbTruncatedHashed") { _ =>
        val kw = Classify.truncatedModel(spark, dir)
          .select(xxhash64(col("token")).as("k"), col("w_micro"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        // a key collision would silently merge two model tokens — with
        // K=256 over 64-bit hashes it cannot realistically happen, but
        // the build is the one place it is checkable for free
        require(kw.iterator.map(_._1).toSet.size == kw.length,
          "xxhash64 collision among truncated-model tokens")
        (kw.map(_._1), kw.map(_._2), Classify.priorMicroOf(spark, dir))
      }
    val keysBc = spark.sparkContext.broadcast(keys)
    val weightsBc = spark.sparkContext.broadcast(weights)
    val stream = EventStream.documentsStream(spark, dir)
    val toks = TextOps.tokens(coalesce(col("text"), lit("")))
    val scored = graft.core.Tables.fanout(spark, stream).select(
      col("doc_id"), col("source"),
      size(toks).cast("long").as("n_tokens"),
      (lit(prior) + graft.functions.VectorFunctions.sorted_weight_sum(
        transform(toks, t => xxhash64(t)), keysBc, weightsBc)).as("score_micro"))
      .filter(col("score_micro") >= 0)
    EventStream.drainToFiles(spark, scored).orderBy("doc_id")
  }

  /** q166 — ONLINE CLASSIFIER TRAINING AT INGEST: the model TRAINS
    * continuously as documents arrive — per-token class counts
    * maintained as streaming aggregation state (labels are row-local
    * integer rules, so no second pass is ever needed), drained in
    * update mode and re-weighted from the landed counts. With q152
    * (serve-at-ingest) and q164 (diff-sized batch refresh) this
    * completes the classifier lifecycle: train online, refresh in
    * batch, serve in the stream — all three arriving at byte-identical
    * models because every path shares the same count grain and weight
    * formula.
    *
    * State posture: one (cp, cn) pair per token type — bounded by
    * VOCABULARY, not corpus (the q48 state class); counts only grow,
    * so multi-batch drains converge by keeping each token's
    * largest-total emission (monotone versioning, the q145 move). */
  def q166StreamNbTrain(spark: SparkSession, dir: String): DataFrame = {
    val stream = EventStream.documentsStream(spark, dir)
    val toks = TextOps.tokens(coalesce(col("text"), lit("")))
    val filler = size(filter(toks,
      t => Classify.FillerTokens.map(lit(_) === t).reduce(_ || _)))
    val counts = graft.core.Tables.fanout(spark, stream)
      .select(toks.as("toks"),
        (filler * Classify.FillerMax <= size(toks)).as("hq"))
      .select(explode(col("toks")).as("token"), col("hq"))
      .groupBy("token")
      .agg(
        sum(when(col("hq"), 1L).otherwise(0L)).as("cp"),
        sum(when(not(col("hq")), 1L).otherwise(0L)).as("cn"))
    // latest emission per token = the largest running total (counts are
    // monotone under updates)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("token").orderBy((col("cp") + col("cn")).desc)
    val landed = EventStream.drainToFiles(spark, counts, update = true)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("token", "cp", "cn")
    Classify.weightsOf(landed).orderBy("token")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q152_stream_nb_quality" -> (q152StreamNbQuality _),
    "q166_stream_nb_train" -> (q166StreamNbTrain _))

  /** Full value oracle: the q151 training CTEs (shared text) + the same
    * top-K truncation + per-doc scoring + the admission floor. */
  val oracles: Map[String, String] = Map(
    // q166: a single-batch drain must land on exactly the batch-trained
    // model — the q151 training CTEs verbatim.
    "q166_stream_nb_train" ->
      s"""WITH ${Classify.nbCtes}
         |SELECT token, cp, cn, w_micro FROM w ORDER BY token""".stripMargin,
    "q152_stream_nb_quality" ->
      s"""WITH ${Classify.nbCtes},
         |topw AS MATERIALIZED (
         |  SELECT token, w_micro FROM w
         |  ORDER BY abs(w_micro) DESC, token LIMIT ${Classify.NbModelK}),
         |ds2 AS (
         |  SELECT tf.doc_id, sum(tf.tf * topw.w_micro) AS s
         |  FROM tf JOIN topw USING (token) GROUP BY 1)
         |SELECT l.doc_id, l.source,
         |  CAST(coalesce(st.dl, 0) AS BIGINT) AS n_tokens,
         |  CAST((SELECT prior_micro FROM pri) + coalesce(ds2.s, 0) AS BIGINT)
         |    AS score_micro
         |FROM lab l
         |LEFT JOIN ds2 USING (doc_id)
         |LEFT JOIN dstat st USING (doc_id)
         |WHERE (SELECT prior_micro FROM pri) + coalesce(ds2.s, 0) >= 0
         |ORDER BY doc_id""".stripMargin)
}
