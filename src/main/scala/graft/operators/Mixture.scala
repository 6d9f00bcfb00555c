package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}

/** DOMAIN MIXTURE REWEIGHTING (SURVEY §2.9 sampling/mixing family,
  * beside q64 temperature mixing and q189 curriculum sharding): turn a
  * per-domain difficulty signal into training mixture weights by
  * iterated multiplicative reweighting — the DoReMi recipe (Xie et al.
  * 2023) in its exp-free multiplicative-weights form: start from the
  * token-share mixture, repeatedly tilt each domain's weight by its
  * loss and renormalize, w_{t+1}(d) ∝ w_t(d) · loss(d). DoReMi's
  * exponentiated-gradient step is w·exp(η·excess); with η·excess small
  * the first-order expansion IS a multiplicative tilt by normalized
  * loss, and the rational form keeps every round in exact integer
  * arithmetic — no transcendental ever crosses the engine boundary
  * (the [[Cms]]/[[Privacy]] log2-micro contract stops at the loss
  * signal itself).
  *
  * The difficulty signal is the corpus-self-trained unigram surprisal
  * (q78's CCNet-style proxy) at DOMAIN grain: mean bits/token over the
  * domain's token stream — domains whose text the corpus LM finds hard
  * get upweighted, which is DoReMi's behavior with a unigram reference.
  * The published trajectory (w₀…w₃) makes the tilt auditable: round 0
  * is the token-share baseline mixture, each later round one more tilt.
  *
  * Scale shape: the only corpus-sized work is the shared token stage
  * ([[TextOps.tokenStage]] — one tokenize per corpus version, reused
  * across the whole text family); per-token surprisal micros ride the
  * token-partitioned window of the q78 plan; everything after the
  * per-domain aggregate is |domains|-sized (tens of rows), each round a
  * broadcast scalar attach. Parity: surprisal is integer micros before
  * any sum (q78), the per-domain loss is q78's half-up integer division
  * to 1e-4 bits, weights are integer micros renormalized by truncating
  * division — both engines do identical integer arithmetic end-to-end.
  */
object Mixture extends graft.QueryModule {

  /** Reweighting rounds (trajectory w₀…w₃ published). */
  val Rounds = 3

  /** q193 — the mixture-reweighting trajectory over `dir`'s documents,
    * domains = `source`. */
  def q193DomainReweight(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val docTok = TextOps.tokenStream(spark, dir)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val total = TextOps.tokenStage(spark, dir)
      .agg(count(col("token")).cast("long").as("n_total"))
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    reweightOver(docTok, total, src)
  }

  /** The trajectory over ANY (doc_id, token, tf) + corpus-total +
    * (doc_id, source) frames — also the `domain_reweight()` TVF body. */
  private[graft] def reweightOver(docTok: DataFrame, total: DataFrame,
      src: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // q78's arithmetic, re-aggregated at domain grain: token-type
    // corpus counts from a token-partitioned window (never a global
    // one), surprisal fixed to integer micros before the sum
    // materialized once (the [[Propagate]] localCheckpoint pattern):
    // the |domains|-row loss frame feeds round 0 PLUS one scalar
    // aggregate per tilt round — without the checkpoint every round's
    // normalizer re-scans and re-tokenizes the corpus (measured 2.9 s →
    // 0.6 s on the sf0.001 bench smoke). The checkpoint is tens of rows.
    val loss = sourceLoss(docTok, total, src).drop("s")
    // round 0: the token-share mixture in micros
    val nt = loss.agg(sum(col("n_tok")).as("nt"))
    var cur = loss.crossJoin(broadcast(nt))
      .withColumn("w0_micro", expr("(n_tok * 1000000) div nt"))
      .select("source", "loss_e4", "w0_micro")
    // each round: one |domains|-sized scalar attach + integer tilt
    for (t <- 1 to Rounds) {
      val prev = s"w${t - 1}_micro"
      val z = cur.agg(sum(col(prev) * col("loss_e4")).as("z"))
      cur = cur.crossJoin(broadcast(z))
        .withColumn(s"w${t}_micro",
          expr(s"($prev * loss_e4 * 1000000) div z"))
        .drop("z")
    }
    cur.orderBy("source")
  }

  /** The (source, n_tok, s, loss_e4) loss frame behind q193 and q226,
    * localCheckpointed once (the [[Propagate]] pattern: tens of rows
    * feeding several scalar aggregates — see the q193 scaladoc). */
  private[graft] def sourceLoss(docTok: DataFrame, total: DataFrame,
      src: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docTok
      .withColumn("cnt", sum(col("tf")).over(Window.partitionBy("token")))
      .crossJoin(broadcast(total))
      .withColumn("micro_bits",
        round(-log2(col("cnt").cast("double") / col("n_total")) * 1000000)
          .cast("long"))
      .join(src, Seq("doc_id"))
      .groupBy("source")
      // the loss accumulator sums in decimal(38,0), matching the
      // oracle's HUGEINT sum: a 64-bit long wraps silently near ~1e11
      // tokens × high surprisal (the 2·s in loss_e4 doubles the
      // exposure) — at the 100 TB posture that is a reachable scale,
      // and the parity claim is identical integer arithmetic end-to-end
      .agg(sum(col("tf")).as("n_tok"),
        sum(col("micro_bits").cast("decimal(38,0)") * col("tf")).as("s"))
      .select(col("source"), col("n_tok"), col("s"),
        expr("CAST(floor((2 * s + 100 * n_tok) / (200.0 * n_tok)) AS LONG)")
          .as("loss_e4"))
      .transform(graft.core.Materialize.once(_))
  }

  /** q226 — SOURCE ABLATION (leave-one-source-out data valuation): for
    * every source, the corpus-level loss WITH and WITHOUT it — the
    * cheapest member of the influence/valuation family (Data Shapley's
    * first marginal), and closed-form here: corpus loss is a
    * token-weighted mean, so removing a source is pure arithmetic on
    * the SAME per-source (n_tok, Σ surprisal) aggregates q193 already
    * computes — no second corpus pass, no retraining pass. Positive
    * `delta_e4` (loss rises without the source) marks sources whose
    * text the corpus model finds easy/typical; negative marks the
    * surprisal-heavy tail. CAVEAT (by design, documented): the unigram
    * model stays FIXED while sources are ablated — this prices each
    * source under the current model, it does not refit per ablation
    * (that is the expensive true-Shapley path this report triages).
    *
    * Parity: the ablated losses reuse q193's exact loss_e4 expression
    * over (Σs − sᵢ, N − nᵢ) with the q171 zero-guard. */
  def q226SourceAblation(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val docTok = TextOps.tokenStream(spark, dir)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val total = TextOps.tokenStage(spark, dir)
      .agg(count(col("token")).cast("long").as("n_total"))
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    ablationOver(sourceLoss(docTok, total, src))
  }

  /** The ablation report over ANY (source, n_tok, s, loss_e4) loss
    * frame (also the `source_ablation()` TVF body). */
  private[graft] def ablationOver(loss: DataFrame): DataFrame = {
    val tot = loss.agg(sum(col("n_tok")).as("nt"),
      sum(col("s")).as("st"))
    loss.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tok"), col("loss_e4"),
        expr("CAST(floor((2 * st + 100 * nt) / (200.0 * nt)) AS LONG)")
          .as("corpus_loss_e4"),
        expr("""CAST(floor((2 * (st - s) + 100 * (nt - n_tok))
                / (200.0 * greatest(nt - n_tok, 1))) AS LONG)""")
          .as("loss_without_e4"))
      .withColumn("delta_e4", col("loss_without_e4") - col("corpus_loss_e4"))
      .orderBy("source")
  }

  /** The trajectory over ANY (doc_id, source, text) frame — the
    * `domain_reweight()` TVF body (tokenizes inline, the bm25-TVF
    * convention; q193 itself rides the shared token stage). */
  private[graft] def reweightDocs(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    reweightOver(
      docs.select(col("doc_id"), explode(toks).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")),
      docs.agg(sum(size(toks)).cast("long").as("n_total")),
      docs.select("doc_id", "source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q193_domain_reweight" -> (q193DomainReweight _),
    "q226_source_ablation" -> (q226SourceAblation _))

  /** Full value oracle: q78's token/surprisal CTEs re-aggregated at
    * source grain, then the three integer tilt rounds as chained CTEs
    * with scalar-subquery normalizers. */
  val oracles: Map[String, String] = Map(
    "q193_domain_reweight" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents),
        |counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |n AS (SELECT sum(cnt) AS n_total FROM counts),
        |scores AS (
        |  SELECT token,
        |    CAST(round(-log2(CAST(cnt AS DOUBLE) / n_total) * 1000000) AS BIGINT) AS micro_bits
        |  FROM counts, n),
        |src AS (
        |  SELECT d.source, count(*) AS n_tok, sum(s.micro_bits) AS sbits
        |  FROM tok t JOIN scores s USING (token) JOIN documents d USING (doc_id)
        |  GROUP BY d.source),
        |loss AS (
        |  SELECT source, n_tok,
        |    CAST(floor((2 * sbits + 100 * n_tok) / (200.0 * n_tok)) AS BIGINT) AS loss_e4
        |  FROM src),
        |tot AS (SELECT sum(n_tok) AS nt FROM loss),
        |w0 AS (SELECT source, loss_e4, (n_tok * 1000000) // nt AS w FROM loss, tot),
        |w1 AS (SELECT source, loss_e4,
        |  (w * loss_e4 * 1000000) // (SELECT sum(w * loss_e4) FROM w0) AS w FROM w0),
        |w2 AS (SELECT source, loss_e4,
        |  (w * loss_e4 * 1000000) // (SELECT sum(w * loss_e4) FROM w1) AS w FROM w1),
        |w3 AS (SELECT source, loss_e4,
        |  (w * loss_e4 * 1000000) // (SELECT sum(w * loss_e4) FROM w2) AS w FROM w2)
        |SELECT w0.source, CAST(w0.loss_e4 AS BIGINT) AS loss_e4,
        |  CAST(w0.w AS BIGINT) AS w0_micro, CAST(w1.w AS BIGINT) AS w1_micro,
        |  CAST(w2.w AS BIGINT) AS w2_micro, CAST(w3.w AS BIGINT) AS w3_micro
        |FROM w0 JOIN w1 USING (source) JOIN w2 USING (source) JOIN w3 USING (source)
        |ORDER BY w0.source""".stripMargin,
    // q226: the q193 src/loss CTEs + corpus totals, ablated in closed
    // form with the zero-guard
    "q226_source_ablation" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents),
        |counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |n AS (SELECT sum(cnt) AS n_total FROM counts),
        |scores AS (
        |  SELECT token,
        |    CAST(round(-log2(CAST(cnt AS DOUBLE) / n_total) * 1000000) AS BIGINT) AS micro_bits
        |  FROM counts, n),
        |src AS (
        |  SELECT d.source, count(*) AS n_tok, sum(s.micro_bits) AS sbits
        |  FROM tok t JOIN scores s USING (token) JOIN documents d USING (doc_id)
        |  GROUP BY d.source),
        |tot AS (SELECT sum(n_tok) AS nt, sum(sbits) AS st FROM src)
        |SELECT source, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(floor((2 * sbits + 100 * n_tok) / (200.0 * n_tok)) AS BIGINT) AS loss_e4,
        |  CAST(floor((2 * st + 100 * nt) / (200.0 * nt)) AS BIGINT) AS corpus_loss_e4,
        |  CAST(floor((2 * (st - sbits) + 100 * (nt - n_tok))
        |    / (200.0 * greatest(nt - n_tok, 1))) AS BIGINT) AS loss_without_e4,
        |  CAST(floor((2 * (st - sbits) + 100 * (nt - n_tok))
        |    / (200.0 * greatest(nt - n_tok, 1))) AS BIGINT)
        |  - CAST(floor((2 * st + 100 * nt) / (200.0 * nt)) AS BIGINT) AS delta_e4
        |FROM src CROSS JOIN tot ORDER BY source""".stripMargin)
}
