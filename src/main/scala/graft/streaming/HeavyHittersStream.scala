package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.TextOps

/** STREAMING heavy hitters: Misra-Gries (1982) summaries over the token
  * firehose — the q90 batch sketch run AT INGEST, the way a 100 TB
  * pipeline watches its vocabulary without ever re-scanning the corpus.
  * State per shard is a BOUNDED map of [[SketchK]] counters (the MG
  * summary) + the shard's processed-token count, regardless of how many
  * distinct tokens stream through — the sketch property that makes
  * vocabulary monitoring O(shards·k) memory at any corpus size.
  *
  * Sharding: tokens route to [[Shards]] groups by token hash, so ALL
  * occurrences of a token land in one shard and the per-shard MG
  * guarantee lifts to the corpus: any token with global count
  * > N_total/([[SketchK]]+1) has count > N_shard/(k+1) in its own
  * shard and therefore SURVIVES in that shard's summary. The candidate
  * SET depends on arrival order (inherent to MG — decrements hit
  * whatever is resident); the GUARANTEE does not, so the q145 gate
  * emits only order-insensitive facts: corpus totals the oracle
  * recomputes, the coverage verdict (every true heavy hitter is a
  * candidate — batch-recounted in-plan), and the sketch bound
  * (candidates ≤ shards·k). The q90/q49 convention for engine-local
  * detail with oracle-checkable verdicts.
  *
  * Each batch APPENDS the shard's refreshed summary tagged with the
  * monotone processed-count version; the post-drain (batch) step keeps
  * each shard's latest version, so multi-batch drains converge to the
  * final state without needing an end-of-stream hook.
  */
object HeavyHittersStream extends graft.QueryModule {

  /** Token-hash shard count (parallelism of the sketch stage). */
  val Shards = 8

  /** Misra-Gries counters per shard: guarantee threshold is
    * N/([[SketchK]]+1). */
  val SketchK = 32

  private[streaming] case class TokRow(shard: Int, token: String)
  private[streaming] case class MgState(counters: Map[String, Long], seen: Long)
  private[streaming] case class MgOut(shard: Int, version: Long, token: String, est: Long)

  /** One MG update pass over a shard's arriving tokens. Classic k-counter
    * summary: present → increment; room → insert at 1; full → decrement
    * ALL residents by one (the arriving token is absorbed by the shared
    * decrement), dropping zeros. */
  private[streaming] def mgUpdate(
      shard: Int,
      rows: Iterator[TokRow],
      state: GroupState[MgState]): Iterator[MgOut] = {
    val prev = if (state.exists) state.get else MgState(Map.empty, 0L)
    val m = scala.collection.mutable.Map[String, Long](prev.counters.toSeq: _*)
    var seen = prev.seen
    rows.foreach { r =>
      seen += 1
      m.get(r.token) match {
        case Some(c) => m(r.token) = c + 1
        case None if m.size < SketchK => m(r.token) = 1L
        case None =>
          m.keys.toSeq.foreach { k =>
            val c = m(k) - 1
            if (c <= 0) m.remove(k) else m(k) = c
          }
      }
    }
    state.update(MgState(m.toMap, seen))
    m.iterator.map { case (t, c) => MgOut(shard, seen, t, c) }.toSeq.iterator
  }

  /** The streamed final MG candidates per shard: (shard, token, est)
    * after the whole drain — the latest version per shard wins (the
    * version is the shard's monotone processed count, so multi-batch
    * drains converge to the final summary). PRODUCTION entry; the q145
    * gate adds the batch recount verdicts. */
  private[streaming] def streamCandidates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = EventStream.documentsStream(spark, dir)
    val toks = graft.core.Tables.fanout(spark, stream)
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .select(pmod(xxhash64(col("token")), lit(Shards)).cast("int").as("shard"), col("token"))
      .as[TokRow]
    val summaries = toks
      .groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(mgUpdate)
      .toDF()
    val drained = EventStream.drainToFiles(spark, summaries)
    // batch post-drain: keep each shard's final (max-version) summary
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard")
    drained
      .withColumn("vmax", max(col("version")).over(w))
      .filter(col("version") === col("vmax"))
      .select("shard", "token", "est")
  }

  /** q145 — the STREAMING HEAVY-HITTERS GATE: corpus token total and
    * true-heavy count (oracle-recomputable facts), the MG coverage
    * verdict (every token with count > N/(k+1), batch-recounted from
    * the shared token stage, is a streamed candidate) and the sketch
    * bound (candidates ≤ shards·k). */
  def q145StreamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val cands = streamCandidates(spark, dir).select(col("token")).distinct()
    val counts = TextOps.tokenStage(spark, dir)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      sum(col("cnt")).cast("long").as("n_tokens"),
      count(lit(1)).cast("long").as("n_distinct"))
    val heavy = counts.crossJoin(broadcast(totals.select(col("n_tokens").as("nt"))))
      .filter(col("cnt") * (SketchK + 1) > col("nt"))
      .select("token")
    val missed = heavy.join(cands, Seq("token"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    val nCand = cands.agg(count(lit(1)).as("n_candidates"))
    val nHeavy = heavy.agg(count(lit(1)).as("n_heavy"))
    totals.crossJoin(nHeavy).crossJoin(missed).crossJoin(nCand)
      .select(
        col("n_tokens"),
        col("n_heavy"),
        (col("n_missed") === 0L).as("heavy_covered"),
        (col("n_candidates") <= Shards.toLong * SketchK).as("sketch_bounded"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q145_stream_heavy_hitters" -> (q145StreamHeavyHitters _))

  // Facts the oracle recomputes directly; verdicts are MG guarantees,
  // asserted literally (the q114/q49 convention).
  val oracles: Map[String, String] = Map(
    "q145_stream_heavy_hitters" ->
      s"""WITH tok AS (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
         |  FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens FROM c)
         |SELECT t.n_tokens,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c, t WHERE cnt * ${SketchK + 1} > t.n_tokens) AS n_heavy,
         |  TRUE AS heavy_covered, TRUE AS sketch_bounded
         |FROM t""".stripMargin)
}
