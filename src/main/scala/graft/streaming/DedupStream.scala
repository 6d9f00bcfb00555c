package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** STREAMING near-dup screening: the MinHash-LSH candidate stage of the
  * dedup family run incrementally over an arriving corpus — the form a
  * 100 TB ingest actually needs dedup in: each new document is checked
  * against everything that arrived before it, without ever re-scanning
  * the accumulated corpus.
  *
  * Pipeline: the stateless signature work (shingle → xxhash64 → row-local
  * MinHash → band buckets) is the SAME [[Dedup.bandBucketsOf]] definition
  * the batch pipeline uses — per-row, no shuffle, streaming-safe. The
  * stateful step keys by (band, bucket) with
  * `flatMapGroupsWithState`: state per bucket is ONE long (the minimum
  * doc_id seen), so state size is bounded by the number of distinct
  * buckets touched, not by corpus size, and a document is flagged as a
  * CANDIDATE duplicate when its bucket has already been claimed by a
  * lower-id document — either earlier in this batch or in any earlier
  * batch (the state). Arrival order is doc_id order (ingest ids are
  * monotone), so the flagged set is deterministic and EQUALS the batch
  * LSH candidate screening on the same corpus — the q114 gate proves set
  * equality in-plan, every drain.
  *
  * The degenerate-bucket guard ([[Dedup.MaxBucket]]) applies per batch:
  * a batch-local bucket population above the bound marks the bucket
  * poisoned in state (MinValue), and its members — present and future —
  * are not flagged (recall trade on mega-clusters for a hard fan-out
  * bound, same trade as batch; the single-drain gate sees identical
  * populations on both sides so equality is exact).
  *
  * This is the SCREENING half (candidate generation); exact verification
  * of candidates is batch work over the flagged minority
  * ([[Dedup.jaccardPairs]]), exactly as q27 verifies the batch candidates.
  */
object DedupStream extends graft.QueryModule {

  // private[streaming], not private: the Catalyst-generated deserializer
  // constructs this class from outside the object (janino rejects a
  // bytecode-private ctor)
  private[streaming] case class BucketRow(doc_id: Long, band: Int, bucket: Long)

  /** Test seam: [[screenGroup]] without the grouping key (the key plays
    * no role in the update logic). */
  private[streaming] def screenGroupForTest(
      rows: Iterator[BucketRow], state: GroupState[Long]): Iterator[Long] =
    screenGroup((0, 0L), rows, state)

  /** State per (band, bucket): minimum doc_id seen, or Long.MinValue for
    * a poisoned (degenerate) bucket. */
  // private[streaming]: StreamRecoverySpec re-points the same update
  // function at a splittable multi-file source for the kill-and-resume
  // matrix
  private[streaming] def screenGroup(
      key: (Int, Long),
      rows: Iterator[BucketRow],
      state: GroupState[Long]): Iterator[Long] = {
    val docs = rows.map(_.doc_id).toArray
    val prev = if (state.exists) state.get else Long.MaxValue
    if (prev == Long.MinValue) return Iterator.empty // poisoned earlier
    if (docs.length > Dedup.MaxBucket) {
      state.update(Long.MinValue)
      return Iterator.empty
    }
    var mn = prev
    var i = 0
    while (i < docs.length) { if (docs(i) < mn) mn = docs(i); i += 1 }
    state.update(mn)
    docs.iterator.filter(_ > mn)
  }

  /** The streamed flagged-candidate set over `dir`'s documents table:
    * distinct doc_ids that share a band bucket with a lower-id document.
    * Returns the drained result as a batch frame (the AvailableNow drain
    * pattern shared by every graft streaming query). PRODUCTION entry —
    * the q114 `queries` gate additionally computes the batch twin for
    * the equality audit (the scale sweep times this entry, not the
    * gate). */
  def streamScreen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = EventStream.documentsStream(spark, dir)
    // fan the raw documents out before the in-flight minhash — the
    // per-doc signature compute is the micro-batch's dominant cost and
    // must not ride a single under-split scan task
    val flagged = Dedup.bandBucketsOf(Dedup.sigsOf(graft.core.Tables.fanout(spark, stream)))
      .as[BucketRow]
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(screenGroup)
      .toDF("doc_id")
    // distinct AFTER the drain (a doc may collide in several bands): the
    // drained frame is batch data, so no second stateful operator rides
    // the stream.
    // State partitions 8: the biggest fixture state in the bench (~0.5M
    // band-bucket keys) — the per-group screen compute and commits
    // parallelize past the global default of 4 (warm drain 2.91 → 2.40 s
    // at sf0.1/32 cores; 16 adds nothing) while the small-state drains
    // stay at 4 (q77/q208 measured flat-to-worse at 8, the commit
    // fan-out cost).
    EventStream.drainToFiles(spark, flagged, statePartsHint = Some("8")).distinct()
  }

  /** The batch twin: same [[Dedup.bandBucketsOf]] buckets, same guard,
    * flag = doc_id above its bucket's minimum. Reads the dedup family's
    * cached [[Dedup.shingleSigs]] stage (one tokenize+shingle pass per
    * corpus version, shared with q26/q27/q38) — only the STREAMING side
    * computes signatures in flight, which is the point of the twin. */
  private[streaming] def batchScreen(spark: SparkSession, dir: String): DataFrame = {
    val buckets = Dedup.bandBucketsOf(Dedup.shingleSigs(spark, dir))
    val sized = buckets.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz"), min(col("doc_id")).as("mn"))
      .filter(col("bsz") <= Dedup.MaxBucket)
    buckets.join(sized, Seq("band", "bucket"))
      .filter(col("doc_id") > col("mn"))
      .select("doc_id")
      .distinct()
  }

  /** q114 — the streaming-LSH-screen VERDICT GATE (q49/q69 pattern):
    * drains the stream, computes the batch twin, and emits ONE row of
    * oracle-checkable facts — the corpus size (SQL-recomputable) and the
    * set-equality verdict (literal TRUE the oracle asserts). */
  def q114StreamLshScreen(spark: SparkSession, dir: String): DataFrame = {
    val streamed = streamScreen(spark, dir)
    val batch = batchScreen(spark, dir)
    val mismatches = streamed.join(batch, Seq("doc_id"), "full_outer")
      .agg(count(lit(1)).as("n_union"))
    val inter = streamed.join(batch, Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n_inter"))
    val nDocs = graft.core.Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_docs"))
    nDocs.crossJoin(mismatches).crossJoin(inter)
      .select(
        col("n_docs"),
        (col("n_union") === col("n_inter")).as("stream_matches_batch"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q114_stream_lsh_screen" -> (q114StreamLshScreen _))

  // The flagged set itself is MinHash-dependent (engine-local hashes), so
  // the gate emits only facts DuckDB can recompute plus the literal
  // verdict — the q49/q69 convention for engine-hash operators.
  val oracles: Map[String, String] = Map(
    "q114_stream_lsh_screen" ->
      "SELECT count(*) AS n_docs, TRUE AS stream_matches_batch FROM documents")
}
