package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{Sampling, TextOps}

/** STREAMING token-budget admission: the q121 budget fill run
  * incrementally at ingest — the form a live crawl needs the curation
  * step in: each arriving document is admitted or rejected against its
  * source's REMAINING budget at that moment, without re-scanning what
  * came before.
  *
  * The stateless half (token counting) is the SAME [[TextOps.tokens]]
  * definition the batch fill uses — per-row, no shuffle. The stateful
  * step keys by `source` in `flatMapGroupsWithState` with ONE long of
  * state per source (the running token total — admitted or not, matching
  * the batch rule where every document's tokens advance the cursor), so
  * state is source-count-bounded, never corpus-sized. Rows are sorted by
  * doc_id inside each (source × batch) group before the fold — the
  * group iterator is batch-sized per source (the microbatch admission
  * window, not the corpus) and arrival across batches is doc_id-monotone
  * (ingest ids — the same contract [[DedupStream]] relies on), so the
  * admitted set is deterministic and EQUALS the batch [[Sampling
  * .tokenBudgetFill]] prefix exactly. That makes this query directly
  * DuckDB-checkable: the oracle is q121's windowed SQL verbatim — a full
  * hash-match, stronger than the verdict-gate form the engine-hash
  * streaming queries need. */
object BudgetStream extends graft.QueryModule {

  // private[streaming], not private: the Catalyst-generated deserializer
  // constructs these from outside the object (janino rejects a
  // bytecode-private ctor)
  private[streaming] case class DocTok(doc_id: Long, source: String, n_tok: Long)
  private[streaming] case class Admitted(
    doc_id: Long, source: String, n_tok: Long, cum_tokens: Long)

  /** Test seam: [[admitGroup]] without the grouping key. */
  private[streaming] def admitGroupForTest(
      rows: Iterator[DocTok], state: GroupState[Long]): Iterator[Admitted] =
    admitGroup("", rows, state)

  /** State per source: running token total over EVERY seen document
    * (admitted or not — the batch cum_tokens cursor). Admission =
    * the total after this document still fits the budget; the cursor is
    * monotone non-decreasing, so once a source overflows, nothing later
    * is admitted — the batch prefix property. */
  private def admitGroup(
      source: String,
      rows: Iterator[DocTok],
      state: GroupState[Long]): Iterator[Admitted] = {
    val sorted = rows.toArray.sortBy(_.doc_id)
    var total = if (state.exists) state.get else 0L
    val out = Array.newBuilder[Admitted]
    var i = 0
    while (i < sorted.length) {
      val r = sorted(i)
      total += r.n_tok
      if (total <= Sampling.TokenBudgetPerSource)
        out += Admitted(r.doc_id, r.source, r.n_tok, total)
      i += 1
    }
    state.update(total)
    out.result().iterator
  }

  /** The streamed admitted set over `dir`'s documents table, drained to
    * a batch frame (the AvailableNow pattern shared by every graft
    * streaming query). PRODUCTION entry; also the q124 `queries` entry —
    * the result is directly oracle-checkable, so no twin gate is needed
    * (the spec additionally proves equality with the batch fill). */
  def q124StreamTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = EventStream.documentsStream(spark, dir)
    val admitted = graft.core.Tables.fanout(spark, stream)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .as[DocTok]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(admitGroup)
      .toDF("doc_id", "source", "n_tok", "cum_tokens")
    EventStream.drainToFiles(spark, admitted).orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q124_stream_token_budget" -> (q124StreamTokenBudget _))

  // the streamed admission equals the batch fill, so the oracle is
  // q121's windowed SQL verbatim
  val oracles: Map[String, String] = Map(
    "q124_stream_token_budget" -> Sampling.oracles("q121_token_budget"))
}
