package graft.core

import org.apache.spark.sql.DataFrame

/** THE one way graft operators materialize an intermediate frame that
  * feeds multiple consumers whose partitionings cannot share an exchange
  * (Margin's scored candidates, Propagate's Jacobi rounds, Curation's
  * screened ledger, …). Every call truncates lineage, so no consumer can
  * recompute the subtree and see different rows (a re-run sort may land
  * different range boundaries; ranks and offsets taken from one execution
  * must stay valid).
  *
  * One rule picks the storage:
  *  - `spark.graft.checkpointDir` set: a reliable `checkpoint` under that
  *    (HDFS/object-store) directory, or under the context's checkpoint dir
  *    if it already has one. Survives executor loss; the
  *    dynamic-allocation / 100 TB posture.
  *  - otherwise: an eager `localCheckpoint` (block-manager blocks). The
  *    fastest, but an executor loss fails the query instead of
  *    recomputing it; on a static `local[n]` that risk is zero.
  *
  * When NOT to call this at all: an eager materialization pays only when
  * the duplicated subtree is heavy AND the consumers' partitionings cannot
  * share one exchange; otherwise it just serializes stages AQE was already
  * overlapping (measured: q235 +1.7 s, q231 +0.66 s, q151/q164
  * net-negative).
  */
object Materialize {

  /** Materialize `df` once for its downstream consumers. `eager = false`
    * defers the job to first use (rarely right: concurrent consumers then
    * each compute partitions, but iterative loops that may not consume
    * every round keep the option). */
  def once(df: DataFrame, eager: Boolean = true): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }
}
