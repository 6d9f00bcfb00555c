package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** THE one way graft operators materialize an intermediate frame that
  * feeds multiple consumers whose partitionings cannot share an exchange
  * (the round-15 eager-checkpoint pattern: Margin's scored candidates,
  * Propagate's Jacobi rounds, Curation's screened ledger, …).
  *
  * Why a single helper (round-15 verdict item 5): `localCheckpoint` is
  * NON-RELIABLE storage — the blocks live in executor block managers
  * with the lineage truncated, so at 100 TB an executor loss (or a
  * dynamic-allocation reclaim) makes the frame unrecoverable and FAILS
  * the query instead of recomputing it. Locally (static `local[n]`,
  * id/candidate-grain frames) that risk is zero and localCheckpoint is
  * the fastest materialization, which is why it stays the default; a
  * cluster deployment flips ONE conf instead of editing nine call
  * sites.
  *
  * Mode — `spark.graft.materialize` = `local` (default) | `reliable` |
  * `persist`:
  *  - `local`: eager `localCheckpoint` (block-manager blocks, lineage
  *    truncated). Fastest; fails on executor loss.
  *  - `reliable`: `checkpoint` under `spark.graft.checkpointDir`
  *    (HDFS/object-store path) or the context's checkpoint dir —
  *    survives executor loss; the dynamic-allocation / 100 TB posture.
  *    Throws when neither is set.
  *  - `persist`: `MEMORY_AND_DISK` persist, eagerly populated — keeps
  *    full lineage (recompute on loss, no checkpoint write) at the cost
  *    of re-running the subtree if blocks are evicted AND lost.
  * Setting `spark.graft.checkpointDir` alone (the pre-existing
  * [[graft.operators.Dedup]] `truncateLineage` contract) also selects
  * `reliable`, so existing deployments keep their behavior.
  *
  * When NOT to call this at all (the round-15 negative results, kept as
  * the pattern's boundary): an eager materialization pays only when the
  * duplicated subtree is heavy AND the consumers' partitionings cannot
  * share one exchange; otherwise it just serializes stages AQE was
  * already overlapping (measured: q235 +1.7 s, q231 +0.66 s, q151/q164
  * net-negative — all reverted).
  */
object Materialize {

  /** Materialize `df` once for its downstream consumers. `eager = false`
    * defers the job to first use (rarely right: concurrent consumers
    * then each compute partitions — the round-15 lazy-checkpoint
    * negative result — but iterative loops that may not consume every
    * round keep the option). */
  def once(df: DataFrame, eager: Boolean = true): DataFrame =
    run(df, eager, mode(df))

  /** [[once]] for a site whose CORRECTNESS needs the lineage cut, not just
    * reuse — e.g. offsets collected from one execution of a sort, which a
    * recomputed sort could invalidate. `persist` keeps lineage, so here it
    * runs as `local`; `local` and `reliable` both truncate and stay. */
  def truncated(df: DataFrame): DataFrame =
    run(df, eager = true, mode(df) match { case "persist" => "local"; case m => m })

  private def mode(df: DataFrame): String = {
    val conf = df.sparkSession.conf
    conf.getOption("spark.graft.materialize").map(_.trim.toLowerCase).getOrElse {
      // checkpointDir alone implies the reliable posture (back-compat
      // with truncateLineage's original contract)
      if (conf.getOption("spark.graft.checkpointDir").exists(_.nonEmpty)) "reliable"
      else "local"
    }
  }

  private def run(df: DataFrame, eager: Boolean, mode: String): DataFrame = {
    val spark = df.sparkSession
    mode match {
      case "reliable" =>
        if (spark.sparkContext.getCheckpointDir.isEmpty) {
          // a driver-local fallback would leave each executor's partitions
          // on its own disk: not reliable, so refuse instead
          val dir = spark.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty)
            .getOrElse(throw new IllegalStateException(
              "spark.graft.materialize=reliable needs a shared checkpoint directory: " +
                "set spark.graft.checkpointDir (or SparkContext.setCheckpointDir)"))
          spark.sparkContext.setCheckpointDir(dir)
        }
        df.checkpoint(eager)
      case "persist" =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        if (eager) p.count()
        p
      case _ => df.localCheckpoint(eager)
    }
  }
}
