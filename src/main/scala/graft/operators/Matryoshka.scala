package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import VectorSearch.{NumProbes, TopK}

/** EMBEDDING TRUNCATION ABLATION (Matryoshka-style): how much top-k
  * recall survives when the 64-dim store is cut to its first d'
  * dimensions — the table behind the "short-vector prefilter" deploy
  * pattern (Kusupati et al. 2022, arXiv:2205.13147: MRL-trained
  * prefixes; flat-index deployments run the same ablation on untrained
  * embeddings to pick a cheap first-pass dimension). Sits beside the
  * family's other tuning tables: q162 sweeps nprobe (how many lists),
  * q173 gates SQ8 (fewer bits per dim) — this sweeps FEWER DIMS, the
  * third axis of the recall/byte trade.
  *
  * Numeric contract: distances are exact int64 Σ(pv−em)² over the
  * micro-quantized prefix ([[KMeans.quantized]]), ties break by
  * vec_id, recall is integer micros — so the oracle recomputes the
  * entire sweep, recall included (the q173 posture; no trained state
  * anywhere).
  *
  * Measured on the fixtures: recall collapses below the full dim
  * (0.03–0.18 at d' ∈ {8,16,32} vs 1.0 at 64, and NOT monotone in d')
  * — exactly the warning the table exists to give: these embeddings
  * are not prefix-trained, so truncation without MRL training is not a
  * safe prefilter here. The sweep emits facts, not verdicts, for this
  * reason.
  *
  * Scale shape: ONE corpus scan scores every probe at every sweep
  * dimension — the per-dim distances are row-local prefix sums
  * (`slice` + `zip_with`, no second pass over the store), and each
  * sweep entry is a filter+window over the same (probe, vec) frame,
  * never a rescan. The full-dim branch doubles as the exact baseline,
  * so no separate exact twin runs. */
object Matryoshka extends graft.QueryModule {

  /** Prefix lengths swept (the full 64 closes the table at recall 1 —
    * the identity row that proves the sweep converges). */
  val Dims: Seq[Int] = Seq(8, 16, 32, 64)
  val FullDim = 64

  /** q174 — the truncation sweep: per prefix length, the summed exact
    * top-[[TopK]] hits across [[NumProbes]] probes and the integer
    * recall. */
  def q174TruncationSweep(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    sweepOver(spark, KMeans.quantized(spark, dir))
  }

  /** The sweep over ANY quantized (vec_id, em) frame — also the
    * `truncation_sweep()` TVF body.
    *
    * Plan shape (gated in `PlanAuditSpec`): the per-branch formulation
    * (`union` of one window per dim) re-scans the store once PER SWEEP
    * POINT — 4 corpus scans at 100 TB. Instead every (probe, vec) row
    * carries all 4 prefix distances out of the SAME scan, the sweep
    * ranks ride ONE probe-keyed Exchange (chained windows differing
    * only in sort key — no second shuffle), and "hit at dim d" is the
    * row-local conjunction `rk_d ≤ K ∧ rk_full ≤ K`, so the whole
    * sweep reduces in one conditional aggregate — one scan, one
    * shuffle, no self-join, however many dims the sweep has. */
  private[graft] def sweepOver(spark: SparkSession, q: DataFrame): DataFrame = {
    val pDf = VectorSearch.intProbeFrame(spark, VectorSearch.intProbes(q))
    // one scan: all sweep distances are row-local prefix sums
    val scored = VectorSearch.exactScan(q, pDf,
      Dims.map(d => VectorSearch.l2Prefix(col("em"), col("pv"), d).as(s"d$d")))
    // every sweep rank over ONE probe-keyed Exchange: the windows share
    // the partitioning and differ only in sort key, so Spark plans one
    // shuffle feeding chained Sort+Window nodes
    val ranked = Dims.foldLeft(scored) { (df, d) =>
      VectorSearch.topK(df, col(s"d$d"), None, rank = s"rk$d")
    }
    // a hit at dim d = inside BOTH d's top-k and the full-dim top-k; the
    // whole sweep reduces in one conditional aggregate, no self-join
    val agg = ranked.agg(
      Dims.map(d =>
        sum(when(col(s"rk$d") <= TopK && col(s"rk$FullDim") <= TopK, 1L).otherwise(0L))
          .as(s"hits$d")).head,
      Dims.tail.map(d =>
        sum(when(col(s"rk$d") <= TopK && col(s"rk$FullDim") <= TopK, 1L).otherwise(0L))
          .as(s"hits$d")): _*)
    agg
      .select(explode(array(Dims.map(d =>
        struct(lit(d.toLong).as("trunc_dim"), col(s"hits$d").as("sum_hits"))): _*)).as("x"))
      .select(
        col("x.trunc_dim").as("trunc_dim"),
        lit(NumProbes.toLong).as("n_probes"),
        col("x.sum_hits").as("sum_hits"),
        expr(s"x.sum_hits * 1000000 div ${NumProbes * TopK}").as("recall_micro"))
      .orderBy("trunc_dim")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q174_truncation_sweep" -> (q174TruncationSweep _))

  /** Full value oracle: the sweep recomputed in SQL — prefix distances
    * via bounded ranges, the same (d, vec_id) tie-break, integer
    * recall. */
  val oracles: Map[String, String] = Map(
    "q174_truncation_sweep" -> {
      def branch(d: Int) =
        s"""SELECT CAST($d AS BIGINT) AS trunc_dim,
           |  CAST($NumProbes AS BIGINT) AS n_probes,
           |  CAST(count(*) AS BIGINT) AS sum_hits,
           |  count(*) * 1000000 // ${NumProbes * TopK} AS recall_micro
           |FROM t$d a JOIN t$FullDim b
           |  ON a.probe_id = b.probe_id AND a.vec_id = b.vec_id""".stripMargin
      def tk(d: Int, name: String) =
        s"""$name AS MATERIALIZED (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      row_number() OVER (PARTITION BY probe_id ORDER BY d, vec_id) AS rk
           |    FROM (SELECT probe_id, e.vec_id,
           |            list_sum(list_transform(range(1, ${d + 1}),
           |              i -> (pv[i] - em[i]) * (pv[i] - em[i]))) AS d
           |          FROM p, e WHERE e.vec_id <> p.probe_id))
           |  WHERE rk <= $TopK)""".stripMargin
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> ${KMeans.halfAwaySql("CAST(x AS DOUBLE) * 1000000")}) AS em
         |  FROM embeddings),
         |p AS (SELECT vec_id AS probe_id, em AS pv FROM e WHERE vec_id < $NumProbes),
         |${Dims.map(d => tk(d, s"t$d")).mkString(",\n")}
         |${Dims.map(branch).mkString("\nUNION ALL\n")}
         |ORDER BY trunc_dim""".stripMargin
    })
}
