package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** CONSISTENT-HASH SHARD PLACEMENT + REBALANCE AUDIT (SURVEY §2.9
  * layout/ops family): assign every document a shard under (a) naive
  * mod-K hashing and (b) a consistent-hash ring with virtual nodes
  * (Karger et al. 1997; the memcached/Dynamo placement), then measure
  * what fraction of the corpus MOVES when the fleet grows K → K+1. The
  * classic result this report demonstrates on real data: mod-K moves
  * ≈ K/(K+1) of everything (a full reshuffle), the ring moves ≈ 1/(K+1)
  * — the difference between re-copying ~89% and ~11% of a 100 TB store
  * when one shard is added. The V-virtual-node ring's load spread rides
  * along (`ring_max_load_micro`), since V is exactly the knob that
  * trades metadata size for balance.
  *
  * Scale shape: the ring is ~K·V positions — METADATA, embedded as two
  * sorted literal arrays; placement is a row-local successor lookup
  * (`count of ring positions < p`, order-free on the sorted array), so
  * the whole audit is one map pass + two tiny aggregates. No join, no
  * shuffle beyond the 1-row/K-row summaries.
  *
  * Parity: positions are the first 8 md5 hex chars as a 32-bit integer
  * (the q58 engine-portable hash convention, widened from 16 to 32 bits
  * so ~300 ring points cannot birthday-collide); ring nodes hash the
  * literal string "s:v", documents hash `CAST(doc_id AS STRING)`; the
  * successor index and every fraction are exact integer arithmetic. */
object Sharding extends graft.QueryModule {

  /** Shard count before the resize. */
  val Shards = 8

  /** Virtual nodes per shard. */
  val VNodes = 16

  /** Driver-side md5 → first 8 hex chars as a long — identical to
    * `conv(substring(md5(x), 1, 8), 16, 10)` on both engines. */
  private def md5Pos32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
  }

  /** The ring for `k` shards: (positions, shards) sorted by
    * (position, shard) — parallel arrays for the row-local successor
    * lookup. */
  private[graft] def ring(k: Int): (Seq[Long], Seq[Int]) = {
    val nodes = for {
      s <- 0 until k
      v <- 0 until VNodes
    } yield (md5Pos32(s"$s:$v"), s)
    val sorted = nodes.sortBy(identity)
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** Row-local ring placement of position column `p`: the shard owning
    * the first ring position ≥ p (wrapping to the first node). */
  private[graft] def ringShard(p: Column, k: Int): Column = {
    val (pos, shards) = ring(k)
    val posArr = typedLit(pos)
    val shardArr = typedLit(shards)
    // sorted array → successor index = |{x < p}| + 1; past the end wraps
    val idx0 = size(filter(posArr, x => x < p)) + 1
    val idx = when(idx0 > pos.length, 1).otherwise(idx0)
    element_at(shardArr, idx)
  }

  /** q222 — the K → K+1 rebalance audit over the corpus. */
  def q222ShardRebalance(spark: SparkSession, dir: String): DataFrame = {
    rebalanceOver(Tables.fanout(spark, Tables.documents(spark, dir)))
  }

  /** The audit over ANY frame with a doc_id column (also the
    * `shard_rebalance()` TVF body). */
  private[graft] def rebalanceOver(docs: DataFrame): DataFrame = {
    val k = Shards
    val placed = docs
      .select(col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("p"))
      .select(col("doc_id"), col("p"),
        (col("p") % k).as("mod_k"), (col("p") % (k + 1)).as("mod_k1"),
        ringShard(col("p"), k).as("ring_k"),
        ringShard(col("p"), k + 1).as("ring_k1"))
    val moves = placed.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("mod_k") =!= col("mod_k1"), 1L).otherwise(0L)).as("moved_mod"),
      sum(when(col("ring_k") =!= col("ring_k1"), 1L).otherwise(0L)).as("moved_ring"))
    val balance = placed.groupBy("ring_k")
      .agg(count(lit(1)).as("load"))
      .agg(max(col("load")).as("max_load"))
    moves.crossJoin(broadcast(balance))
      .select(
        col("n_docs"), col("moved_mod"), col("moved_ring"),
        expr("(1000000 * moved_mod) div n_docs").as("moved_mod_micro"),
        expr("(1000000 * moved_ring) div n_docs").as("moved_ring_micro"),
        expr("(1000000 * max_load) div n_docs").as("ring_max_load_micro"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q222_shard_rebalance" -> (q222ShardRebalance _))

  /** Full value oracle: the ring regenerated from md5("s:v") in SQL
    * (8-hex-char decode via the q58 strpos expansion), the same sorted
    * successor lookup via `len(list_filter(pos, x -> x < p)) + 1`, the
    * same integer fractions. */
  val oracles: Map[String, String] = Map(
    "q222_shard_rebalance" -> {
      val k = Shards
      // Σ (strpos('0123…f', c_i) − 1) · 16^(8−i) over the 8 hex chars
      def hex32(e: String) = (1 to 8).map { i =>
        val w = 1L << (4 * (8 - i))
        s"(strpos('0123456789abcdef', substr($e, $i, 1)) - 1) * $w"
      }.mkString(" + ")
      def ringCte(name: String, kk: Int) =
        s"""$name AS (
           |  SELECT list(pos ORDER BY pos, s) AS ps, list(s ORDER BY pos, s) AS sh,
           |    count(*) AS nn
           |  FROM (
           |    SELECT s, ${hex32("substr(md5(CAST(s AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 8)")} AS pos
           |    FROM range($kk) t(s) CROSS JOIN range($VNodes) u(v)))""".stripMargin
      s"""WITH ${ringCte("r1", k)},
         |${ringCte("r2", k + 1)},
         |d AS (
         |  SELECT doc_id,
         |    ${hex32("substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)")} AS p
         |  FROM documents),
         |placed AS (
         |  SELECT doc_id, p, p % $k AS mod_k, p % ${k + 1} AS mod_k1,
         |    r1.sh[CASE WHEN len(list_filter(r1.ps, x -> x < p)) + 1 > r1.nn
         |             THEN 1 ELSE len(list_filter(r1.ps, x -> x < p)) + 1 END] AS ring_k,
         |    r2.sh[CASE WHEN len(list_filter(r2.ps, x -> x < p)) + 1 > r2.nn
         |             THEN 1 ELSE len(list_filter(r2.ps, x -> x < p)) + 1 END] AS ring_k1
         |  FROM d CROSS JOIN r1 CROSS JOIN r2),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN mod_k <> mod_k1 THEN 1 ELSE 0 END) AS BIGINT) AS moved_mod,
         |    CAST(sum(CASE WHEN ring_k <> ring_k1 THEN 1 ELSE 0 END) AS BIGINT) AS moved_ring
         |  FROM placed),
         |b AS (
         |  SELECT CAST(max(load) AS BIGINT) AS max_load FROM (
         |    SELECT ring_k, count(*) AS load FROM placed GROUP BY ring_k))
         |SELECT n_docs, moved_mod, moved_ring,
         |  CAST((1000000 * moved_mod) // n_docs AS BIGINT) AS moved_mod_micro,
         |  CAST((1000000 * moved_ring) // n_docs AS BIGINT) AS moved_ring_micro,
         |  CAST((1000000 * max_load) // n_docs AS BIGINT) AS ring_max_load_micro
         |FROM m CROSS JOIN b""".stripMargin
    })
}
