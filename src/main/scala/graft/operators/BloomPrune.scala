package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}
import graft.functions.BloomMightContainLong

/** Runtime bloom-filter pruning for fact⋈dim semi-joins — the middle
  * ground between a broadcast join and a full shuffle. When the dim-side
  * key set is too large to broadcast as a hash relation but its BLOOM is
  * small (bits are O(expectedItems), ~1.2 MB per million keys at 1% fpp),
  * probing the bloom BEFORE the shuffle drops the non-matching fact rows
  * where they were read — the shuffle then carries only
  * (selectivity + fpp) of the fact table, which at 100 TB is the
  * difference between shuffling terabytes and shuffling everything.
  *
  * Exactness is never at stake: the bloom only prunes, and the exact
  * semi-join that follows removes its false positives — which is why the
  * oracle for q87 is the plain `EXISTS` semi-join.
  *
  * Spark's own runtime filter (`spark.sql.optimizer.runtime.bloomFilter`)
  * injects this plan shape automatically, but only when its size
  * heuristics fire (application side > 10 GB by default — never in a
  * local harness, and not for every worthy join on a cluster). This
  * operator is the explicit form: caller-sized bloom, unconditional.
  */
object BloomPrune extends graft.QueryModule {

  /** `fact LEFT SEMI JOIN dim ON fact(factKey) = dim(dimKey)` with a
    * bloom pre-filter on the fact side.
    *
    * Two dim-side passes, both cheap and both bounded: a count to size
    * the bloom honestly (map-side partial count), then the distributed
    * bloom build (`stat.bloomFilter` merges per-partition blooms on the
    * driver — driver memory holds the BITS, never the keys). The fact
    * side is touched once, map-only, before its one shuffle. */
  def bloomSemiJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      fpp: Double = 0.01): DataFrame = {
    val spark = fact.sparkSession
    val expected = math.max(dim.count(), 1L)
    val bloom = dim.stat.bloomFilter(dimKey, expected, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val pruned = fact.filter(GraftBridge.column(
      BloomMightContainLong(GraftBridge.expression(col(factKey)), bc)))
    pruned.join(
      dim.select(col(dimKey).as(factKey)),
      Seq(factKey), "left_semi")
  }

  /** q87 — revenue per return flag over the line items of URGENT orders:
    * the urgent key set (~20% of orders — too big to broadcast at scale,
    * ideal for a bloom) prunes the lineitem scan before its shuffle. */
  def q87BloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_extendedprice"), col("l_discount"))
    bloomSemiJoin(li, urgent, "l_orderkey", "o_orderkey")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q87_bloom_semi_join" -> (q87BloomSemiJoin _))

  val oracles: Map[String, String] = Map(
    // the plain EXISTS semi-join: bloom pruning must not change any value
    "q87_bloom_semi_join" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey
        |                AND o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
