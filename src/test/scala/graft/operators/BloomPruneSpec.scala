package graft.operators

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Plans.planNodes
import graft.functions.BloomMightContainLong

class BloomPruneSpec extends SparkSpec {

  private def li = graft.core.Tables.lineitem(spark, sf)
  private def urgent = graft.core.Tables.orders(spark, sf)
    .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")

  test("bloom semi-join equals the plain semi-join exactly") {
    val pruned = BloomPrune.bloomSemiJoin(li, urgent, "l_orderkey", "o_orderkey")
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val plain = li.join(urgent.withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(pruned == plain)
    assert(pruned.nonEmpty)
  }

  test("a saturated bloom (high fpp) still yields the exact result") {
    // fpp 0.5 floods the probe with false positives; the trailing exact
    // semi-join must absorb every one of them
    val loose = BloomPrune.bloomSemiJoin(li, urgent, "l_orderkey", "o_orderkey",
      fpp = 0.5).count()
    val exact = li.join(urgent.withColumnRenamed("o_orderkey", "l_orderkey"),
      Seq("l_orderkey"), "left_semi").count()
    assert(loose == exact)
  }

  test("q87 entry: bloom probe stays in the executed plan") {
    val df = BloomPrune.q87BloomSemiJoin(spark, sf)
    val rows = df.collect()
    assert(rows.length == 3 && rows.forall(_.getDouble(2) > 0))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("bloom_might_contain"),
      s"q87 lost its bloom probe\n$plan")
  }

  test("the bloom probe prunes the fact side before any shuffle") {
    // functional: a 1-key dim prunes the fact scan to ~that key's rows
    val oneKey = urgent.limit(1)
    val keys = oneKey.collect().map(_.getLong(0))
    val bloom = oneKey.stat.bloomFilter("o_orderkey", 1, 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    val survivors = li.filter(GraftBridge.column(
      BloomMightContainLong(GraftBridge.expression(col("l_orderkey")), bc)))
      .count()
    val total = li.count()
    val exactRows = li.filter(col("l_orderkey") === keys.head).count()
    assert(survivors < total / 10,
      s"bloom should prune hard: $survivors of $total survived")
    assert(survivors >= exactRows, "bloom may only over-approximate")

    // plan: in the scale regime (dim too big to broadcast → shuffle
    // semi-join), the bloom filter executes BELOW the fact-side exchange.
    // The local fixture's dim broadcasts, so force the shuffle path.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = BloomPrune.bloomSemiJoin(li, urgent, "l_orderkey", "o_orderkey")
      df.collect()
      val all = planNodes(df.queryExecution.executedPlan)
      val belowShuffle = all.collect { case s: ShuffleExchangeLike => s }
        .exists(s => planNodes(s).exists {
          case f: FilterExec => f.condition.toString.contains("bloom_might_contain")
          case _ => false
        })
      assert(belowShuffle,
        s"bloom probe must sit below the fact shuffle\n${df.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
