package graft.layout

import graft.SparkSpec
import graft.operators.{Similarity, VectorSearch}

class IvfLayoutSpec extends SparkSpec {

  test("the layout writes one Hive directory per occupied list, never more than nlist") {
    val root = IvfLayout.ensure(spark, sf)
    val dirs = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("list_id="))
    assert(dirs.nonEmpty && dirs.length <= Similarity.NumLists)
    // spill invariant: the store holds SpillAssign rows per vector
    val n = graft.core.Tables.embeddings(spark, sf).count()
    assert(spark.read.parquet(root).count() == n * Similarity.SpillAssign)
  }

  test("layout-served search equals the in-memory index row-for-row") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq.sorted
    assert(canon(IvfLayout.servedTopK(spark, sf)) ==
      canon(Similarity.ivfTopK(spark, sf)))
  }

  test("the serving scan prunes to the probed partitions") {
    val df = IvfLayout.servedTopK(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"),
      s"the store scan must carry list_id partition filters —\n$plan")
    // the plan's scan reads exactly the probed lists' files
    val probed = IvfLayout.probedLists(spark, sf).toSet
    val root = IvfLayout.ensure(spark, sf)
    val occupied = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("list_id="))
      .map(_.getName.stripPrefix("list_id=").toInt).toSet
    val scanned = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics.get("numPartitions").map(_.value)
      }.flatten
    scanned.foreach { p =>
      assert(p <= (probed & occupied).size,
        s"scan read $p partitions for ${(probed & occupied).size} probed+occupied lists")
    }
    assert(probed.size < Similarity.NumLists,
      "the probe batch must not touch every list (the pruned verdict)")
  }

  test("q194's verdict row is all-green") {
    val r = IvfLayout.q194IvfLayoutServe(spark, sf).collect()(0)
    assert(r.getLong(0) == VectorSearch.NumProbes)
    assert(r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3))
  }
}
