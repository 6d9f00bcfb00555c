package graft.exec

import java.nio.file.{Files, Paths}
import scala.concurrent.Future
import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._

import org.apache.spark.JobExecutionStatus

import graft.SparkSpec
import graft.exec.QueryExecutionManager.Status
import graft.layout.BucketedLayout

/** A lifecycle query runs its plan exactly once: the artifact write is
  * the execution, and rowCount, bytesScanned, the CSV twin and every
  * page come from it. A UDF that counts its calls sees each row once. */
class SingleExecutionSpec extends SparkSpec {

  /** Registers `name` as an identity UDF that counts its calls. */
  private def countingUdf(name: String) = {
    val calls = spark.sparkContext.longAccumulator(name)
    spark.udf.register(name, (x: Long) => { calls.add(1L); x })
    calls
  }

  private def walk(mgr: QueryExecutionManager, id: String, maxRows: Int)
      : Seq[Seq[Option[String]]] =
    Iterator.iterate(mgr.resultsPage(id, maxRows))(
      _.flatMap(_.nextToken).flatMap(t => mgr.resultsPage(id, maxRows, Some(t))))
      .takeWhile(_.isDefined).flatMap(_.get.rows).toSeq

  private def csvLines(dir: String, id: String): Seq[String] = {
    val parts = Files.list(Paths.get(dir, s"$id.csv")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size == 1, s"expected one CSV part file, got $parts")
    Files.readAllLines(parts.head).asScala.toSeq
  }

  test("a lifecycle query executes its plan once; stats and pages come from that run") {
    val dir = Files.createTempDirectory("graft_results_once").toString
    val mgr = new QueryExecutionManager(spark, dir)
    val calls = countingUdf("graft_once_f")
    val id = mgr.submit("SELECT graft_once_f(id) AS v FROM range(1000)")
    val st = mgr.await(id)
    assert(st.status == Status.Succeeded, st.reason)
    assert(calls.value == 1000L, "the query's plan ran more than once")
    val Some(stats) = mgr.stats(id)
    assert(stats.rowCount == 1000L)
    assert(stats.bytesScanned >= 0L)
    // the page walk serves the artifact's rows in the artifact's order
    val rows = walk(mgr, id, maxRows = 150).map(_.head.get)
    assert(rows.size == 1000)
    assert(rows == csvLines(dir, id).tail)
    assert(rows.map(_.toLong) == (0L until 1000L))
    // paging reads the rows it serves back, never the plan again
    assert(calls.value == 1000L)
    val Some(frame) = mgr.pageFrame(id, 300, 150)
    frame.collect()
    assert(BucketedLayout.collectExchanges(frame.queryExecution.executedPlan).isEmpty,
      s"a page must not shuffle\n${frame.queryExecution.executedPlan}")
  }

  /** Blocks until the status store has seen every job that ended before
    * the call: the listener bus delivers in order, so once a marker job's
    * end is visible, every earlier job's is too. */
  private def settled(): Unit = {
    val sc = spark.sparkContext
    val group = s"graft-settle-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "status-store marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val t0 = System.currentTimeMillis()
    def done = sc.statusTracker.getJobIdsForGroup(group).exists(j =>
      sc.statusTracker.getJobInfo(j).exists(_.status == JobExecutionStatus.SUCCEEDED))
    while (!done && System.currentTimeMillis() - t0 < 30000) Thread.sleep(20L)
    assert(done, "the marker job never reached the status store")
  }

  test("one Spark job writes the pages and the CSV twin, byte-identical to a read-back write") {
    val dir = Files.createTempDirectory("graft_results_one_job").toString
    val mgr = new QueryExecutionManager(spark, dir)
    countingUdf("graft_once_f")
    for ((sql, n) <- Seq("SELECT graft_once_f(id) AS v FROM range(1000)" -> 1000,
        "SELECT graft_once_f(id) AS v FROM range(0)" -> 0)) {
      val id = mgr.submit(sql)
      val st = mgr.await(id)
      assert(st.status == Status.Succeeded, st.reason)
      settled()
      val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(id)
      assert(jobs.length == 1, s"$sql ran ${jobs.length} jobs")
      val pages = Paths.get(dir, s"$id${QueryExecutionManager.PagesSuffix}")
      assert(!Retention.listed(pages).exists(_.toString.endsWith(".csv")))
      val lines = csvLines(dir, id)
      assert(lines == "v" +: (0 until n).map(_.toString), sql)
      // the CSV as the page path reads the rows back, written through its own job
      val out = Files.createTempDirectory("graft_results_readback").toString
      mgr.pageFrame(id, 0, n).get.write.option("header", "true").mode("overwrite").csv(out)
      def part(d: java.nio.file.Path) = Files.readAllBytes(
        Retention.listed(d).filter(_.getFileName.toString.startsWith("part-")).head)
      assert(part(Paths.get(dir, s"$id.csv")).sameElements(part(Paths.get(out))), sql)
    }
  }

  test("a result column with the row-index name fails in any case, before any job") {
    val dir = Files.createTempDirectory("graft_results_collide").toString
    val mgr = new QueryExecutionManager(spark, dir)
    for (name <- Seq(QueryExecutionManager.RowIdx, QueryExecutionManager.RowIdx.toUpperCase)) {
      val id = mgr.submit(s"SELECT id AS $name, id AS v FROM range(3)")
      val st = mgr.await(id)
      assert(st.status == Status.Failed, name)
      assert(st.reason.exists(_.contains(name)), st.reason)
      settled()
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(id).isEmpty, name)
      assert(!Retention.listed(Paths.get(dir)).exists(_.getFileName.toString.startsWith(id)))
      assert(mgr.resultsPage(id).isEmpty)
    }
  }

  test("await wakes when a running execution is cancelled") {
    val dir = Files.createTempDirectory("graft_results_await").toString
    val mgr = new QueryExecutionManager(spark, dir)
    val id = mgr.submit("SELECT max(xxhash64(id)) FROM range(20000000000)")
    val tracker = spark.sparkContext.statusTracker
    val t0 = System.currentTimeMillis()
    while (tracker.getActiveJobIds().isEmpty && System.currentTimeMillis() - t0 < 15000)
      Thread.sleep(20L)
    assert(tracker.getActiveJobIds().nonEmpty, "query job should have started")
    // a timeout still returns the current state
    assert(mgr.await(id, timeoutMs = 100L).status == Status.Running)
    Future { Thread.sleep(300L); mgr.cancel(id) }
    val t1 = System.currentTimeMillis()
    val st = mgr.await(id, timeoutMs = 120000L)
    val waited = System.currentTimeMillis() - t1
    assert(st.status == Status.Cancelled)
    assert(waited < 10000L, s"await took $waited ms to see the cancel")
    val t2 = System.currentTimeMillis()
    while (tracker.getActiveJobIds().nonEmpty && System.currentTimeMillis() - t2 < 20000)
      Thread.sleep(50L)
    assert(tracker.getActiveJobIds().isEmpty, "Spark jobs should actually stop")
  }
}
