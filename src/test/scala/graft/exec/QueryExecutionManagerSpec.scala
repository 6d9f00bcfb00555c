package graft.exec

import java.nio.file.{Files, Paths}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.exec.QueryExecutionManager.Status

class QueryExecutionManagerSpec extends SparkSpec {

  test("submit → SUCCEEDED with csv + metadata artifacts and results") {
    val dir = Files.createTempDirectory("graft_results").toString
    val mgr = new QueryExecutionManager(spark, dir)
    graft.core.Tables.registerAll(spark, sf)
    val id = mgr.submit("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
    val st = mgr.await(id)
    assert(st.status == Status.Succeeded, st.reason)
    assert(Files.exists(Paths.get(dir, s"$id.csv")))
    assert(Files.exists(Paths.get(dir, s"$id.csv.metadata")))
    val meta = Files.readString(Paths.get(dir, s"$id.csv.metadata"))
    assert(meta.contains("\"rowCount\":5"))
    val Some((header, rows)) = mgr.results(id)
    assert(header == Seq("r_regionkey", "r_name"))
    assert(rows.length == 5)
    assert(rows.forall(_.forall(_.isDefined)))
    assert(rows.map(_(1).get).contains("AFRICA"))
  }

  test("every column type is served as its string cast, in pages and CSV alike") {
    val dir = Files.createTempDirectory("graft_results_complex").toString
    val mgr = new QueryExecutionManager(spark, dir)
    val id = mgr.submit(
      """SELECT if(id = 0, array(1, 2), NULL) AS a, if(id = 0, map('k', 1), NULL) AS m,
        |  if(id = 0, named_struct('x', 1), NULL) AS s, id AS b,
        |  if(id = 0, TIMESTAMP'2024-01-15 10:30:00.123', NULL) AS ts,
        |  if(id = 0, DATE'2024-01-15', NULL) AS d, if(id = 0, 1.50BD, NULL) AS dec,
        |  if(id = 0, 1.0E7D, NULL) AS dbl, if(id = 0, true, NULL) AS bool,
        |  if(id = 0, X'4142', NULL) AS bin, if(id = 0, 'a,b', '') AS str
        |FROM range(2) ORDER BY id""".stripMargin)
    val st = mgr.await(id)
    assert(st.status == Status.Succeeded, st.reason)
    val Some((header, rows)) = mgr.results(id)
    assert(header == Seq("a", "m", "s", "b", "ts", "d", "dec", "dbl", "bool", "bin", "str"))
    assert(rows == Seq(
      Seq("[1, 2]", "{k -> 1}", "{1}", "0", "2024-01-15 10:30:00.123", "2024-01-15", "1.50",
        "1.0E7", "true", "AB", "a,b").map(Some(_)),
      Seq(None, None, None, Some("1"), None, None, None, None, None, None, Some(""))))
    // each page cell equals its CSV cell: null is empty, "" is quoted
    val part = Retention.listed(Paths.get(dir, s"$id.csv"))
      .filter(_.getFileName.toString.startsWith("part-"))
    assert(Files.readAllLines(part.head).asScala.toSeq == Seq(
      header.mkString(","),
      "\"[1, 2]\",{k -> 1},{1},0,2024-01-15 10:30:00.123,2024-01-15,1.50,1.0E7,true,AB,\"a,b\"",
      ",,,1,,,,,,,\"\""))
  }

  test("bad SQL → FAILED with a reason (StateChangeReason shape)") {
    val dir = Files.createTempDirectory("graft_results_f").toString
    val mgr = new QueryExecutionManager(spark, dir)
    val id = mgr.submit("SELECT * FROM nonexistent_table_xyz")
    val st = mgr.await(id)
    assert(st.status == Status.Failed)
    assert(st.reason.exists(_.nonEmpty))
    assert(mgr.results(id).isEmpty)
  }

  test("cancel stops the running Spark job and suppresses artifacts") {
    val dir = Files.createTempDirectory("graft_results_c").toString
    val mgr = new QueryExecutionManager(spark, dir)
    // a genuinely long scan (billions of hashes) — cancellation must kill
    // it mid-flight, not wait it out
    val id = mgr.submit("SELECT max(xxhash64(id)) FROM range(20000000000)")
    val tracker = spark.sparkContext.statusTracker
    val t0 = System.currentTimeMillis()
    while (tracker.getActiveJobIds().isEmpty && System.currentTimeMillis() - t0 < 15000)
      Thread.sleep(20L)
    assert(tracker.getActiveJobIds().nonEmpty, "query job should have started")
    assert(mgr.cancel(id), "cancel of a RUNNING execution should transition")
    assert(mgr.status(id).exists(_.status == Status.Cancelled))
    val t1 = System.currentTimeMillis()
    while (tracker.getActiveJobIds().nonEmpty && System.currentTimeMillis() - t1 < 20000)
      Thread.sleep(50L)
    assert(tracker.getActiveJobIds().isEmpty, "Spark jobs should actually stop")
    // terminal state is stable, re-cancel is a no-op, no artifacts surface
    assert(!mgr.cancel(id))
    Thread.sleep(200L) // let the submit Future run its cleanup
    assert(mgr.status(id).exists(_.status == Status.Cancelled))
    assert(!Files.exists(Paths.get(dir, s"$id.csv")))
    assert(mgr.results(id).isEmpty)
  }

  test("cancel of a finished execution reports false and keeps artifacts") {
    val dir = Files.createTempDirectory("graft_results_cf").toString
    val mgr = new QueryExecutionManager(spark, dir)
    graft.core.Tables.registerAll(spark, sf)
    val id = mgr.submit("SELECT r_regionkey FROM region")
    assert(mgr.await(id).status == Status.Succeeded)
    assert(!mgr.cancel(id))
    assert(mgr.status(id).exists(_.status == Status.Succeeded))
    assert(Files.exists(Paths.get(dir, s"$id.csv")))
  }

  test("results paging walks NextToken and never over-fetches") {
    val dir = Files.createTempDirectory("graft_results_p").toString
    val mgr = new QueryExecutionManager(spark, dir)
    graft.core.Tables.registerAll(spark, sf)
    val id = mgr.submit("SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")
    assert(mgr.await(id).status == Status.Succeeded)
    val Some(p1) = mgr.resultsPage(id, maxRows = 10)
    assert(p1.header == Seq("n_nationkey", "n_name"))
    assert(p1.rows.length == 10 && p1.nextToken.contains("10"))
    val Some(p2) = mgr.resultsPage(id, maxRows = 10, pageToken = p1.nextToken)
    assert(p2.rows.length == 10 && p2.nextToken.contains("20"))
    val Some(p3) = mgr.resultsPage(id, maxRows = 10, pageToken = p2.nextToken)
    assert(p3.rows.length == 5 && p3.nextToken.isEmpty)
    // pages concatenate to the full ordered result
    val all = (p1.rows ++ p2.rows ++ p3.rows).map(_.head.get.toInt)
    assert(all == (0 until 25).toList)
  }

  test("metadata sidecar carries engine metrics and stats() surfaces them") {
    val dir = Files.createTempDirectory("graft_results_m").toString
    val mgr = new QueryExecutionManager(spark, dir)
    graft.core.Tables.registerAll(spark, sf)
    // the query text round-trips through the sidecar's JSON intact
    val sql = "SELECT o_orderpriority, count(*) AS n FROM orders\n\t-- \"q\" \\ \u0001\n" +
      "GROUP BY o_orderpriority"
    val id = mgr.submit(sql)
    assert(mgr.await(id).status == Status.Succeeded)
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(dir, s"$id.csv.metadata")))
    assert(meta.get("query").asText == sql)
    assert(meta.get("schema").isObject)
    val Some(st) = mgr.stats(id)
    assert(st.rowCount == 5)
    assert(st.durationMs > 0)
    assert(st.bytesScanned > 0, "the plan scanned parquet — bytes must be non-zero")
    assert(mgr.stats("no-such-id").isEmpty)
  }

  test("page walk pushes the row-index predicate into the parquet artifact") {
    val dir = Files.createTempDirectory("graft_results_px").toString
    val mgr = new QueryExecutionManager(spark, dir)
    graft.core.Tables.registerAll(spark, sf)
    val id = mgr.submit("SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")
    assert(mgr.await(id).status == Status.Succeeded)
    assert(Files.exists(Paths.get(dir, s"$id${QueryExecutionManager.PagesSuffix}")))
    val Some(frame) = mgr.pageFrame(id, 10, 10)
    val plan = frame.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the O(P)-walk property: each page reads only the row groups its
    // range touches, because the index predicate reaches the scan
    assert(raw"PushedFilters: \[[^\]]*__graft_row".r.findFirstIn(plan).isDefined,
      s"row-index predicate not pushed\n$plan")
  }

  test("a page artifact without its metadata sidecar is not served") {
    val dir = Files.createTempDirectory("graft_results_nosidecar").toString
    val mgr = new QueryExecutionManager(spark, dir)
    // what a RUNNING execution (or a cancelled one before its cleanup)
    // leaves: pages on disk, no sidecar yet
    val id = "partial-pages"
    val rows = spark.sql(
      s"SELECT id AS x, char(97 + id) AS y, id AS ${QueryExecutionManager.RowIdx} FROM range(2)")
    rows.write.parquet(Paths.get(dir, s"$id${QueryExecutionManager.PagesSuffix}").toString)
    assert(mgr.resultsPage(id).isEmpty, "a result without its sidecar is not finished")
    // the sidecar, written last, is what makes the same rows servable
    val schema = rows.drop(QueryExecutionManager.RowIdx).schema.json
    Files.writeString(Paths.get(dir, s"$id.csv.metadata"), s"""{"schema":$schema}""")
    val Some(page) = mgr.resultsPage(id)
    assert(page.header == Seq("x", "y"))
    assert(page.rows == Seq(Seq(Some("0"), Some("a")), Seq(Some("1"), Some("b"))))
  }

  test("workgroup pools: a saturating workgroup cannot starve another") {
    // round-14 verdict item 4 (reference workgroup semantics,
    // data_pipeline_stack.py:152-163): submissions map to FAIR pools,
    // so a later small query from another workgroup gets task slots as
    // they free instead of queueing FIFO behind every pending task of
    // the saturating job. Under FIFO this test fails: the dashboard
    // query would only run after the ETL scan fully drains.
    assert(spark.sparkContext.getConf.get("spark.scheduler.mode") == "FAIR",
      "session must run the FAIR scheduler (Sessions.local sets it)")
    val dir = Files.createTempDirectory("graft_results_wg").toString
    val mgr = new QueryExecutionManager(spark, dir)
    // 32 tasks of ~150M hashes each on 4 cores: saturates the cluster
    // for tens of seconds, freeing a slot every couple of seconds
    val slow = mgr.submit(
      "SELECT max(xxhash64(id)) FROM range(0, 4800000000, 1, 32)",
      workgroup = "etl")
    val tracker = spark.sparkContext.statusTracker
    val t0 = System.currentTimeMillis()
    while (tracker.getActiveJobIds().isEmpty && System.currentTimeMillis() - t0 < 15000)
      Thread.sleep(20L)
    assert(tracker.getActiveJobIds().nonEmpty, "ETL scan should have started")
    val fast = mgr.submit("SELECT 1 AS one", workgroup = "dashboard")
    val stFast = mgr.await(fast, timeoutMs = 60000)
    assert(stFast.status == Status.Succeeded, stFast.reason)
    assert(mgr.status(slow).exists(_.status == Status.Running),
      "the saturating workgroup must still be running when the small one finished")
    // each workgroup materialized its own named pool
    val pools = spark.sparkContext.getAllPools.map(_.name).toSet
    assert(pools.contains("graft_wg_etl") && pools.contains("graft_wg_dashboard"),
      s"expected per-workgroup pools, got $pools")
    // workgroup is part of the observable execution state
    assert(mgr.status(slow).exists(_.workgroup == "etl"))
    assert(mgr.status(fast).exists(_.workgroup == "dashboard"))
    assert(mgr.cancel(slow))
    val t1 = System.currentTimeMillis()
    while (tracker.getActiveJobIds().nonEmpty && System.currentTimeMillis() - t1 < 20000)
      Thread.sleep(50L)
    assert(tracker.getActiveJobIds().isEmpty)
  }

  test("cancel kills only its own workgroup's execution") {
    val dir = Files.createTempDirectory("graft_results_wg2").toString
    val mgr = new QueryExecutionManager(spark, dir)
    graft.core.Tables.registerAll(spark, sf)
    val doomed = mgr.submit(
      "SELECT max(xxhash64(id)) FROM range(0, 4800000000, 1, 32)",
      workgroup = "etl")
    val survivor = mgr.submit(
      "SELECT count(*) AS n FROM region", workgroup = "adhoc")
    val tracker = spark.sparkContext.statusTracker
    val t0 = System.currentTimeMillis()
    while (tracker.getActiveJobIds().isEmpty && System.currentTimeMillis() - t0 < 15000)
      Thread.sleep(20L)
    assert(mgr.cancel(doomed), "cancel of the running ETL query should transition")
    // the OTHER workgroup's execution is untouched: it completes with
    // artifacts while the cancelled one surfaces none
    val st = mgr.await(survivor, timeoutMs = 60000)
    assert(st.status == Status.Succeeded, st.reason)
    assert(Files.exists(Paths.get(dir, s"$survivor.csv")))
    assert(mgr.status(doomed).exists(_.status == Status.Cancelled))
    Thread.sleep(300L) // let the doomed submit Future run its cleanup
    assert(!Files.exists(Paths.get(dir, s"$doomed.csv")))
    val t1 = System.currentTimeMillis()
    while (tracker.getActiveJobIds().nonEmpty && System.currentTimeMillis() - t1 < 20000)
      Thread.sleep(50L)
    assert(tracker.getActiveJobIds().isEmpty)
  }

  test("retention deletes only artifacts older than the TTL") {
    val dir = Files.createTempDirectory("graft_results_r").toString
    val old = Paths.get(dir, "old.csv")
    val fresh = Paths.get(dir, "fresh.csv")
    Files.createDirectory(old)
    Files.writeString(old.resolve("part-0.csv"), "a\n1")
    Files.createDirectory(fresh)
    val eightDaysMs = 8L * 24 * 3600 * 1000
    Files.setLastModifiedTime(old,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - eightDaysMs))
    val deleted = Retention.cleanup(dir, maxAgeDays = 7)
    assert(deleted == Seq("old.csv"))
    assert(!Files.exists(old) && Files.exists(fresh))
  }
}
