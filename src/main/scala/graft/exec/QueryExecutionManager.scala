package graft.exec

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.concurrent.{ExecutionContext, Future}
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.core.Plans.planNodes

/** Query-execution lifecycle manager (SURVEY §3.3): reproduces the
  * observable Athena API the reference drives —
  * `start_query_execution → QueryExecutionId`, poll
  * `get_query_execution` for {RUNNING, SUCCEEDED, FAILED(reason),
  * CANCELLED}, `get_query_results` as header + stringified cells, and a
  * per-execution `<id>.csv` + `<id>.csv.metadata` artifact pair
  * (reference `test_pipeline.py:144-233`).
  *
  * Internally there is no polling: submission is a driver-side Future and
  * Spark executes the plan; the poll-shaped API exists for parity with
  * the reference's clients. Results are materialized through the engine
  * (collect) ONLY for the stringified-results call — the CSV artifact is
  * written distributed then coalesced, so a big result never transits the
  * driver as rows.
  */
final class QueryExecutionManager(spark: SparkSession, resultsDir: String)(
    implicit ec: ExecutionContext) {

  import QueryExecutionManager._

  private val states = new ConcurrentHashMap[String, ExecutionState]()
  /** Released when an execution leaves RUNNING: by its submit Future's
    * `finally`, or by a successful [[cancel]]. */
  private val finished = new ConcurrentHashMap[String, CountDownLatch]()

  Files.createDirectories(Paths.get(resultsDir))

  /** Submit a SQL string; returns the execution id immediately. Every
    * Spark job the execution launches is tagged with the execution id as
    * its job group, so [[cancel]] can actually stop the work — the
    * observable semantics of Athena's `stop_query_execution`
    * (`test_pipeline.py:169-217`), not just a status flip.
    *
    * `workgroup` maps onto a FAIR scheduler pool (round-14 verdict
    * item 4; reference workgroup semantics,
    * `data_pipeline_stack.py:152-163`): submissions from different
    * workgroups share the cluster FAIRLY at task granularity instead of
    * queueing FIFO behind each other — one tenant's saturating scan
    * cannot starve another tenant's dashboard query. Pools materialize
    * on first use (default weight 1 each, so N active workgroups each
    * get ~1/N of task slots); the session must run
    * `spark.scheduler.mode=FAIR` ([[graft.core.Sessions.local]] sets
    * it) — under FIFO the pool property is recorded but inert. */
  def submit(sql: String, workgroup: String = DefaultWorkgroup): String = {
    val id = UUID.randomUUID().toString
    val latch = new CountDownLatch(1)
    finished.put(id, latch)
    states.put(id, ExecutionState(id, sql, Status.Running, None, workgroup))
    Future {
      // job group is thread-local on the SparkContext: set it on the
      // executing thread so all actions below inherit it
      spark.sparkContext.setJobGroup(id, s"graft query $id", interruptOnCancel = true)
      // pool assignment is thread-local too, and must be cleared in the
      // same finally — the executor thread is pooled and the next
      // submission may belong to another workgroup
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", poolName(workgroup))
      try {
        val df = spark.sql(sql)
        if (Option(states.get(id)).forall(_.status == Status.Running))
          writeArtifacts(id, sql, df)
        states.computeIfPresent(id, (_, s) =>
          if (s.status == Status.Cancelled) s else s.copy(status = Status.Succeeded))
      } catch {
        case e: Exception =>
          states.computeIfPresent(id, (_, s) =>
            if (s.status == Status.Cancelled) s
            else s.copy(status = Status.Failed, reason = Some(e.getMessage)))
      } finally {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        spark.sparkContext.clearJobGroup()
        // a cancel that interrupted a running write leaves partial
        // artifacts — a cancelled execution must not surface results
        if (Option(states.get(id)).exists(_.status == Status.Cancelled))
          deleteArtifacts(id)
        latch.countDown()
      }
    }
    id
  }

  /** Status FSM — the `get_query_execution` shape. */
  def status(id: String): Option[ExecutionState] = Option(states.get(id))

  /** All known executions (the `list_query_executions` surface; teardown
    * uses it to stop in-flight work before purging artifacts). */
  def list(): Seq[ExecutionState] = states.values().asScala.toSeq

  /** Cancel: transitions RUNNING → CANCELLED and stops the underlying
    * Spark jobs via their job group (cooperative + task interrupt).
    * Returns whether the state actually transitioned — cancelling an
    * already-finished (or unknown) execution is a no-op and reports
    * false, matching the reference's terminal-state semantics. */
  def cancel(id: String): Boolean = {
    var transitioned = false
    states.computeIfPresent(id, (_, s) =>
      if (s.status == Status.Running) { transitioned = true; s.copy(status = Status.Cancelled) }
      else s)
    if (transitioned) {
      spark.sparkContext.cancelJobGroup(id)
      Option(finished.get(id)).foreach(_.countDown())
    }
    transitioned
  }

  /** Blocking helper for clients that want the poll loop collapsed:
    * wakes as soon as the execution leaves RUNNING and returns its
    * state — still RUNNING if `timeoutMs` passes first (null for an
    * unknown id). */
  def await(id: String, timeoutMs: Long = 60000L): ExecutionState = {
    Option(finished.get(id)).foreach(_.await(timeoutMs, TimeUnit.MILLISECONDS))
    states.get(id)
  }

  /** One page of `get_query_results`: header + stringified cells (the
    * VarCharValue model of `test_pipeline.py:181-198`; null → None) +
    * a continuation token. Athena pages at 1000 rows (the reference's
    * client walks NextToken); the driver only ever holds one page of
    * rows — a full-result `collect` at 100 TB is a driver OOM, paging
    * is the scale-safe surface.
    *
    * Pages are served from the row-indexed parquet twin of the CSV
    * artifact: the page predicate (`__graft_row >= start AND < end`)
    * pushes to the parquet row-group statistics, so page N reads only
    * the row groups covering its range — a full P-page walk is one pass
    * over the artifact, not the O(P²) rescans that `offset(start)` over
    * a CSV costs (each page re-reading every row before it). Pre-parquet
    * artifacts (or a query whose own schema uses the index column name)
    * fall back to the CSV offset path. Each page is one Spark job: the
    * page schema comes from the metadata sidecar (no footer inference)
    * and its rows are ordered within one partition (no range sort). */
  def resultsPage(id: String, maxRows: Int = 1000, pageToken: Option[String] = None)
      : Option[ResultPage] = {
    // malformed/negative tokens are invalid requests, not crashes —
    // the surface this models rejects them; None is our analogue
    val start = pageToken match {
      case None => 0
      case Some(t) => t.toIntOption.filter(_ >= 0).getOrElse(-1)
    }
    if (maxRows <= 0 || start < 0) return None
    pageFrame(id, start, maxRows).map { df =>
      val header = df.schema.fieldNames.toSeq
      val rows = df.collect().toSeq.map(r =>
        header.indices.map(i => Option(r.get(i)).map(_.toString)))
      val next = if (rows.size < maxRows) None else Some((start + maxRows).toString)
      ResultPage(header, rows, next)
    }
  }

  /** The lazy frame for one page — exposed for plan-shape specs (the
    * O(P)-walk property IS the pushed row-index predicate). */
  private[exec] def pageFrame(id: String, start: Int, maxRows: Int): Option[DataFrame] = {
    val pages = Paths.get(resultsDir, s"$id$PagesSuffix")
    val csv = Paths.get(resultsDir, s"$id.csv")
    // the sidecar is written last: pages without one are not a finished
    // execution's
    if (Files.exists(pages)) metadata(id).map { meta =>
      val schema = DataType.fromJson(meta.get("schema").toString).asInstanceOf[StructType]
      inRowOrder(readPages(pages.toString, schema)
        .filter(col(RowIdx) >= start.toLong && col(RowIdx) < start.toLong + maxRows))
    } else if (Files.exists(csv)) {
      val df = spark.read.options(CsvHeader).csv(csv.toString)
      Some(df.offset(start).limit(maxRows))
    } else None
  }

  /** Per-execution engine metrics parsed from the `.metadata` sidecar —
    * the workgroup-metrics surface (reference
    * `data_pipeline_stack.py:161` `publishCloudWatchMetrics`): rows
    * produced, wall time, and bytes actually scanned by the plan's file
    * sources. */
  def stats(id: String): Option[ExecutionStats] = metadata(id).flatMap { meta =>
    def num(field: String): Option[Long] =
      Option(meta.get(field)).filter(_.isIntegralNumber).map(_.asLong)
    for (n <- num("rowCount"); d <- num("durationMs"); b <- num("bytesScanned"))
      yield ExecutionStats(n, d, b)
  }

  /** The parsed `.metadata` sidecar; None until it is fully written. */
  private def metadata(id: String): Option[JsonNode] = {
    val p = Paths.get(resultsDir, s"$id.csv.metadata")
    if (!Files.exists(p)) None
    else Try(Json.readTree(Files.readString(p))).toOption.filter(_.isObject)
  }

  /** Convenience full-result walk over [[resultsPage]] — test/demo scale
    * only (the paged API is the production surface). */
  def results(id: String): Option[(Seq[String], Seq[Seq[Option[String]]])] =
    resultsPage(id).map { first =>
      val rows = Seq.newBuilder[Seq[Option[String]]]
      var page: Option[ResultPage] = Some(first)
      while (page.isDefined) {
        rows ++= page.get.rows
        page = page.get.nextToken.flatMap(t => resultsPage(id, pageToken = Some(t)))
      }
      (first.header, rows.result())
    }

  private def deleteArtifacts(id: String): Unit = {
    Retention.deleteRecursively(Paths.get(resultsDir, s"$id.csv"))
    Retention.deleteRecursively(Paths.get(resultsDir, s"$id$PagesSuffix"))
    Files.deleteIfExists(Paths.get(resultsDir, s"$id.csv.metadata"))
  }

  /** One execution of the query's plan, and no shuffle after it. The
    * row-indexed parquet page artifact is written as a command whose
    * executed plan is kept ([[writeOnce]]): that write IS the execution.
    * Its write node's `numOutputRows` is the metadata rowCount — the
    * rows actually written, so a non-deterministic query (LIMIT without
    * ORDER BY) cannot disagree with its own artifact — and `scanBytes`
    * over the same executed plan is bytesScanned. The CSV twin is read
    * back from the pages with the known schema and ordered within its
    * one partition: a local sort over the artifact, not a second run of
    * the plan. Nothing is cached between the two, so a result set is
    * never pinned in executor memory. A query whose own schema uses the
    * index column name is written CSV-only, through the same one write. */
  private def writeArtifacts(id: String, sql: String, df: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val target = Paths.get(resultsDir, s"$id.csv").toString
    val written = if (df.columns.contains(RowIdx)) {
      writeOnce(df.coalesce(1), "csv", target, CsvHeader)
    } else {
      // single partition ⇒ monotonically_increasing_id is 0..n-1 in
      // artifact row order, the paging key
      val pages = Paths.get(resultsDir, s"$id$PagesSuffix").toString
      val write = writeOnce(
        df.coalesce(1).withColumn(RowIdx, monotonically_increasing_id()), "parquet", pages)
      inRowOrder(readPages(pages, df.schema))
        .write.options(CsvHeader).mode("overwrite").csv(target)
      write
    }
    val n = planNodes(written).collectFirst {
      case w: DataWritingCommandExec => w.metrics("numOutputRows").value
    }.getOrElse(throw new IllegalStateException(s"no write node in\n$written"))
    val bytesScanned = scanBytes(written)
    val durationMs = (System.nanoTime() - t0) / 1000000L
    val schemaJson = df.schema.json
    val meta =
      s"""{"executionId":"$id","rowCount":$n,
         |"durationMs":$durationMs,"bytesScanned":$bytesScanned,
         |"query":${jsonString(sql)},
         |"schema":$schemaJson,
         |"completedAt":"${java.time.Instant.now()}"}""".stripMargin
    Files.writeString(Paths.get(resultsDir, s"$id.csv.metadata"), meta)
  }

  /** Runs `df`'s plan exactly once, as an overwrite of `path` in
    * `format`, and returns the executed write plan — its SQLMetrics are
    * populated by that one run. */
  private def writeOnce(df: DataFrame, format: String, path: String,
      options: Map[String, String] = Map.empty): SparkPlan = {
    val cmd = DataSource(spark, format, options = options + ("path" -> path))
      .planForWriting(SaveMode.Overwrite, df.queryExecution.commandExecuted)
    spark.sessionState.executePlan(cmd).commandExecuted
      .asInstanceOf[CommandResult].commandPhysicalPlan
  }

  /** The page artifact, read with the schema its execution recorded. */
  private def readPages(pages: String, schema: StructType): DataFrame =
    spark.read.schema(schema.add(RowIdx, LongType)).parquet(pages)

  /** Page-artifact rows in artifact order, index column dropped: one
    * partition sorted locally, so no range-sampling job and no exchange. */
  private def inRowOrder(pages: DataFrame): DataFrame =
    pages.coalesce(1).sortWithinPartitions(RowIdx).drop(RowIdx)
}

object QueryExecutionManager {

  /** Row-index column of the parquet page artifact. */
  private[exec] val RowIdx = "__graft_row"
  private[exec] val PagesSuffix = ".pages.parquet"
  private val CsvHeader = Map("header" -> "true")
  private val Json = new ObjectMapper()

  /** Workgroup a submission lands in when none is named — the
    * reference's own default workgroup name. */
  val DefaultWorkgroup = "primary"

  /** FAIR pool name for a workgroup (namespaced so a workgroup cannot
    * collide with pools other machinery might create). */
  private[exec] def poolName(workgroup: String): String = s"graft_wg_$workgroup"

  /** Sum of "size of files read" over every file-source scan in an
    * EXECUTED plan, including scans inside AQE query stages. */
  private[exec] def scanBytes(plan: SparkPlan): Long =
    planNodes(plan).flatMap(_.metrics.get("filesSize")).map(_.value).sum

  /** Engine metrics for one finished execution (the CloudWatch-workgroup
    * analogue): see [[QueryExecutionManager.stats]]. */
  final case class ExecutionStats(rowCount: Long, durationMs: Long, bytesScanned: Long)

  sealed abstract class Status(val name: String)
  object Status {
    case object Running extends Status("RUNNING")
    case object Succeeded extends Status("SUCCEEDED")
    case object Failed extends Status("FAILED")
    case object Cancelled extends Status("CANCELLED")
  }

  final case class ExecutionState(
      id: String, sql: String, status: Status, reason: Option[String],
      workgroup: String = DefaultWorkgroup)

  /** One `get_query_results` page: header, stringified cells, and the
    * continuation token for the next page (None on the last page). */
  final case class ResultPage(
      header: Seq[String],
      rows: Seq[Seq[Option[String]]],
      nextToken: Option[String])

  private[exec] def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Retention job (SURVEY §2.1 S7 TTL): the S3 lifecycle rule
  * (`data_pipeline_stack.py:44-51`, 7-day expiry on query results) as an
  * explicit cleanup pass. */
object Retention {

  def cleanup(resultsDir: String, maxAgeDays: Int = 7,
      now: Long = System.currentTimeMillis()): Seq[String] = {
    val root = Paths.get(resultsDir)
    if (!Files.exists(root)) return Nil
    val cutoff = now - maxAgeDays.toLong * 24 * 3600 * 1000
    val deleted = {
      val s = Files.list(root)
      try s.iterator().asScala
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .toList
      finally s.close()
    }
    deleted.foreach(deleteRecursively)
    deleted.map(_.getFileName.toString)
  }

  // graft-wide: also used by the layout lifecycles (IvfLayout /
  // PartitionedEventsLayout / ZOrderLayout) to drop superseded
  // per-corpus-version copies
  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val children = {
        val s = Files.list(p)
        try s.iterator().asScala.toList finally s.close()
      }
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }
}
