package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.concurrent.ExecutionContext
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.catalog.TableRegistry
import graft.core.{Materialize, Tables}
import graft.exec.QueryExecutionManager
import graft.sources.{ExtractJob, Flattener, HttpJsonSource}

object DiskBytes {
  /** Bytes of the data files under `root` (checksum sidecars excluded). */
  def under(root: String): Long =
    if (!Files.exists(Paths.get(root))) 0L
    else Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum
}

/** The lifecycle a SQL client runs: submit → await → walk every page →
  * stats. Every cell of every page is touched, so the walk is the
  * consumer of the result. */
final class Lifecycle(r: Run, val resultsDir: String) {
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(r.cores)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
  val mgr = new QueryExecutionManager(r.spark, resultsDir)

  /** Runs `sql` as one operation; returns the op and its execution id. */
  def query(kind: String, name: String, sql: String, workgroup: String,
      client: Int = 0): (Op, String) = {
    var id = ""
    val op = r.timed(kind, name, "exec.query", name) {
      val t0 = System.nanoTime()
      id = Trace.span("exec.submit")(mgr.submit(sql, workgroup))
      val t1 = System.nanoTime()
      val st = Trace.span("exec.wait") { Trace.bindGroup(id); mgr.await(id, 600000L) }
      if (st.status != QueryExecutionManager.Status.Succeeded)
        throw new RuntimeException(s"${st.status.name}: ${st.reason.getOrElse("")}")
      val t2 = System.nanoTime()
      var pages, rows = 0L
      var bytes = 0L
      Trace.span("exec.fetch") {
        var page = mgr.resultsPage(id)
        while (page.isDefined) {
          pages += 1
          page.get.rows.foreach { row =>
            rows += 1
            row.foreach(c => bytes += c.map(_.length).getOrElse(0))
          }
          page = page.get.nextToken.flatMap(t => mgr.resultsPage(id, pageToken = Some(t)))
        }
      }
      val t3 = System.nanoTime()
      val engine = mgr.stats(id).map(_.durationMs.toDouble).getOrElse(-1.0)
      val artifact = if (!r.tracing) 0.0 else {
        val s = Files.list(Paths.get(resultsDir))
        try s.iterator().asScala.filter(_.getFileName.toString.startsWith(id))
          .map(p => DiskBytes.under(p.toString)).sum.toDouble
        finally s.close()
      }
      Map("submit_ms" -> (t1 - t0) / 1e6, "wait_ms" -> (t2 - t1) / 1e6,
        "fetch_ms" -> (t3 - t2) / 1e6, "engine_ms" -> engine, "pages" -> pages.toDouble,
        "rows" -> rows.toDouble, "result_bytes" -> bytes.toDouble,
        "artifact_bytes" -> artifact, "client" -> client.toDouble)
    }
    (op, id)
  }

  def pagesPath(id: String): String = s"$resultsDir/$id.pages.parquet"

  def close(): Unit = pool.shutdown()
}

/** Daily extract + crawl cycles, then tenants in their own FAIR
  * workgroups running the canonical `raw_data` queries and the relational
  * inventory through the lifecycle, each client its share of a seeded
  * order, until the window closes and every client has run its share. */
final class AthenaDaily(r: Run) extends Workload {
  private val a = r.plan.get("athena")
  private val db = "data_pipeline_db"
  private val table = s"$db.raw_data"
  private val relational = r.strs(a.get("relational")).toSet
  private val sql: Map[String, String] =
    a.get("canonical").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap ++
      relational.map(q => q -> SparkEntry.oracleSql(q))
  private val clients = a.get("clients").elements().asScala.map(r.strs).toSeq
  private val rawRoot = s"${r.work}/raw-data"
  private def body(path: String) = Files.readString(Paths.get(path))

  def warmup(dir: String): Unit = {
    Tables.registerAll(r.spark, dir)
    val lc = new Lifecycle(r, s"$dir/results")
    r.strs(a.get("warm_queries")).foreach(q => lc.query("warmup", q, sql(q), "warm"))
    lc.close()
  }

  def run(): Unit = {
    r.strs(a.get("bodies")).zipWithIndex.foreach { case (path, c) =>
      val b = body(path)
      val cycle = s"cycle-$c"
      r.timed("extract", cycle, "sources.extract") {
        val res = ExtractJob.run(r.spark, rawRoot, _ => Right(b))
        if (res.statusCode != 200) throw new RuntimeException(res.error.getOrElse("extract failed"))
        Map("rows" -> res.recordsProcessed.toDouble)
      }
      if (r.tracing) Trace.span("sources.parse", cycle) {
        r.consume(Flattener.stamp(Flattener.flatten(HttpJsonSource.parse(r.spark, b))))
      }
      val bytes = DiskBytes.under(rawRoot)
      r.timed("crawl", cycle, "catalog.crawl") {
        val cr = TableRegistry.crawl(r.spark, rawRoot, db, "raw_data")
        Map("partitions" -> cr.partitions.toDouble, "tree_bytes" -> bytes.toDouble)
      }
      if (r.tracing) {
        Trace.span("catalog.infer", cycle)(TableRegistry.inferSchema(r.spark, rawRoot))
        Trace.span("catalog.msck", cycle)(TableRegistry.recoverPartitions(r.spark, table))
      }
    }
    val lc = new Lifecycle(r, s"${r.work}/query-results")
    val deadline = System.nanoTime() + (r.seconds * 1e9).toLong
    val checked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val threads = clients.zipWithIndex.map { case (order, i) =>
      new Thread(() => {
        var k = 0
        while (k < order.size || System.nanoTime() < deadline) {
          val q = order(k % order.size)
          k += 1
          val (op, id) = lc.query("sql", q, sql(q), s"tenant$i", i)
          if (op.ok && checked.add(q))
            r.checks.synchronized(r.checks += Map("kind" -> "sql", "name" -> q,
              "path" -> lc.pagesPath(id), "rows" -> op.fields("rows").toLong.toString) ++
              (if (relational(q)) Map("oracle" -> q) else Map.empty))
        }
      }, s"perfbench-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    lc.close()
  }

  override def traceExtras(): Unit =
    sql.toSeq.filter(e => relational(e._1)).sortBy(_._1).foreach { case (q, text) =>
      Trace.span("operators.relational", q)(r.consume(r.spark.sql(text)))
    }
}

/** Per cycle: a fresh copy of the corpus (so every per-corpus artifact
  * cache misses), a cold pass of the shared builds and the LLM query set,
  * the table functions through the lifecycle, the curation job, and
  * `warm_passes` warm passes of the same builds and queries on the same
  * copy. Cycles repeat until the window closes (at least one); then every
  * stateful drain runs once on the default (HDFS-backed) state store and
  * once on RocksDB, in the seeded order. */
final class CurationLlm(r: Run) extends Workload {
  private val c = r.plan.get("curation")
  private val builds = r.strs(c.get("builds"))
  private val warmPasses = c.get("warm_passes").asInt
  private val queries = r.strs(c.get("queries"))
  private val tvfs = c.get("tvfs").elements().asScala
    .map(n => (n.get("name").asText, n.get("sql").asText, n.get("oracle").asText)).toSeq
  private val family: Map[String, String] =
    c.get("family").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  private val buildFns = graft.operators.SharedStages.builds.toMap
  private val drainOrder = c.get("drains").elements().asScala
    .map(n => (n.get(0).asText, n.get(1).asText)).toSeq
  private val ProviderConf = "spark.graft.streaming.stateStoreProvider"

  private def pass(kind: String, dir: String): Unit = {
    builds.foreach { b =>
      r.timed(s"${kind}_build", b, if (kind == "cold") "operators.cache_build"
        else "operators.cache_hit", s"$kind-$b") { buildFns(b)(r.spark, dir); Map.empty }
    }
    queries.foreach { q =>
      r.timed(kind, q, s"operators.${family(q)}", s"$kind-$q") {
        r.consume(SparkEntry.queries(q)(r.spark, dir)); Map.empty
      }
    }
  }

  def warmup(dir: String): Unit = {
    Tables.registerAll(r.spark, dir)
    r.strs(c.get("warm_builds")).foreach(b => buildFns(b)(r.spark, dir))
    r.strs(c.get("warm_queries")).foreach(q => r.consume(SparkEntry.queries(q)(r.spark, dir)))
    r.strs(c.get("warm_drains")).foreach(d => drain(d, "hdfs", dir))
  }

  private def drain(name: String, provider: String, dir: String)
      : (Op, org.apache.spark.sql.DataFrame) = {
    var df: org.apache.spark.sql.DataFrame = null
    r.spark.conf.set(ProviderConf, provider)
    val op =
      try r.timed("drain", s"$name@$provider", "streaming.drain") {
        r.drains.active = Trace.currentSpan.orNull
        df = SparkEntry.queries(name)(r.spark, dir)
        r.consume(df)
        Map.empty
      } finally {
        r.drains.active = null
        r.spark.conf.unset(ProviderConf)
      }
    (op, df)
  }

  def run(): Unit = {
    val deadline = System.nanoTime() + (r.seconds * 1e9).toLong
    val copies = r.strs(c.get("copies")).iterator
    var cycle = 0
    while (cycle == 0 || (System.nanoTime() < deadline && copies.hasNext)) {
      val dir = s"${r.work}/${copies.next()}"
      r.copyTables(r.dataDir, dir)
      val t0 = System.nanoTime()
      pass("cold", dir)
      Tables.registerAll(r.spark, dir)
      val lc = new Lifecycle(r, s"$dir/query-results")
      tvfs.foreach { case (name, text, oracle) =>
        val (op, id) = Trace.span("functions.tvf", name)(lc.query("tvf", name, text, "curation"))
        if (cycle == 0 && op.ok) r.checks += Map("kind" -> "tvf", "name" -> name,
          "path" -> lc.pagesPath(id), "rows" -> op.fields("rows").toLong.toString) ++
          (if (oracle.nonEmpty) Map("oracle" -> oracle) else Map.empty)
      }
      lc.close()
      val out = s"$dir/curated"
      r.timed("curation", s"cycle-$cycle", "jobs.curation") {
        graft.jobs.CurationPipeline.run(r.spark, dir, out)
        Map("out_bytes" -> DiskBytes.under(out).toDouble,
          "doc_bytes" -> Files.size(Paths.get(dir, "documents.parquet")).toDouble)
      }
      (1 to warmPasses).foreach(_ => pass("warm", dir))
      r.record(Op("cycle", s"cycle-$cycle", t0, r.ms(t0), ok = true, ""))
      if (cycle == 0) {
        r.checks += Map("kind" -> "curation", "name" -> "curation_manifest", "path" -> out)
        queries.foreach { q =>
          val path = s"${r.work}/check/$q"
          SparkEntry.queries(q)(r.spark, dir).write.mode("overwrite").parquet(path)
          r.checks += Map("kind" -> "llm", "name" -> q, "path" -> path, "oracle" -> q)
        }
        if (r.tracing) Trace.span("core.materialize", s"cycle-$cycle") {
          Materialize.once(graft.operators.Curation.ledger(r.spark, dir)).unpersist()
        }
      }
      r.sampleHeap()
      cycle += 1
    }
    drainOrder.foreach { case (name, provider) =>
      val (op, df) = drain(name, provider, r.dataDir)
      if (op.ok) {
        val path = s"${r.work}/check/$name@$provider"
        df.write.mode("overwrite").parquet(path)
        r.checks += Map("kind" -> "drain", "name" -> s"$name@$provider", "path" -> path,
          "oracle" -> name)
      }
    }
  }
}
