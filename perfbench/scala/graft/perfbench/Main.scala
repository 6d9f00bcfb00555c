package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Sessions, Tables}

/** Benchmark process: `Main <plan.json> <result.json>`.
  *
  * The plan (written by `perfbench/run.py` from the seed) names the
  * workload, the generated inputs and the scratch directories; this
  * process sets up the session, runs the workload's closed loop against
  * graft's public entry points and writes raw per-operation records,
  * result locations for the oracle check and, when tracing, the spans.
  * Metrics and the oracle comparison are computed by `run.py`. */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val run = new Run(mapper.readTree(Paths.get(args(0)).toFile))
    val code =
      try { run.execute(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    run.write(Paths.get(args(1)))
    // exit now rather than wait on whatever non-daemon threads remain
    System.exit(code)
  }
}

/** One timed operation. `fields` holds the per-kind numbers. */
final case class Op(kind: String, name: String, startNs: Long, ms: Double, ok: Boolean,
    error: String, fields: Map[String, Double] = Map.empty)

final class Run(val plan: JsonNode) {
  val workload: String = plan.get("workload").asText
  val seconds: Double = plan.get("seconds").asDouble
  val cores: Int = plan.get("cores").asInt
  val dataDir: String = plan.get("data_dir").asText
  val work: String = plan.get("work_dir").asText
  val tracing: Boolean = plan.get("trace").asBoolean

  val ops = new ArrayBuffer[Op]()
  val checks = new ArrayBuffer[Map[String, String]]()
  val setups = new ArrayBuffer[Map[String, Double]]()
  val heapMb = new ArrayBuffer[Double]()
  var measureStartNs = 0L
  var measureEndNs = 0L
  var gcMs = 0.0
  var spark: SparkSession = _
  val engines = new ArrayBuffer[EngineListener]()
  val drains = new DrainListener

  def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def record(op: Op): Unit = ops.synchronized(ops += op)

  /** Time `body` as one operation of kind `kind`, traced as span `span`. */
  def timed(kind: String, name: String, span: String, qid: String = "")(
      body: => Map[String, Double]): Op = {
    val t0 = System.nanoTime()
    val (ok, err, fields) =
      try (true, "", Trace.span(span, if (qid.isEmpty) name else qid)(body))
      catch { case e: Throwable => (false, Option(e.getMessage).getOrElse(e.toString).take(300), Map.empty[String, Double]) }
    val op = Op(kind, name, t0, (System.nanoTime() - t0) / 1e6, ok, err, fields)
    record(op)
    op
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Consume every row and column of `df` without collecting it. */
  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Old-generation usage right after a full collection, in MB. Called
    * outside timed regions only. The second collection frees what Spark's
    * ContextCleaner released (broadcast and shuffle state of frames the
    * first one found unreachable). */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    heapMb += old.map(_.getUsage.getUsed).sum / 1048576.0
  }

  def gcTotalMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  def buildSession(): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Sessions.local("perfbench", cores)
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.graft.streamResultsDir", s"$work/stream-results")
    s
  }

  /** Session build, `Sessions.prepare`, warmup on the small warmup tables
    * and view registration over the timed tables, `setup_reps` times; the
    * last session is kept. Each warmup reads its own copy of the warmup
    * tables, so no per-corpus cache built by an earlier (now stopped)
    * session is reused. */
  def setup(w: Workload): Unit = {
    val reps = plan.get("setup_reps").asInt
    for (rep <- 1 to reps) {
      val t0 = System.nanoTime()
      spark = Trace.span("core.session")(buildSession())
      if (tracing) {
        // one engine listener per SparkContext: job and stage ids restart
        Trace.attach(spark.sparkContext)
        engines += new EngineListener
        spark.sparkContext.addSparkListener(engines.last)
        spark.streams.addListener(drains)
      }
      Trace.span("core.session")(Sessions.prepare(spark))
      val t1 = System.nanoTime()
      val warmDir = s"$work/warm-$rep"
      copyTables(plan.get("warm_dir").asText, warmDir)
      Trace.span("core.warmup")(w.warmup(warmDir))
      val t2 = System.nanoTime()
      Trace.span("core.views")(Tables.registerAll(spark, dataDir))
      val t3 = System.nanoTime()
      setups += Map("session_ms" -> (t1 - t0) / 1e6, "warmup_ms" -> (t2 - t1) / 1e6,
        "views_ms" -> (t3 - t2) / 1e6, "total_ms" -> (t3 - t0) / 1e6)
    }
  }

  def copyTables(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    Tables.names.foreach { t =>
      Files.copy(Paths.get(from, s"$t.parquet"), Paths.get(to, s"$t.parquet"))
    }
  }

  def execute(): Unit = {
    Trace.enabled = tracing
    val w: Workload = workload match {
      case "athena_daily" => new AthenaDaily(this)
      case "curation_llm" => new CurationLlm(this)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    setup(w)
    ops.clear()
    sampleHeap()
    val gc0 = gcTotalMs()
    measureStartNs = System.nanoTime()
    w.run()
    measureEndNs = System.nanoTime()
    gcMs = gcTotalMs() - gc0
    sampleHeap()
    if (tracing) {
      w.traceExtras()
      engines.last.drain(spark)
      Thread.sleep(500) // streaming progress events travel on their own queue
      engines.foreach(_.attribute())
    }
  }

  def write(path: Path): Unit = {
    val root = Main.mapper.createObjectNode()
    def put(n: ObjectNode, m: Map[String, Double]): ObjectNode = {
      m.foreach { case (k, v) => n.put(k, v) }; n
    }
    val setupArr = root.putArray("setup")
    setups.foreach(s => put(setupArr.addObject(), s))
    val opArr = root.putArray("ops")
    ops.foreach { o =>
      val n = opArr.addObject()
      n.put("kind", o.kind).put("name", o.name).put("ms", o.ms).put("ok", o.ok)
        .put("error", o.error).put("start_ms", (o.startNs - measureStartNs) / 1e6)
      put(n, o.fields)
    }
    val chk = root.putArray("checks")
    checks.foreach(c => c.foldLeft(chk.addObject())((n, kv) => n.put(kv._1, kv._2)))
    val oracleSql = graft.SparkEntry.oracleSql
    val oracles = root.putObject("oracles")
    checks.flatMap(_.get("oracle")).distinct.foreach(o => oracles.put(o, oracleSql(o)))
    val heap = root.putArray("heap_after_gc_mb")
    heapMb.foreach(heap.add(_))
    root.put("measure_s", (measureEndNs - measureStartNs) / 1e9)
    root.put("gc_ms", gcMs)
    val spanArr = root.putArray("spans")
    Trace.spans.foreach { s =>
      val n = spanArr.addObject()
      n.put("id", s.id).put("parent", s.parent).put("name", s.name).put("qid", s.qid)
        .put("start_ms", (s.start - measureStartNs) / 1e6)
        .put("end_ms", (s.end - measureStartNs) / 1e6)
      val c = n.putObject("counts")
      s.counts.asScala.foreach { case (k, v) => c.put(k, v.sum) }
    }
    Files.writeString(path, Main.mapper.writeValueAsString(root))
  }
}

trait Workload {
  def warmup(warmDir: String): Unit
  def run(): Unit
  /** Untimed work only the traced run does (layer-alone timings). */
  def traceExtras(): Unit = ()
}
