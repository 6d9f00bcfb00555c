package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counts engine work per stage and charges it to spans once the run is
  * over. Listener events arrive after the work they describe, so owners
  * are resolved at [[attribute]] time, not when the event lands. */
final class EngineListener extends SparkListener {
  private case class Owner(group: String, span: String)
  private val jobOwner = new ConcurrentHashMap[Int, Owner]()
  private val stageOwner = new ConcurrentHashMap[Int, Owner]()
  // tasks, task_cpu_ms, shuffle_bytes, spill_bytes, input_bytes
  private val stageCounts = new ConcurrentHashMap[Int, Array[Double]]()
  @volatile private var marker: CountDownLatch = _
  private val MarkerProperty = "perfbench.marker"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    if (p != null && p.getProperty(MarkerProperty) != null) return
    val o = Owner(
      if (p == null) null else p.getProperty("spark.jobGroup.id"),
      if (p == null) null else p.getProperty(Trace.SpanProperty))
    jobOwner.put(e.jobId, o)
    e.stageIds.foreach(stageOwner.put(_, o))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = stageCounts.computeIfAbsent(e.stageId, _ => new Array[Double](5))
    c.synchronized {
      c(0) += 1
      c(1) += m.executorCpuTime / 1e6
      c(2) += m.shuffleWriteMetrics.bytesWritten
      c(3) += m.diskBytesSpilled + m.memoryBytesSpilled
      c(4) += m.inputMetrics.bytesRead
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (!jobOwner.containsKey(e.jobId) && marker != null) marker.countDown()

  /** Run a marker job and wait until this listener has seen it end: every
    * event posted before it has then been delivered. */
  def drain(spark: SparkSession): Unit = {
    marker = new CountDownLatch(1)
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerProperty, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerProperty, null)
    marker.await(30, TimeUnit.SECONDS)
  }

  def attribute(): Unit = {
    jobOwner.asScala.foreach { case (_, o) =>
      Trace.owner(o.group, o.span).foreach(_.add("jobs", 1))
    }
    val names = Seq("tasks", "task_cpu_ms", "shuffle_bytes", "spill_bytes", "input_bytes")
    stageCounts.asScala.foreach { case (stage, c) =>
      Option(stageOwner.get(stage)).flatMap(o => Trace.owner(o.group, o.span)).foreach { s =>
        names.indices.foreach(i => s.add(names(i), c(i)))
      }
    }
  }
}

/** Charges micro-batch progress to the drain span that started the query.
  * Drains run one at a time and `start()` returns only after
  * `onQueryStarted` has run, so the span in [[active]] at that moment
  * owns every later event of the run. */
final class DrainListener extends StreamingQueryListener {
  private val owner = new ConcurrentHashMap[java.util.UUID, Span]()
  @volatile var active: Span = _

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    Option(active).foreach(owner.put(e.runId, _))

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    Option(owner.get(p.runId)).foreach { s =>
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      s.add("batches", 1)
      s.add("batch_ms", ms("triggerExecution"))
      s.add("commit_ms", ms("walCommit") + ms("commitOffsets"))
      s.max("state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      s.max("state_mem_bytes", p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
