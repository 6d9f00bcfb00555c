package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One timed call into a graft layer. Counts are added by the listeners
  * while the span is open or after (listener events arrive late), so they
  * are kept apart from the timing fields. */
final class Span(val id: Long, val parent: Long, val name: String, val qid: String,
    val start: Long) {
  @volatile var end: Long = 0L
  val counts = new ConcurrentHashMap[String, DoubleAdder]()
  def add(key: String, v: Double): Unit =
    counts.computeIfAbsent(key, _ => new DoubleAdder()).add(v)
  def max(key: String, v: Double): Unit = {
    val a = counts.computeIfAbsent(key, _ => new DoubleAdder())
    a.synchronized { if (v > a.sum) { a.reset(); a.add(v) } }
  }
}

/** In-memory span recorder. With tracing off `span` runs its body and
  * records nothing, so the untraced run pays one branch per call. */
object Trace {
  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(1)
  private val all = new ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val byGroup = new ConcurrentHashMap[String, java.lang.Long]()
  private val current = new ThreadLocal[Span]
  val SpanProperty = "perfbench.span"

  def attach(context: SparkContext): Unit = sc = context

  def span[T](name: String, qid: String = "")(body: => T): T =
    if (!enabled) body else {
      val parent = current.get
      val s = new Span(ids.getAndIncrement(), if (parent == null) 0L else parent.id, name,
        if (qid.isEmpty && parent != null) parent.qid else qid, System.nanoTime())
      all.add(s)
      byId.put(s.id, s)
      current.set(s)
      val ctx = sc
      if (ctx != null) ctx.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        current.set(parent)
        if (ctx != null)
          ctx.setLocalProperty(SpanProperty, if (parent == null) null else parent.id.toString)
      }
    }

  /** Jobs tagged with Spark job group `group` (a lifecycle execution id)
    * run on graft's own threads; they are charged to the innermost span
    * open on the calling thread now. */
  def bindGroup(group: String): Unit =
    if (enabled) Option(current.get).foreach(s => byGroup.put(group, Long.box(s.id)))

  def currentSpan: Option[Span] = if (enabled) Option(current.get) else None

  /** The span a Spark job belongs to: its bound job group first, then the
    * span id the submitting thread carried as a local property. */
  def owner(group: String, spanId: String): Option[Span] =
    Option(group).flatMap(g => Option(byGroup.get(g))).map(_.longValue)
      .orElse(Option(spanId).flatMap(_.toLongOption))
      .flatMap(i => Option(byId.get(i)))

  def spans: Seq[Span] = all.asScala.toSeq
}
