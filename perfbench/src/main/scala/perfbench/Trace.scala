package perfbench

/** One timed interval at a layer boundary. Times are `System.nanoTime`
  * readings; `parent` is 0 for a root span (a request or a pass).
  */
final case class Span(id: Long, parent: Long, layer: String, name: String, startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run.
  *
  * Spans nest per thread. A span opened on a thread with no open span is
  * parented to [[root]], the request or pass the client is serving: the
  * streaming engine runs `foreachBatch` on its own thread, and the client
  * only ever has one request in flight. While a span is open its id is the
  * thread's `perfbench.span` Spark local property, so the Spark jobs it
  * launches can be attached to it by [[SparkCounters]].
  *
  * When `enabled` is false every call runs its body and records nothing.
  */
final class Trace(sc: Option[org.apache.spark.SparkContext]) {
  @volatile var enabled: Boolean = false
  @volatile var root: Long = 0L

  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def newId(): Long = nextId.incrementAndGet()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }

  /** Times `body` as a root span and makes it the parent of spans opened
    * on threads without an open span of their own.
    */
  def rootSpan[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = newId()
      root = id
      try timed(id, 0L, layer, name)(body) finally root = 0L
    }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = open.get().headOption.getOrElse(root)
      timed(newId(), parent, layer, name)(body)
    }

  private def timed[A](id: Long, parent: Long, layer: String, name: String)(body: => A): A = {
    val stack = open.get()
    open.set(id :: stack)
    val saved = sc.map(_.getLocalProperty(Trace.SpanProperty))
    sc.foreach(_.setLocalProperty(Trace.SpanProperty, id.toString))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.foreach(_.setLocalProperty(Trace.SpanProperty, saved.orNull))
      open.set(stack)
      spans.add(Span(id, parent, layer, name, t0, t1))
    }
  }
}

object Trace {
  val SpanProperty = "perfbench.span"

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover (overlapping children are counted
    * once, and a child reaching outside its parent counts only inside it).
    */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans
      .map { s =>
        val covered = unionLength(children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        s.layer -> (s.durationNs - covered)
      }
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Total length of the union of half-open intervals (empty ones ignored). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Writes the spans as JSON lines (one span per line). */
  def write(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"layer":${Stats.jsonString(s.layer)},""" +
        s""""name":${Stats.jsonString(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}
