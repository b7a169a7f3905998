package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval. `parent` is -1 for an operation's root span; every
  * span of one operation carries that operation's `op` id. Times are
  * nanoseconds on the benchmark's own clock ([[Clock]]). */
final case class Span(id: Long, op: Long, name: String, parent: Long,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** One clock for driver spans and listener events: listener events carry
  * wall-clock milliseconds, driver spans nanoTime; both map onto
  * nanoseconds since the benchmark started. */
object Clock {
  private val nanoBase = System.nanoTime()
  private val milliBase = System.currentTimeMillis()
  def now(): Long = System.nanoTime() - nanoBase
  def fromEpochMillis(ms: Long): Long = (ms - milliBase) * 1000000L
}

/**
 * Span recorder for the traced run, kept in memory and written once at the
 * end. Spans open and close on the driver thread that runs the workload.
 * While a span is open its id and its operation's id are set as Spark
 * local properties, so every job submitted meanwhile carries them to the
 * listener ([[SparkMeter]]), which parents its job spans to that span.
 * Disabled, a tracer only runs the bodies: the untraced run pays nothing.
 */
final class Tracer(val enabled: Boolean, sc: org.apache.spark.SparkContext) {
  private val spans = ArrayBuffer[Span]()
  private var stack: List[(Long, Long, String, Long)] = Nil // (id, op, name, start)
  private var nextId = 0L

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Spans made outside the driver thread (listener job spans). */
  def add(s: Span): Unit = synchronized(spans += s)

  def newId(): Long = synchronized { nextId += 1; nextId }

  /** Open a root span: a new operation. */
  def op[T](name: String)(body: => T): T = open(name, isOp = true)(body)

  /** Open a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = open(name, isOp = false)(body)

  private def open[T](name: String, isOp: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val op = if (isOp || stack.isEmpty) id else stack.head._2
      val parent = if (isOp || stack.isEmpty) -1L else stack.head._1
      stack = (id, op, name, Clock.now()) :: stack
      setProps()
      try body
      finally {
        val (_, _, _, start) = stack.head
        stack = stack.tail
        add(Span(id, op, name, parent, start, Clock.now()))
        setProps()
      }
    }

  private def setProps(): Unit = stack.headOption match {
    case Some((id, op, _, _)) =>
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      sc.setLocalProperty(Tracer.OpProp, op.toString)
    case None =>
      sc.setLocalProperty(Tracer.SpanProp, null)
      sc.setLocalProperty(Tracer.OpProp, null)
  }
}

object Tracer {
  val SpanProp = "graft.perfbench.span"
  val OpProp = "graft.perfbench.op"

  /** Self time of every span: duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> Stats.selfTime((s.start, s.end),
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    }.toMap
  }

  /** Median duration in ms of the spans with this name; 0 when none ran. */
  def medianMs(spans: Seq[Span], name: String): Double = {
    val xs = spans.filter(_.name == name).map(_.dur / 1e6)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
}
