package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/**
 * The benchmark's own view of the Spark runtime, registered only in the
 * traced run. Jobs, stages and tasks are attributed to the operation (and
 * the span) open when they were submitted, read from the local properties
 * [[Tracer]] sets.
 */
final class SparkMeter(sc: SparkContext) extends SparkListener {
  import SparkMeter._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val perOp = new ConcurrentHashMap[Long, OpCounters]()

  private def counters(op: Long): OpCounters =
    perOp.computeIfAbsent(op, _ => new OpCounters)

  private def prop(p: java.util.Properties, key: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(key))).map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = prop(e.properties, Tracer.OpProp)
    jobs.put(e.jobId, JobRec(e.jobId, prop(e.properties, Tracer.SpanProp), op,
      Clock.fromEpochMillis(e.time), -1L))
    if (op >= 0) counters(op).synchronized(counters(op).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = Clock.fromEpochMillis(e.time)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val op = prop(e.properties, Tracer.OpProp)
    stageOp.put(e.stageInfo.stageId, op)
    if (op >= 0) counters(op).synchronized(counters(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.getOrDefault(e.stageId, -1L)
    if (op < 0) return
    val c = counters(op)
    c.synchronized {
      c.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed || e.taskInfo.attemptNumber > 0)
        c.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerBusBridge.drain(sc)

  /** Finished jobs, each with the span and operation it ran under. */
  def jobRecords: Seq[JobRec] = jobs.values.asScala.toSeq.filter(_.end >= 0).sortBy(_.id)

  def opCounters(op: Long): OpCounters = Option(perOp.get(op)).getOrElse(new OpCounters)
}

object SparkMeter {
  final case class JobRec(id: Int, span: Long, op: Long, start: Long, end: Long)

  final class OpCounters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskFailures = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }
}
