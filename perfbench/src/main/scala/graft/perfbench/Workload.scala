package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload sees: the session, the seed, a private work
  * directory, and the tracer (a no-op in the untraced run). */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
                val work: String, var tracer: Tracer) {
  def path(name: String): String = s"$work/$name"
}

/** Everything one loop measured. Each latency sample carries its kind
  * (ann_serve: plain or filtered), so the throughput can weigh each kind's
  * median by the workload's fixed mix. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val latMs = mutable.ArrayBuffer[Double]()
  val kinds = mutable.ArrayBuffer[String]()
  val recalls = mutable.ArrayBuffer[Double]()
  val precisions = mutable.ArrayBuffer[Double]()

  def sample(kind: String, ms: Double): Unit = { kinds += kind; latMs += ms }

  def samples: Seq[(String, Double)] = kinds.toSeq.zip(latMs)

  /** Count one operation; a throw counts it failed and is kept, not
    * rethrown, so one bad answer cannot hide the rest of the run. */
  def attempt(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body catch {
      case _: CheckFailed => // counted by check
      case e: Exception =>
        record(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** Fails the current operation when `ok` is false. */
  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) { record(msg); throw new CheckFailed(msg) }

  private def record(msg: String): Unit = {
    System.err.println(s"perfbench: check failed: $msg")
    failed += 1
    if (failures.length < 20) failures += msg
  }
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

/**
 * One benchmark workload. The untraced run calls `generate` once, then
 * `setup` several times (each timed; the median is `setup_s`; `reset`
 * between them), then `prepare`, then a closed loop of `op`s twice: an
 * untimed warm-up (op indices from [[Workload.WarmUpBase]]), then the
 * measured loop (indices from 0). The traced run calls `generate` and
 * `setup` once, `prepare`, the warm-up, three loops, then `layers`.
 */
trait Workload {
  def name: String

  /** Untimed, once per run: the inputs every set-up starts from. */
  def generate(c: Ctx): Unit

  /** The set-up a user pays before the first op, from the generated inputs. */
  def setup(c: Ctx): Unit

  /** Set-ups per untraced run; `setup_s` is their median. Cheap set-ups
    * repeat more, since one short set-up is easily disturbed. */
  def setupRepeats: Int

  /** Undo `setup`, so the next one starts from nothing. */
  def reset(c: Ctx): Unit

  /** Untimed: ground truth and anything else the checks need. */
  def prepare(c: Ctx): Unit

  /** Ops the measured loop runs even past its time: the scored ones. */
  def minOps: Int

  /** Ops each loop of the traced run runs even past its time. */
  def tracedMinOps: Int = minOps

  /** Share of each op kind in the workload's fixed mix. */
  def mix: Map[String, Double]

  /** Units of work (queries, documents) one op does. */
  def workPerOp: Double

  /** Operation `i` of a loop: run, time, check and score it into `t`. */
  def op(c: Ctx, i: Int, t: Tally): Unit

  /** Per-layer numbers only this workload's layers produce, from the
    * traced run's spans and the workload's own side measurements. */
  def layers(c: Ctx, spans: Seq[Span]): Map[String, Double]
}

object Workload {
  /** First op index of a warm-up, so warm-up ops never repeat measured ones. */
  val WarmUpBase = 1 << 20

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
