package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point:
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir> --work <dir>
 *
 * Prints every metric as `name value unit`, then one JSON line
 * `{"correct", "attempted", "failed", "metrics"}`, and writes the same
 * result (plus its sample counts) to `<out>/<workload>-seed<n>-trace<t>.json`.
 * The traced run also writes every span to `...-spans.json`. Exits 1 when
 * any answer check failed.
 */
object Main {

  /** End-to-end metrics, reported by every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s",
    "recall" -> "fraction", "precision" -> "fraction")

  /** Per-layer metrics, reported by every traced run; 0 where the layer
    * does no work on that workload. */
  val PerLayer: Seq[(String, String)] = Seq(
    "loop.latency_p50_ms" -> "ms", "loop.latency_tail_ms" -> "ms",
    "plans.optimize_plain_ms" -> "ms", "plans.optimize_filtered_ms" -> "ms",
    "plans.physical_ms" -> "ms", "plans.planning_jobs" -> "count",
    "plans.optimize_spark_jobs" -> "count", "plans.served_frac" -> "fraction",
    "index.build_s" -> "s", "index.prewarm_s" -> "s", "index.exec_ms" -> "ms",
    "index.search_many_s" -> "s", "index.search_many_recall" -> "fraction",
    "kmeans.train_s" -> "s",
    "core.quantize_ns" -> "ns", "core.quantize_bytes" -> "bytes",
    "core.estimate_ns" -> "ns", "core.estimate_bytes" -> "bytes",
    "core.l2_ns" -> "ns", "core.l2_bytes" -> "bytes",
    "core.topk_offer_ns" -> "ns", "core.topk_offer_bytes" -> "bytes",
    "functions.exact_scan_ms" -> "ms",
    "ops.knn_exact_s" -> "s", "ops.minhash_s" -> "s", "ops.components_s" -> "s",
    "ops.dedupe_s" -> "s", "ops.pairs" -> "count", "ops.components" -> "count",
    "ops.pairs_useful_frac" -> "fraction",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_busy_frac" -> "fraction",
    "spark.driver_gap_frac" -> "fraction", "spark.shuffle_write_bytes_per_op" -> "bytes",
    "spark.shuffle_read_bytes_per_op" -> "bytes", "spark.spill_bytes_per_op" -> "bytes",
    "spark.gc_frac" -> "fraction", "spark.task_failures" -> "count",
    "trace.overhead_p50_frac" -> "fraction", "trace.overhead_throughput_frac" -> "fraction")

  val Workloads: Map[String, () => Workload] = Map(
    "ann_serve" -> (() => new AnnServe), "dedup_curate" -> (() => new DedupCurate))

  private val t0 = System.nanoTime()

  /** Progress to the log (stderr), with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  /** The warm-up ends once op times stop falling: the median of the last
    * [[LevelOps]] ops is within [[LevelTolerance]] of the median of the
    * [[LevelOps]] before them. It runs at least [[MinWarmUpS]] and at most
    * [[MaxWarmUpS]]. */
  val LevelOps = 4
  val LevelTolerance = 0.03
  val MinWarmUpS = 10.0
  val MaxWarmUpS = 20.0

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val wName = opt("workload")
    val w = Workloads.getOrElse(wName, () => sys.error(s"unknown workload '$wName'"))()
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = opt("out")
    val work = opt("work")
    Files.createDirectories(Paths.get(out))
    Files.createDirectories(Paths.get(work, "data"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$wName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log("session started")
    val ctx = new Ctx(spark, seed, cores, s"$work/data", new Tracer(false, spark.sparkContext))
    val (result, correct) =
      try if (traced) tracedRun(ctx, w, seconds, out) else untracedRun(ctx, w, seconds)
      finally { log("stopping"); spark.stop(); log("stopped") }
    val base = s"$out/$wName-seed$seed-trace${if (traced) 1 else 0}"
    Files.writeString(Paths.get(s"$base.json"), json.writeValueAsString(result) + "\n")
    val metrics = result("metrics").asInstanceOf[mutable.LinkedHashMap[String, Map[String, Any]]]
    metrics.foreach { case (n, m) => println(s"$n ${m("value")} ${m("unit")}") }
    println(json.writeValueAsString(mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> result("attempted"),
      "failed" -> result("failed"), "metrics" -> metrics)))
    if (!correct) sys.exit(1)
  }

  private def metricMap(names: Seq[(String, String)], vals: Map[String, Double]) = {
    val m = mutable.LinkedHashMap[String, Map[String, Any]]()
    names.foreach { case (n, u) =>
      val v = vals.getOrElse(n, 0.0)
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      m(n) = Map("value" -> v, "unit" -> u)
    }
    m
  }

  /** The end-to-end numbers of one loop. */
  private def endToEnd(w: Workload, t: Tally): Map[String, Double] = {
    // a loop whose every op failed reports zeros (and fails the run)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    val ok = w.mix.keys.forall(t.kinds.contains)
    Map(
      "loop.latency_p50_ms" -> (if (t.latMs.isEmpty) 0.0 else Stats.median(t.latMs.toSeq)),
      "loop.latency_tail_ms" ->
        (if (t.latMs.isEmpty) 0.0 else Stats.percentile(t.latMs.toSeq, tailPct(t))),
      "throughput_per_s" ->
        (if (ok) Stats.mixThroughput(t.samples, w.mix, w.workPerOp) else 0.0),
      "recall" -> mean(t.recalls.toSeq),
      "precision" -> mean(t.precisions.toSeq))
  }

  /** The tail rule's percentile for this loop; the maximum when too few
    * samples leave any percentile at or above the median with 10 beyond it. */
  private def tailPct(t: Tally): Int =
    Stats.tailPercentile(t.latMs.length).filter(_ >= 50).getOrElse(100)

  /** A closed loop, one client: `op`s back to back from index 0 until
    * `seconds` have passed and at least `minOps` ran. */
  private def loop(c: Ctx, w: Workload, seconds: Double, minOps: Int, t: Tally): Unit = {
    val start = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - start) / 1e9 < seconds || i < minOps) {
      w.op(c, i, t)
      i += 1
    }
  }

  private def runInfo(w: Workload, seconds: Double, t: Tally) = mutable.LinkedHashMap[String, Any](
    "workload" -> w.name, "seconds" -> seconds,
    "cores" -> Runtime.getRuntime.availableProcessors(),
    "samples" -> t.latMs.length, "tail_pct" -> tailPct(t),
    "samples_beyond_tail" -> Stats.samplesBeyond(t.latMs.length, tailPct(t)),
    "latencies_ms" -> t.samples.map { case (k, ms) => Seq(k, ms) }, "failures" -> t.failures.toList)

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def untracedRun(c: Ctx, w: Workload, seconds: Double)
      : (mutable.LinkedHashMap[String, Any], Boolean) = {
    log("generate")
    val generateMs = Workload.timedMs(w.generate(c))._2
    val setupS = (0 until w.setupRepeats).map { i =>
      log(s"setup ${i + 1}")
      if (i > 0) w.reset(c)
      Workload.timedMs(w.setup(c))._2 / 1e3
    }
    log("prepare")
    w.prepare(c)
    val (warm, warmInfo) = warmUp(c, w)
    log("loop")
    val t = new Tally
    val jit0 = jitMs
    loop(c, w, seconds, w.minOps, t)
    log("done")
    val e2e = endToEnd(w, t) + ("setup_s" -> Stats.median(setupS))
    val info = runInfo(w, seconds, t)
    info ++= Seq("generate_s" -> generateMs / 1e3, "setup_samples_s" -> setupS) ++ warmInfo ++ Seq(
      "loop_jit_ms" -> (jitMs - jit0),
      "p50_ms" -> e2e("loop.latency_p50_ms"), "tail_ms" -> e2e("loop.latency_tail_ms"),
      "attempted" -> (warm.attempted + t.attempted), "failed" -> (warm.failed + t.failed),
      "metrics" -> metricMap(EndToEnd, e2e))
    (info, warm.failed + t.failed == 0 && t.latMs.nonEmpty)
  }

  /**
   * Untimed ops until op times level off. The first ops in a fresh JVM
   * load classes, generate code and run interpreted or C1-compiled code
   * while C2 compiles the hot paths in the background: on a 4-core machine
   * a dedup pass fell from 9 s to 2 s over the first 35 s. Checked like
   * timed ops. Returns the warm-up's length, its op count and the JIT
   * compile time it saw, for the result file.
   */
  private def warmUp(c: Ctx, w: Workload): (Tally, Seq[(String, Any)]) = {
    log("warm-up")
    val warm = new Tally
    val start = System.nanoTime()
    val jit0 = jitMs
    def elapsedS = (System.nanoTime() - start) / 1e9
    def falling: Boolean = warm.latMs.length < 2 * LevelOps || {
      val last = warm.latMs.takeRight(2 * LevelOps).toSeq
      Stats.median(last.drop(LevelOps)) < (1 - LevelTolerance) * Stats.median(last.take(LevelOps))
    }
    var i = 0
    while (elapsedS < MinWarmUpS || (falling && elapsedS < MaxWarmUpS)) {
      w.op(c, Workload.WarmUpBase + i, warm)
      i += 1
      log(f"warm-up op $i: ${warm.latMs.lastOption.getOrElse(0.0)}%.1f ms")
    }
    (warm, Seq("warmup_s" -> elapsedS, "warmup_ops" -> i, "warmup_jit_ms" -> (jitMs - jit0)))
  }

  /**
   * Generate, set up once and warm up, then run the loop three times for
   * half the run length each: untraced, traced (the listener on, spans
   * recorded), untraced again. The `loop.*` latencies come from the two
   * untraced loops, and the tracing overhead compares the traced loop
   * with them. Each loop runs at least [[Workload.tracedMinOps]] ops from
   * index 0, so counts taken over the first ops repeat exactly on one seed.
   */
  private def tracedRun(c: Ctx, w: Workload, seconds: Double, out: String)
      : (mutable.LinkedHashMap[String, Any], Boolean) = {
    val sc = c.spark.sparkContext
    val on = new Tracer(true, sc)
    c.tracer = on
    on.op("generate")(w.generate(c))
    on.op("setup")(w.setup(c))
    on.op("prepare")(w.prepare(c))
    c.tracer = new Tracer(false, sc)
    val (warm, warmInfo) = warmUp(c, w)
    val before = new Tally
    loop(c, w, seconds / 2, w.tracedMinOps, before)
    val meter = new SparkMeter(sc)
    sc.addSparkListener(meter)
    c.tracer = on
    val t = new Tally
    loop(c, w, seconds / 2, w.tracedMinOps, t)
    c.tracer = new Tracer(false, sc)
    meter.drain()
    sc.removeSparkListener(meter)
    val after = new Tally
    loop(c, w, seconds / 2, w.tracedMinOps, after)
    meter.jobRecords.foreach { j =>
      on.add(Span(on.newId(), j.op, "spark.job", j.span, j.start, j.end))
    }
    val spans = on.allSpans
    val loopOps = spans.filter(s => s.parent == -1 && s.name.startsWith("op."))
    // the two untraced loops pooled: latencies with tracing off, and the
    // baseline of the overhead, with a steady drift cancelled
    val off = new Tally
    Seq(before, after).foreach(_.samples.foreach { case (k, ms) => off.sample(k, ms) })
    val (eBefore, eAfter, eOn, eOff) =
      (endToEnd(w, before), endToEnd(w, after), endToEnd(w, t), endToEnd(w, off))
    def dur(n: String) = spans.filter(_.name == n).map(_.dur / 1e9).sum
    val layers = w.layers(c, spans) ++ sparkLayers(loopOps, meter, c.cores) ++ Map(
      "loop.latency_p50_ms" -> eOff("loop.latency_p50_ms"),
      "loop.latency_tail_ms" -> eOff("loop.latency_tail_ms"),
      "index.build_s" -> dur("index.build"), "index.prewarm_s" -> dur("index.prewarm"),
      "trace.overhead_p50_frac" -> (eOn("loop.latency_p50_ms") / eOff("loop.latency_p50_ms") - 1),
      "trace.overhead_throughput_frac" ->
        (1 - eOn("throughput_per_s") / eOff("throughput_per_s")))
    writeSpans(spans, s"$out/${w.name}-seed${c.seed}-spans.json")
    val halfNames = EndToEnd.filter(_._1 != "setup_s") :+ ("loop.latency_p50_ms" -> "ms")
    val info = runInfo(w, seconds, off)
    info ++= warmInfo ++ Seq(
      "untraced_before" -> metricMap(halfNames, eBefore),
      "traced" -> metricMap(halfNames, eOn),
      "untraced_after" -> metricMap(halfNames, eAfter),
      "attempted" -> Seq(warm, before, t, after).map(_.attempted).sum,
      "failed" -> Seq(warm, before, t, after).map(_.failed).sum,
      "metrics" -> metricMap(PerLayer, layers))
    (info, Seq(warm, before, t, after).forall(x => x.failed == 0 && x.latMs.nonEmpty))
  }

  /** The engine runtime per loop operation, from the benchmark's listener. */
  private def sparkLayers(ops: Seq[Span], meter: SparkMeter, cores: Int): Map[String, Double] = {
    val n = ops.length.max(1).toDouble
    val wallNs = ops.map(_.dur).sum.max(1L).toDouble
    val jobsByOp = meter.jobRecords.groupBy(_.op)
    val cs = ops.map(o => meter.opCounters(o.id))
    val idleNs = ops.map { o =>
      o.dur * Stats.gapFraction(o.start, o.end,
        jobsByOp.getOrElse(o.id, Nil).map(j => (j.start, j.end)))
    }.sum
    val runMs = cs.map(_.runMs).sum.toDouble
    Map(
      "spark.jobs_per_op" -> cs.map(_.jobs).sum / n,
      "spark.stages_per_op" -> cs.map(_.stages).sum / n,
      "spark.tasks_per_op" -> cs.map(_.tasks).sum / n,
      "spark.task_busy_frac" -> runMs * 1e6 / (wallNs * cores),
      "spark.driver_gap_frac" -> idleNs / wallNs,
      "spark.shuffle_write_bytes_per_op" -> cs.map(_.shuffleWrite).sum / n,
      "spark.shuffle_read_bytes_per_op" -> cs.map(_.shuffleRead).sum / n,
      "spark.spill_bytes_per_op" -> cs.map(_.spill).sum / n,
      "spark.gc_frac" -> (if (runMs == 0) 0.0 else cs.map(_.gcMs).sum / runMs),
      "spark.task_failures" -> cs.map(_.taskFailures).sum.toDouble)
  }

  /** Every span with its self time, and a per-name summary. */
  private def writeSpans(spans: Seq[Span], path: String): Unit = {
    val self = Tracer.selfTimes(spans)
    val summary = mutable.LinkedHashMap[String, Any]()
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      summary(n) = mutable.LinkedHashMap("count" -> ss.length,
        "total_ms" -> ss.map(_.dur).sum / 1e6, "self_ms" -> ss.map(s => self(s.id)).sum / 1e6)
    }
    val all = spans.sortBy(_.start).map(s => mutable.LinkedHashMap(
      "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> self(s.id)))
    Files.writeString(Paths.get(path),
      json.writeValueAsString(mutable.LinkedHashMap("summary" -> summary, "spans" -> all)) + "\n")
  }
}
