package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{BoundedTopK, RaBitQ, VectorKernels => K}
import graft.index.{IvfConfig, IvfIndex}
import graft.kmeans.KMeans
import graft.ops.Knn
import graft.perfbench.Workload.timedMs
import graft.plans.{AnnCatalog, AnnTopKRewrite}

/**
 * ann_serve: one SQL top-k per op, `SELECT id FROM emb [WHERE id % 10 = r]
 * ORDER BY vec_l2(vec, q) LIMIT 10`, served through the planner rewrite.
 *
 * Inputs: a seeded Gaussian-mixture corpus, written once as parquet. Set-up
 * (timed): an IVF + RaBitQ index over it built from scratch (hierarchical
 * k-means, other options at their defaults), registered with the planner's
 * catalog and prewarmed. Every op runs a new seeded query, 3 plain to 1
 * filtered (10% selective, one seeded `r` per run). Every answer is checked,
 * including that the rewrite served it, and the first [[nScored]] queries
 * of a loop are scored against exact top-k from [[Knn.knnJoin]], computed
 * in an untimed side pass.
 */
final class AnnServe extends Workload {
  val name = "ann_serve"
  val rows = 20000
  val dim = 64
  val centres = 256
  val sigma = 0.6
  val k = 10
  val cfg = IvfConfig(lists = 64, kmeansAlgo = "hierarchical")
  /** Queries a loop scores, and so always runs. */
  private val nScored = 32
  /** Queries whose planner counts the traced run reports. */
  private val nCounted = 16
  /** Distinct queries the warm-up cycles through (3 plain : 1 filtered). */
  private val nWarm = 8
  private val batchQueries = 1000

  val setupRepeats = 3
  val minOps = nScored
  override val tracedMinOps = nCounted
  val mix = Map("plain" -> 0.75, "filtered" -> 0.25)
  val workPerOp = 1.0

  private var space: Data.VecSpace = _
  private var truth: Map[Long, Seq[Long]] = Map.empty
  private val served = mutable.ArrayBuffer[Boolean]()
  private val planJobs = mutable.ArrayBuffer[Long]()

  private def table(c: Ctx): String = c.path("corpus")
  private def indexDir(c: Ctx): String = c.path("index")
  private def corpus(c: Ctx): DataFrame = c.spark.read.parquet(table(c))
  private def index(c: Ctx): IvfIndex =
    AnnCatalog.index(c.spark, AnnCatalog.lookup(Seq(table(c))).get)

  private def filtered(qid: Int): Option[Int] =
    if (qid % 4 == 3) Some(Data.rng(space.seed, Data.Picks, 0).nextInt(10)) else None

  private def sql(qid: Int): String = {
    val v = space.query(qid).map(x => s"${x}F").mkString("array(", ", ", ")")
    val where = filtered(qid).map(r => s"WHERE id % 10 = $r ").getOrElse("")
    s"SELECT id FROM emb ${where}ORDER BY vec_l2(vec, $v) LIMIT $k"
  }

  def generate(c: Ctx): Unit = {
    space = Data.VecSpace(c.seed, dim, centres, sigma)
    c.tracer.span("data.generate") {
      space.frame(c.spark, 0, rows, c.cores).write.mode("overwrite").parquet(table(c))
    }
    graft.functions.GraftFunctions.registerAll(c.spark)
    corpus(c).createOrReplaceTempView("emb")
  }

  def setup(c: Ctx): Unit = {
    c.tracer.span("index.build")(IvfIndex.build(corpus(c), "id", "vec", indexDir(c), cfg))
    AnnCatalog.register(table(c), indexDir(c), "id", "vec")
    c.tracer.span("index.prewarm")(index(c).prewarm())
  }

  def reset(c: Ctx): Unit = {
    AnnCatalog.unregister(table(c)) // releases the prewarmed cache
    Files.walk(Paths.get(indexDir(c))).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }

  /** Exact top-k ids per qid over `live`, nearest first. */
  private def exactTopK(live: DataFrame, qs: Seq[(Long, Array[Float])]): Map[Long, Seq[Long]] =
    Knn.knnJoin(live, "id", "vec", qs.toArray, k).select("qid", "id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
      .groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._3).map(_._2).toSeq }

  def prepare(c: Ctx): Unit = {
    val live = corpus(c).cache()
    truth = (0 until nScored).groupBy(filtered).flatMap { case (f, qids) =>
      val df = f.fold(live)(r => live.filter(col("id") % 10 === r))
      exactTopK(df, qids.map(q => (q.toLong, space.query(q))))
    }
    live.unpersist()
  }

  /** k distinct ids in ascending exact distance (recomputed from the
    * seeded rows), or the reason they are not. */
  private def answerProblem(q: Array[Float], ids: Seq[Long]): Option[String] = {
    val d = ids.map(id => K.l2s(space.row(id), q))
    if (ids.length != k) Some(s"${ids.length} ids, want $k")
    else if (ids.distinct.length != k) Some(s"duplicate ids ${ids.mkString(",")}")
    else if (d.zip(d.drop(1)).exists { case (a, b) => b < a - 1e-6 * math.max(1.0, a) })
      Some(s"distances not ascending: ${d.mkString(",")}")
    else None
  }

  private def kind(qid: Int): String = if (filtered(qid).isDefined) "filtered" else "plain"

  /** One query, split at the planner's phases (spans only when traced). */
  private def run(c: Ctx, qid: Int): (Seq[Long], DataFrame) = {
    val df = c.spark.sql(sql(qid))
    c.tracer.span(s"plans.optimize.${kind(qid)}")(df.queryExecution.optimizedPlan)
    c.tracer.span("plans.physical")(df.queryExecution.executedPlan)
    val ids = c.tracer.span("index.exec")(df.collect().map(_.getLong(0)).toSeq)
    (ids, df)
  }

  def op(c: Ctx, op: Int, t: Tally): Unit = t.attempt(s"query $op") {
    // The warm-up cycles through a few queries: repeated plans hit Spark's
    // code cache, so C2 gets to the shared planner and engine paths sooner
    // (plain queries level off after ~15 s instead of ~50 s on 4 cores).
    // Measured loops run a new query every op.
    val i = if (op < Workload.WarmUpBase) op
      else Workload.WarmUpBase + (op - Workload.WarmUpBase) % nWarm
    val pj0 = AnnTopKRewrite.planningJobs.get()
    val ((ids, df), ms) = timedMs(c.tracer.op("op.serve")(run(c, i)))
    t.sample(kind(i), ms)
    val inServed = AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString)
    // counted over the first queries only, so the counts repeat exactly per seed
    if (c.tracer.enabled && i < nCounted) {
      planJobs += AnnTopKRewrite.planningJobs.get() - pj0
      served += inServed
    }
    // at this corpus size the exact scan is faster than the served plan
    // (see LAYERS.md), so a declined query must count as a failure, not a gain
    t.check(inServed, s"query $i: the rewrite declined and the exact scan ran")
    answerProblem(space.query(i), ids).foreach(p => t.check(ok = false, s"query $i: $p"))
    truth.get(i.toLong).foreach { want =>
      t.recalls += Stats.recallAtK(ids, want, k)
      t.precisions += ids.count(want.toSet).toDouble / ids.length
    }
  }

  def layers(c: Ctx, spans: Seq[Span]): Map[String, Double] = {
    def medianMs(name: String) = Tracer.medianMs(spans, name)
    val optimizeIds = spans.filter(_.name.startsWith("plans.optimize")).map(_.id).toSet
    val nOps = spans.count(_.name == "op.serve").max(1)
    val optimizeJobs = spans.count(s => s.name == "spark.job" && optimizeIds(s.parent))
    // what a declined query costs: the same SQL with the rewrite off, per
    // query at the workload's mix (after four untimed queries)
    val exact = graft.core.Confs.withConfs(c.spark, "graft.ann.enable" -> "false") {
      (0 until 4).foreach(q => c.spark.sql(sql(Workload.WarmUpBase + q)).collect())
      (0 until 12).map(q => kind(q) -> timedMs(c.spark.sql(sql(q)).collect())._2)
    }
    Map(
      "plans.optimize_plain_ms" -> medianMs("plans.optimize.plain"),
      "plans.optimize_filtered_ms" -> medianMs("plans.optimize.filtered"),
      "plans.physical_ms" -> medianMs("plans.physical"),
      "plans.planning_jobs" -> planJobs.sum.toDouble / planJobs.length.max(1),
      "plans.optimize_spark_jobs" -> optimizeJobs.toDouble / nOps,
      "plans.served_frac" -> served.count(identity).toDouble / served.length.max(1),
      "index.exec_ms" -> medianMs("index.exec"),
      "functions.exact_scan_ms" -> 1e3 / Stats.mixThroughput(exact, mix, 1.0)) ++
      batchFace(c) ++ kmeansAndKernels()
  }

  /** The batched face on the same index, bypassing the planner: one
    * `searchMany` of 1,000 seeded queries, scored against one
    * `Knn.knnJoin` pass over the same queries (the brute-force reference). */
  private def batchFace(c: Ctx): Map[String, Double] = {
    val qs = Array.tabulate(batchQueries)(i => ((1L << 20) + i, space.query((1L << 20) + i)))
    val ix = index(c)
    ix.searchMany(qs.take(50), k).collect() // warm-up
    val (rows, manyMs) = timedMs(ix.searchMany(qs, k).collect())
    val got = rows.groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Number]("rn").intValue).map(_.getAs[Long]("id")).toSeq }
    val (want, knnMs) = timedMs(exactTopK(corpus(c), qs.toSeq))
    val recall = qs.map { case (q, _) => Stats.recallAtK(got.getOrElse(q, Nil), want(q), k) }
    Map(
      "index.search_many_s" -> manyMs / 1e3,
      "index.search_many_recall" -> recall.sum / recall.length,
      "ops.knn_exact_s" -> knnMs / 1e3)
  }

  /** k-means on a build-sized sample, and the `core` kernels on this
    * corpus's vectors, each timed from outside. */
  private def kmeansAndKernels(): Map[String, Double] = {
    val sample = Array.tabulate(math.min(rows, cfg.lists * cfg.samplingFactor))(i => space.row(i))
    val (_, kmMs) = timedMs(KMeans.hierarchical(sample, cfg.lists, cfg.kmeansIters))
    val vecs = sample.take(2048)
    val q = space.query(1L << 40)
    val qSum = q.map(_.toDouble).sum
    val codes = vecs.map(v => RaBitQ.quantize(v, cfg.bits))
    val keys = vecs.map(v => K.l2s(v, q))
    var sink = 0.0
    val quantNs = Micro.nsPerCall(vecs.length)(i => sink += RaBitQ.quantize(vecs(i), cfg.bits).meta(0))
    val estNs = Micro.nsPerCall(vecs.length)(i => sink += RaBitQ.estimateDot(codes(i), q, qSum))
    val l2Ns = Micro.nsPerCall(vecs.length)(i => sink += K.l2s(vecs(i), q))
    var heap = new BoundedTopK(k)
    val offerNs = Micro.nsPerCall(vecs.length) { i =>
      if (i == 0) heap = new BoundedTopK(k)
      heap.offer(keys(i), i.toLong)
    }
    require(!sink.isNaN)
    // bytes a call reads or writes: f32 input, code bytes + 4 f32 of metadata
    val codeBytes = codes.head.codes.length + 4 * 4
    Map(
      "kmeans.train_s" -> kmMs / 1e3,
      "core.quantize_ns" -> quantNs, "core.quantize_bytes" -> (4.0 * dim + codeBytes),
      "core.estimate_ns" -> estNs, "core.estimate_bytes" -> (4.0 * dim + codeBytes),
      "core.l2_ns" -> l2Ns, "core.l2_bytes" -> 8.0 * dim,
      "core.topk_offer_ns" -> offerNs, "core.topk_offer_bytes" -> 16.0)
  }
}

/** Kernel micro-timing: median ns per call over several batches, after
  * calling for `warmNs` first so the JIT has compiled the kernel. */
object Micro {
  def nsPerCall(n: Int, batches: Int = 7, minNs: Long = 50000000L,
                warmNs: Long = 300000000L)(f: Int => Unit): Double = {
    def batch(): Double = {
      var calls = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < minNs / batches) {
        var i = 0
        while (i < n) { f(i); i += 1 }
        calls += n
      }
      (System.nanoTime() - t0).toDouble / calls
    }
    val warmUntil = System.nanoTime() + warmNs
    while (System.nanoTime() < warmUntil) batch()
    Stats.median(Seq.fill(batches)(batch()))
  }
}
