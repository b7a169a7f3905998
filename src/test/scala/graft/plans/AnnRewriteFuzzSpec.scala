package graft.plans

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import graft.functions.GraftFunctions
import graft.index.{IvfConfig, IvfIndex}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * Seeded SHAPE FUZZ over the planner rule: random (k, query, prefilter,
 * projection, table-form, budget) combinations, each executed with the
 * rule active and compared row-for-row against a driver-side brute
 * force. The invariant is the rule's whole contract: WHATEVER it
 * decides — single-index serve, partitioned union serve, prefilter
 * escalation, or decline to the exact plan (forced sometimes by a tiny
 * maxInList) — the rows are the true top-k. Probes cover every cell
 * and refine is generous, so every serve runs in the exact regime and
 * any mismatch is a planner bug, not ANN slack (the ANN regime's
 * recall floors are spec'd elsewhere).
 */
class AnnRewriteFuzzSpec extends SparkSpec {

  private lazy val fixture: (String, String) = {
    import spark.implicits._
    val rng = new scala.util.Random(1013)
    def rows(n: Int, off: Long) =
      (0L until n.toLong).map(i => (off + i, Seq.fill(8)(rng.nextFloat() * 2 - 1)))
    // flat table + one index
    val flatDir = Files.createTempDirectory("graft-fuzz-flat").toString
    rows(300, 0).toDF("id", "vec").write.mode("overwrite").parquet(flatDir)
    val flatIdx = Files.createTempDirectory("graft-fuzz-flatidx").toString
    IvfIndex.build(spark.read.parquet(flatDir), "id", "vec", flatIdx,
      IvfConfig(lists = 4))
    AnnCatalog.register(flatDir, flatIdx, "id", "vec")
    // partitioned table + per-child indexes
    val partDir = Files.createTempDirectory("graft-fuzz-part").toString
    (0 to 2).foreach { p =>
      rows(150, 1000L + p * 150L).toDF("id", "vec")
        .write.mode("overwrite").parquet(s"$partDir/part=$p")
      val d = Files.createTempDirectory(s"graft-fuzz-pidx$p").toString
      IvfIndex.build(spark.read.parquet(s"$partDir/part=$p"), "id", "vec", d,
        IvfConfig(lists = 4))
      AnnCatalog.register(s"$partDir/part=$p", d, "id", "vec")
    }
    (flatDir, partDir)
  }

  private def bruteTopK(dir: String, q: Array[Float], k: Int,
                        pred: Long => Boolean): Seq[Long] = {
    import spark.implicits._
    spark.read.parquet(dir).select("id", "vec").as[(Long, Seq[Float])]
      .collect()
      .filter { case (id, _) => pred(id) }
      .map { case (id, v) => (K.l2(v.toArray, q), id) }
      .sorted.take(k).map(_._2).toSeq
  }

  test("40 seeded shapes: rule-active rows == brute force under serve, " +
       "escalation, partitioned union, and forced declines alike") {
    val (flatDir, partDir) = fixture
    val rng = new scala.util.Random(4242)
    val rule = AnnTopKRewrite(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    try {
      var served = 0
      var declined = 0
      (1 to 40).foreach { trial =>
        val dir = if (rng.nextBoolean()) flatDir else partDir
        val k = 1 + rng.nextInt(15)
        val q = Array.fill(8)(rng.nextFloat() * 2 - 1)
        val (predCol, predFn): (Option[org.apache.spark.sql.Column], Long => Boolean) =
          rng.nextInt(3) match {
            case 0 => (None, _ => true)
            case 1 =>
              val m = 2 + rng.nextInt(5); val r = rng.nextInt(m)
              (Some(col("id") % m === r), id => id % m == r)
            case _ =>
              val cut = 50 + rng.nextInt(400)
              (Some(col("id") % 1000 < cut), id => id % 1000 < cut)
          }
        val projectFirst = rng.nextBoolean()
        // sometimes strangle the IN budget so declines interleave with
        // serves; rows must be right EITHER way. Separately, sometimes
        // force the flat read's executor-side heap merge (directCollectMax
        // = 0) so both pool-collect paths run under random shapes.
        val budget = if (rng.nextInt(4) == 0) "3" else "8192"
        val directMax = if (rng.nextInt(3) == 0) "0" else "4000000"
        graft.core.Confs.withConfs(spark,
            "graft.ann.probes" -> "4", "graft.ann.refine" -> "50",
            "graft.ann.cost.enable" -> "false",
            "graft.ann.flat.directCollectMax" -> directMax,
            "graft.ann.maxInList" -> budget) {
          val base0 = spark.read.parquet(dir)
          val base1 = if (projectFirst) base0.select("id", "vec") else base0
          val base2 = predCol.map(base1.filter).getOrElse(base1)
          val df = base2
            .orderBy(GraftFunctions.vecL2(col("vec"),
              typedlit(q.toSeq)))
            .limit(k).select("id")
          val planStr = df.queryExecution.optimizedPlan.toString
          if (AnnTopKRewrite.inServed(planStr)) served += 1 else declined += 1
          val got = df.collect().map(_.getLong(0)).toSeq
          val want = bruteTopK(dir, q, k, predFn)
          assert(got == want,
            s"trial $trial (dir=${dir.takeRight(8)}, k=$k, budget=$budget, " +
            s"projectFirst=$projectFirst):\n got=$got\nwant=$want\n$planStr")
        }
      }
      info(s"shapes: $served served, $declined declined — all row-exact")
      assert(served > 0 && declined >= 0)
      assert(served + declined == 40)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filter(r => !(r eq rule))
      AnnCatalog.unregister(flatDir)
      (0 to 2).foreach(p => AnnCatalog.unregister(s"$partDir/part=$p"))
    }
  }

  /** Rule active for the body (the suites share one session). */
  private def withRule[T](body: => T): T = {
    val rule = AnnTopKRewrite(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filter(r => !(r eq rule))
  }

  private def distOf(metric: String): (Column, Column) => Column = metric match {
    case "l2"      => GraftFunctions.vecL2
    case "cosdist" => GraftFunctions.vecCosdist
    case "negdot"  => GraftFunctions.vecNegdot
  }

  /** 600 rows around 24 seeded centres (dim 8) as a parquet table with
    * a registered index; `delta` more rows are appended to both the
    * table and the index (appendDelta, no compact). */
  private def servedTable(seed: Int, cfg: IvfConfig, delta: Int = 0): (String, IvfIndex) = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val centres = Array.fill(24)(Array.fill(8)(rng.nextFloat() * 4 - 2))
    def rows(from: Long, n: Int) = (from until from + n).map { id =>
      val c = centres(rng.nextInt(centres.length))
      (id, c.map(x => x + (rng.nextGaussian() * 0.4).toFloat).toSeq)
    }.toDF("id", "vec")
    val dir = Files.createTempDirectory("graft-fuzz-eq").toString
    val idxDir = Files.createTempDirectory("graft-fuzz-eqidx").toString
    rows(0, 600).write.mode("overwrite").parquet(dir)
    IvfIndex.build(spark.read.parquet(dir), "id", "vec", idxDir, cfg)
    AnnCatalog.register(dir, idxDir, "id", "vec")
    val ix = AnnCatalog.index(spark, AnnCatalog.lookup(Seq(dir)).get)
    if (delta > 0) {
      val more = rows(600, delta)
      more.write.mode("append").parquet(dir)
      ix.appendDelta(more, "id", "vec")
    }
    (dir, ix)
  }

  /** The two-job single-root serve the planner used before its pool
    * became estimate-only, replayed from the index's own faces with the
    * rule off: plain = the in-index reranked top-k (`search` at the conf
    * refine), re-sorted exactly over the table; prefiltered = pools of
    * min(k*r, n) ids in estimate order (`search` at refine 1), probes and
    * refine x4 until k predicate survivors exist or every cell and row
    * is covered, then the exact top-k of the table's survivors. */
  private def twoJobServe(dir: String, ix: IvfIndex, q: Array[Float], k: Int,
                          probes: Int, refine: Int,
                          pred: Option[Column]): Seq[Long] =
    graft.core.Confs.withConfs(spark, "graft.ann.enable" -> "false") {
      import spark.implicits._
      val table = spark.read.parquet(dir)
      val rt = if (ix.meta.cfg.storeVectors) None else Some((table, "id", "vec"))
      def search(n: Int, p: Int, r: Int): Array[Long] =
        ix.search(q, n, probes = p, refine = r, rerankTable = rt)
          .select("id").as[Long].collect()
      def restricted(ids: Array[Long]): DataFrame = {
        val t = table.filter(col("id").isin(ids.map(java.lang.Long.valueOf): _*))
        pred.map(t.filter).getOrElse(t)
      }
      val ids = pred match {
        case None => search(k, probes, refine)
        case Some(_) =>
          val n = ix.rowCount
          val lists = ix.meta.cfg.lists
          var p = probes
          var r = refine
          def pool = search(math.min(k.toLong * r, n).toInt, p, r = 1)
          var ids = pool
          while (!(p >= lists && k.toLong * r >= n) && restricted(ids).count() < k) {
            p = math.min(lists, p * 4)
            r *= 4
            ids = pool
          }
          ids
      }
      restricted(ids)
        .orderBy(distOf(ix.meta.cfg.metric)(col("vec"), typedlit(q.toSeq)))
        .limit(k).select("id").as[Long].collect().toSeq
    }

  test("served plain and prefiltered top-k equal the two-job serve's " +
       "answers: l2/cosdist/negdot, codes-only, f16, and after appendDelta") {
    val cases = Seq(
      "l2" -> IvfConfig(lists = 8), "cosdist" -> IvfConfig(lists = 8, metric = "cosdist"),
      "negdot" -> IvfConfig(lists = 8, metric = "negdot"),
      "l2 codes-only" -> IvfConfig(lists = 8, storeVectors = false),
      "cosdist codes-only" -> IvfConfig(lists = 8, metric = "cosdist", storeVectors = false),
      "negdot codes-only" -> IvfConfig(lists = 8, metric = "negdot", storeVectors = false),
      "l2 f16" -> IvfConfig(lists = 8, storage = "f16"))
      .map { case (name, cfg) => (name, cfg, 0) } :+ (("l2 delta", IvfConfig(lists = 8), 120))
    val rng = new scala.util.Random(777)
    withRule {
      cases.zipWithIndex.foreach { case ((name, cfg, delta), ci) =>
        val (dir, ix) = servedTable(500 + ci, cfg, delta)
        try graft.core.Confs.withConfs(spark, "graft.ann.probes" -> "2",
            "graft.ann.refine" -> "2", "graft.ann.cost.enable" -> "false") {
          (0 until 6).foreach { t =>
            val k = 1 + rng.nextInt(10)
            val q = Array.fill(8)(rng.nextFloat() * 4 - 2)
            val pred = if (t % 2 == 0) None else Some(col("id") % 5 === rng.nextInt(5))
            val base = spark.read.parquet(dir)
            val df = pred.map(base.filter).getOrElse(base)
              .orderBy(distOf(cfg.metric)(col("vec"), typedlit(q.toSeq)))
              .limit(k).select("id")
            val planStr = df.queryExecution.optimizedPlan.toString
            assert(AnnTopKRewrite.inServed(planStr), s"[$name] not served:\n$planStr")
            val got = df.collect().map(_.getLong(0)).toSeq
            val want = twoJobServe(dir, ix, q, k, probes = 2, refine = 2, pred)
            assert(got == want, s"[$name] trial $t k=$k pred=$pred:\n got=$got\nwant=$want")
          }
        } finally AnnCatalog.unregister(dir)
      }
    }
  }

  test("a served query with a new vector compiles no new code on a warm session") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val (dir, ix) = servedTable(4711, IvfConfig(lists = 16))
    val rng = new scala.util.Random(4711)
    def query(filtered: Boolean): Unit = {
      val q = Array.fill(8)(rng.nextFloat() * 4 - 2)
      val base = spark.read.parquet(dir)
      val df = (if (filtered) base.filter(col("id") % 10 === 3) else base)
        .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
        .limit(10).select("id")
      assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString))
      assert(df.collect().length == 10)
    }
    try graft.core.Confs.withConfs(spark, "graft.ann.cost.enable" -> "false") {
      withRule {
        // uncached, then prewarmed: both scan shapes must reuse their code
        Seq(false, true).foreach { warm =>
          if (warm) ix.prewarm()
          (0 until 3).foreach(i => query(filtered = i == 2))
          Seq(false, true).foreach { filtered =>
            val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            query(filtered)
            val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
            assert(compiled == 0,
              s"prewarmed=$warm filtered=$filtered: $compiled new classes compiled")
          }
        }
      }
    } finally AnnCatalog.unregister(dir)
  }
}
