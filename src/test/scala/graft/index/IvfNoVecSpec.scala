package graft.index

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import java.nio.file.Files

/**
 * Codes-only index (IvfConfig(storeVectors = false)) — the reference's
 * actual `rerank_in_table=true` design: the index stores quantization
 * codes only and every exact phase fetches original vectors from the
 * source table (reference: src/index/vchordrq/types.rs:19-45,
 * crates/vchordrq/src/rerank.rs:111+ rerank_heap). At 768d this cuts the
 * written index bytes ~10x, which round 6 measured as 87% of build cost.
 */
class IvfNoVecSpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("graft-ivf-novec").toString

  private lazy val rows: Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(11)
    (0L until 600L).map(i => i -> Seq.fill(16)(rng.nextFloat() * 2 - 1))
  }

  private def df = { import spark.implicits._; rows.toDF("id", "vec") }
  private def rt = Some((df, "id", "vec"))

  private def brute(data: Seq[(Long, Seq[Float])], q: Array[Float], k: Int): Seq[Long] =
    data.map { case (id, v) => (K.l2(v.toArray, q), id) }.sorted.take(k).map(_._2)

  private def bruteRange(q: Array[Float], r: Double): Seq[(Long, Double)] =
    rows.map { case (id, v) => (id, K.l2(v.toArray, q)) }
      .filter(_._2 < r).sortBy { case (id, d) => (d, id) }

  test("build writes no vec column; search via rerank table is exact") {
    import spark.implicits._
    val dir = freshDir()
    val idx = IvfIndex.build(df, "id", "vec", dir,
      IvfConfig(lists = 8, storeVectors = false))
    // the written generation must not contain a vec column at all
    val written = spark.read.parquet(s"$dir/gen-0")
    assert(!written.columns.contains("vec"),
      s"codes-only index wrote a vec column: ${written.columns.mkString(",")}")
    val q = Array.fill(16)(0.1f)
    val got = idx.search(q, 10, probes = 8, refine = 16, rerankTable = rt)
      .select("id").as[Long].collect().toSeq
    assert(got == brute(rows, q, 10))
  }

  test("exact phases without a rerank table fail loudly") {
    val dir = freshDir()
    val idx = IvfIndex.build(df, "id", "vec", dir,
      IvfConfig(lists = 4, storeVectors = false))
    val q = Array.fill(16)(0.2f)
    for (thunk <- Seq(
        () => idx.search(q, 5),
        () => idx.searchExact(q, 5),
        () => idx.rangeSearch(q, 1.0),
        () => IvfIndex.rangeSearchManyMulti(Seq(idx), Array((0L, q, 1.0))),
        () => idx.searchMany(Array(0L -> q), 5))) {
      val e = intercept[IllegalArgumentException](thunk())
      assert(e.getMessage.contains("rerankTable"), e.getMessage)
    }
  }

  test("load round-trips storeVectors=false; lifecycle insert/compact/delete/prewarm") {
    import spark.implicits._
    val dir = freshDir()
    val (initial, extra) = rows.splitAt(450)
    IvfIndex.build(initial.toDF("id", "vec"), "id", "vec", dir,
      IvfConfig(lists = 8, storeVectors = false))
    val idx = IvfIndex.load(spark, dir)
    assert(!idx.meta.cfg.storeVectors, "store_vectors must persist through meta")
    val q = Array.fill(16)(0.05f)
    idx.appendDelta(extra.toDF("id", "vec"), "id", "vec")
    assert(idx.search(q, 10, probes = 8, refine = 16, rerankTable = rt)
      .select("id").as[Long].collect().toSeq == brute(rows, q, 10),
      "delta rows must be searchable")
    idx.compact()
    assert(!spark.read.parquet(s"$dir/gen-1").columns.contains("vec"),
      "compaction must stay codes-only")
    val dead = (0L until 100L)
    idx.delete(dead)
    val alive = rows.filterNot(r => dead.contains(r._1))
    assert(idx.search(q, 10, probes = 8, refine = 16, rerankTable = rt)
      .select("id").as[Long].collect().toSeq == brute(alive, q, 10),
      "deleted rows must not resurface")
    assert(idx.prewarm() == alive.length.toLong)
    assert(idx.prewarmCodes() == alive.length.toLong)
    assert(idx.search(q, 10, probes = 8, refine = 16, rerankTable = rt)
      .select("id").as[Long].collect().toSeq == brute(alive, q, 10),
      "prewarmed results unchanged")
  }

  test("range: IN shape, distributed delegation, and batch all match brute force") {
    import spark.implicits._
    val dir = freshDir()
    val idx = IvfIndex.build(df, "id", "vec", dir,
      IvfConfig(lists = 8, storeVectors = false))
    val q = Array.fill(16)(0.0f)
    // radius between the 100th and 101st nearest — a deterministic
    // mid-selectivity sphere regardless of the data's distance scale
    val ds = rows.map { case (_, v) => K.l2(v.toArray, q) }.sorted
    val r = (ds(99) + ds(100)) / 2.0
    val expect = bruteRange(q, r)
    assert(expect.length == 100, s"bad radius: ${expect.length}")
    val in = idx.rangeSearch(q, r, rerankTable = rt)
      .as[(Long, Double)].collect().toSeq
    assert(in.map(_._1) == expect.map(_._1))
    // distances from the SOURCE table are the raw f32 kernel values
    in.zip(expect).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-5) }
    // force the distributed survivor tier (no driver candidate collect)
    val deleg = graft.core.Confs.withConfs(spark,
        "graft.ann.range.maxDriverSurvivors" -> "0") {
      idx.rangeSearch(q, r, rerankTable = rt).as[(Long, Double)].collect().toSeq
    }
    assert(deleg.map(_._1) == expect.map(_._1), "distributed tier must match brute")
    deleg.zip(expect).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-5) }
    // batch shape
    val many = IvfIndex.rangeSearchManyMulti(Seq(idx), Array((7L, q, r)), rerankTable = rt)
      .as[(Long, Long, Double)].collect().toSeq
    assert(many.map(_._2) == expect.map(_._1), "batch range must match brute")
  }

  test("range point-fetches rerank-table rows: candidate IN pushed to the " +
       "parquet source scan for one root and for two") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-ivf-novec-src").resolve("t").toString
    df.write.parquet(src)
    val srcDf = spark.read.parquet(src)
    val srt = Some((srcDf, "id", "vec"))
    val (a, b) = rows.splitAt(300)
    val one = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 8, storeVectors = false))
    val two = Seq(a, b).map(p => IvfIndex.build(p.toDF("id", "vec"), "id", "vec",
      freshDir(), IvfConfig(lists = 4, storeVectors = false)))
    val q = Array.fill(16)(0.0f)
    val ds = rows.map { case (_, v) => K.l2(v.toArray, q) }.sorted
    val r = (ds(49) + ds(50)) / 2.0
    val expect = bruteRange(q, r)
    assert(expect.length == 50, s"bad radius: ${expect.length}")
    // R = 1 through the single-root face, R = 2 through the batched fold
    Seq(Seq(one), two).foreach { idxs =>
      val out =
        if (idxs.length == 1) one.rangeSearch(q, r, rerankTable = srt)
        else IvfIndex.rangeSearchManyMulti(idxs, Array((0L, q, r)), rerankTable = srt)
      // the source scan carries the candidate set as a pushed parquet IN
      // (an InSet past the optimizer's conversion threshold prints the
      // same source filter), not a broadcast join that reads every row
      val scans = out.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.endsWith("/t")) => s
      }
      assert(scans.nonEmpty, s"no source scan:\n${out.queryExecution.sparkPlan}")
      scans.foreach { s =>
        val pushed = s.metadata.getOrElse("PushedFilters", "")
        assert(pushed.contains("In(id,"),
          s"R=${idxs.length}: candidate IN not pushed to the source scan: $pushed")
      }
      val got = out.select("id", "dist").as[(Long, Double)].collect().toSeq
      assert(got.map(_._1) == expect.map(_._1), s"R=${idxs.length}")
      got.zip(expect).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) < 1e-5) }
    }
  }

  test("top-k point-fetches rerank-table rows: candidate IN pushed to the " +
       "parquet source scan for one root and for two") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-ivf-novec-src").resolve("t").toString
    df.write.parquet(src)
    val srt = Some((spark.read.parquet(src), "id", "vec"))
    val (a, b) = rows.splitAt(300)
    val one = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 8, storeVectors = false))
    val two = Seq(a, b).map(p => IvfIndex.build(p.toDF("id", "vec"), "id", "vec",
      freshDir(), IvfConfig(lists = 4, storeVectors = false)))
    val qs = Array(1L -> Array.fill(16)(0.1f), 2L -> Array.fill(16)(-0.2f))
    // the faces collect eagerly: record every executed plan's source scans
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        aqe.foreach(qe.executedPlan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.endsWith("/t")) =>
            plans.add(s.metadata.getOrElse("PushedFilters", ""))
          case _ =>
        }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try Seq(Seq(one), two).foreach { idxs =>
      plans.clear()
      val out =
        if (idxs.length == 1) one.searchMany(qs, 8, probes = 8, refine = 16, rerankTable = srt)
        else IvfIndex.searchManyMulti(idxs, qs, 8, probes = 4, refine = 16, rerankTable = srt)
      val got = out.select("qid", "id").as[(Long, Long)].collect().groupBy(_._1)
      qs.foreach { case (qid, q) =>
        assert(got(qid).map(_._2).toSeq == brute(rows, q, 8), s"R=${idxs.length} qid $qid")
      }
      // listener events arrive asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (plans.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!plans.isEmpty, s"R=${idxs.length}: no source scan ran")
      plans.forEach { pushed =>
        assert(pushed.contains("In(id,"),
          s"R=${idxs.length}: candidate IN not pushed to the source scan: $pushed")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("searchMany batch equals single-query results on a codes-only index") {
    import spark.implicits._
    val dir = freshDir()
    val idx = IvfIndex.build(df, "id", "vec", dir,
      IvfConfig(lists = 8, storeVectors = false))
    val qs = Array(
      1L -> Array.fill(16)(0.1f),
      2L -> Array.fill(16)(-0.2f))
    val batch = idx.searchMany(qs, 8, probes = 8, refine = 16, rerankTable = rt)
      .select("qid", "id").as[(Long, Long)].collect().groupBy(_._1)
    qs.foreach { case (qid, q) =>
      val single = idx.search(q, 8, probes = 8, refine = 16, rerankTable = rt)
        .select("id").as[Long].collect().toSeq
      assert(batch(qid).map(_._2).toSeq == single, s"qid $qid batch != single")
    }
  }

  test("non-residual codes-only range disables cell pruning but stays correct") {
    import spark.implicits._
    val dir = freshDir()
    val idx = IvfIndex.build(df, "id", "vec", dir,
      IvfConfig(lists = 8, residual = false, storeVectors = false))
    val q = Array.fill(16)(0.0f)
    val ds = rows.map { case (_, v) => K.l2(v.toArray, q) }.sorted
    val r = (ds(99) + ds(100)) / 2.0
    val expect = bruteRange(q, r)
    val got = idx.rangeSearch(q, r, rerankTable = rt)
      .as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == expect.map(_._1))
  }

  test("empty build (issue_427 lifecycle) works codes-only") {
    import spark.implicits._
    val dir = freshDir()
    val empty = Seq.empty[(Long, Seq[Float])].toDF("id", "vec")
    val idx = IvfIndex.build(empty, "id", "vec", dir,
      IvfConfig(lists = 4, dim = 16, storeVectors = false))
    val q = Array.fill(16)(0.3f)
    assert(idx.search(q, 5, rerankTable = Some((empty, "id", "vec"))).count() == 0)
    idx.appendDelta(df, "id", "vec")
    assert(idx.search(q, 10, probes = 4, refine = 32, rerankTable = rt)
      .select("id").as[Long].collect().nonEmpty, "bootstrap inserts searchable")
  }

  test("dropVectors: converted index is byte-identical to a fresh codes-only build") {
    import spark.implicits._
    val fullDir = freshDir(); val dropDir = freshDir(); val freshBuildDir = freshDir()
    val cfg = IvfConfig(lists = 8)
    val full = IvfIndex.build(df, "id", "vec", fullDir, cfg)
    // include a delta append: the conversion must fold it in (born compacted)
    val conv = full.dropVectors(dropDir)
    assert(!conv.meta.cfg.storeVectors)
    val written = spark.read.parquet(s"$dropDir/gen-0")
    assert(!written.columns.contains("vec"),
      s"dropVectors wrote a vec column: ${written.columns.mkString(",")}")
    // same config + same data => the fresh codes-only build must agree on
    // every stored code row AND every answer
    val fresh = IvfIndex.build(df, "id", "vec", freshBuildDir,
      cfg.copy(storeVectors = false))
    def codeRows(d: String) =
      spark.read.parquet(s"$d/gen-0")
        .select("id", "cluster_id", "cmeta", "codes")
        .as[(Long, Int, Seq[Float], Array[Byte])]
        .collect().map { case (i, c, m, b) => (i, c, m, b.toSeq) }
        .sortBy(_._1).toSeq
    assert(codeRows(dropDir) == codeRows(freshBuildDir),
      "converted codes differ from a fresh codes-only build")
    val q = Array.fill(16)(0.15f)
    val got = conv.search(q, 10, probes = 8, refine = 16, rerankTable = rt)
      .select("id").as[Long].collect().toSeq
    assert(got == brute(rows, q, 10))
    // converting an already-codes-only index fails loudly
    val e = intercept[IllegalArgumentException](conv.dropVectors(freshDir()))
    assert(e.getMessage.contains("codes-only"), e.getMessage)
  }

  test("dropVectors folds delta appends and keeps the centroid tree") {
    import spark.implicits._
    val fullDir = freshDir(); val dropDir = freshDir()
    val (initial, extra) = rows.splitAt(450)
    val full = IvfIndex.build(initial.toDF("id", "vec"), "id", "vec", fullDir,
      IvfConfig(lists = 8, upperLists = Seq(2))) // 2 internal levels
    full.appendDelta(extra.toDF("id", "vec"), "id", "vec")
    val conv = full.dropVectors(dropDir)
    assert(!Files.exists(java.nio.file.Paths.get(dropDir, "delta")),
      "conversion output must be born compacted")
    assert(conv.meta.upperCentroids.nonEmpty && conv.meta.upperChildren.nonEmpty,
      "upper centroid levels must carry over")
    val q = Array.fill(16)(-0.1f)
    val got = conv.search(q, 10, probes = 8, refine = 16, probes1 = 2, rerankTable = rt)
      .select("id").as[Long].collect().toSeq
    assert(got == brute(rows, q, 10), "delta rows must be searchable after conversion")
  }

  test("cosine metric codes-only: range + knn via source-table renormalization") {
    import spark.implicits._
    val dir = freshDir()
    val idx = IvfIndex.build(df, "id", "vec", dir,
      IvfConfig(lists = 8, metric = "cosdist", storeVectors = false))
    val q = Array.fill(16)(0.25f)
    val cds = rows.map { case (_, v) => K.cosdist(v.toArray, q) }.sorted
    val r = (cds(99) + cds(100)) / 2.0
    val expect = rows.map { case (id, v) => (id, K.cosdist(v.toArray, q)) }
      .filter(_._2 < r).sortBy { case (id, d) => (d, id) }
    val got = idx.rangeSearch(q, r, rerankTable = rt)
      .as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == expect.map(_._1))
    got.zip(expect).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-5) }
    val knn = idx.search(q, 10, probes = 8, refine = 16, rerankTable = rt)
      .select("id").as[Long].collect().toSeq
    val bruteCos = rows.map { case (id, v) => (K.cosdist(v.toArray, q), id) }
      .sorted.take(10).map(_._2)
    assert(knn == bruteCos)
  }
}
