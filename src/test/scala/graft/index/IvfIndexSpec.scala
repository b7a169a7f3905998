package graft.index

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import java.nio.file.Files

/**
 * Mirrors the reference's index build+query sqllogictests (reference:
 * tests/vchordrq/index.slt — 1000 random dim-3 rows, lists=[33], top-10
 * per metric; recall.slt — recall == 1 with enough probes).
 */
class IvfIndexSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-ivf-test").toString

  private lazy val rows: Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(42)
    (0L until 1000L).map(i => i -> Seq.fill(12)(rng.nextFloat() * 2 - 1))
  }

  private def brute(q: Array[Float], k: Int): Seq[Long] =
    rows.map { case (id, v) => (K.l2(v.toArray, q), id) }.sorted.take(k).map(_._2)

  test("searchExact equals brute force") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 16))
    val q = Array.fill(12)(0.2f)
    val got = idx.searchExact(q, 10).select("id").as[Long].collect().toSeq
    assert(got == brute(q, 10))
  }

  test("rangeSearch returns exactly the rows inside the sphere (strategy 2)") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 16, residual = true))
    val q = Array.fill(12)(0.2f)
    Seq(0.9, 1.2, 1.6).foreach { radius =>
      val got = idx.rangeSearch(q, radius)
        .select("id", "dist").as[(Long, Double)].collect()
      val want = rows.map { case (id, v) => (id, K.l2(v.toArray, q)) }
        .filter(_._2 < radius).sortBy { case (id, d) => (d, id) }
      assert(got.map(_._1).toSeq == want.map(_._1), s"radius $radius")
      got.zip(want).foreach { case ((_, gd), (_, wd)) =>
        assert(gd == wd, s"radius $radius: exact distances expected") }
    }
    // empty sphere
    assert(idx.rangeSearch(Array.fill(12)(40f), 0.5).count() == 0)
    // rerank-in-table matches rerank-in-index
    val viaTable = idx.rangeSearch(q, 1.2, rerankTable = Some((df, "id", "vec")))
      .select("id").as[Long].collect().toSeq
    assert(viaTable ==
      idx.rangeSearch(q, 1.2).select("id").as[Long].collect().toSeq)
    // DISTRIBUTED survivor tier (maxDriverSurvivors = 0): the candidate
    // set is never collected to the driver — the plan joins the
    // distributed candidate frame (no id IN list) and still returns the
    // exact sphere contents. The radius sits between the 100th and 101st
    // nearest row, so the code bound prunes (no scan fallback).
    val ds = rows.map { case (_, v) => K.l2(v.toArray, q) }.sorted
    val rMid = (ds(99) + ds(100)) / 2.0
    val midWant = rows.map { case (id, v) => (K.l2(v.toArray, q), id) }
      .filter(_._1 < rMid).sortBy(w => (w._1, w._2)).map(_._2)
    assert(midWant.length == 100)
    graft.core.Confs.withConfs(spark, "graft.ann.range.maxDriverSurvivors" -> "0") {
      val f0 = IvfIndex.rangeScanFallbacks.get()
      val mid = idx.rangeSearch(q, rMid)
      val plan = mid.queryExecution.optimizedPlan.toString
      assert(plan.contains("Join"), s"expected candidate join shape:\n$plan")
      assert(mid.select("id").as[Long].collect().toSeq == midWant,
        "distributed tier must equal brute force")
      // same tier through rerank-in-table
      val midTbl = idx.rangeSearch(q, rMid, rerankTable = Some((df, "id", "vec")))
        .select("id").as[Long].collect().toSeq
      assert(midTbl == midWant, "distributed rerank-in-table path")
      assert(IvfIndex.rangeScanFallbacks.get() == f0, "a pruning sphere must not fall back")
    }
    // NO-PRUNE FALLBACK: a sphere that keeps every row abandons the
    // candidate join for a straight exact scan — no Join in the plan,
    // identical rows, counter observable
    val wideWant = rows.map { case (id, v) => (K.l2(v.toArray, q), id) }
      .filter(_._1 < 100.0).sortBy(w => (w._1, w._2)).map(_._2)
    val f0 = IvfIndex.rangeScanFallbacks.get()
    val flat = idx.rangeSearch(q, 100.0)
    assert(IvfIndex.rangeScanFallbacks.get() == f0 + 1,
      "expected the no-prune scan fallback")
    assert(!flat.queryExecution.optimizedPlan.toString.contains("Join"),
      s"fallback must not join:\n${flat.queryExecution.optimizedPlan}")
    assert(flat.select("id").as[Long].collect().toSeq == wideWant,
      "fallback path must equal brute force")
    // fallback through rerank-in-table too
    val f1 = IvfIndex.rangeScanFallbacks.get()
    val flatTbl = idx.rangeSearch(q, 100.0, rerankTable = Some((df, "id", "vec")))
      .select("id").as[Long].collect().toSeq
    assert(IvfIndex.rangeScanFallbacks.get() == f1 + 1)
    assert(flatTbl == wideWant, "fallback rerank-in-table path")
  }

  test("rangeSearch radius <= 0 returns empty without launching estimate jobs") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 8))
    Seq(0.0, -1.5).foreach { r =>
      val out = idx.rangeSearch(Array.fill(12)(0.2f), r)
      assert(out.count() == 0, s"radius $r must be empty")
      // no cells probed -> every scan folds away: the optimized plan is a
      // constant empty relation, so no estimate/rerank job can launch
      assert(out.queryExecution.optimizedPlan.toString.contains("LocalRelation"),
        s"radius $r: expected degenerate plan:\n${out.queryExecution.optimizedPlan}")
    }
    // cosdist radius 0: strict < 0 can never hold either
    val cidx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 8, metric = "cosdist"))
    assert(cidx.rangeSearch(Array.fill(12)(0.3f), 0.0).count() == 0)
  }

  test("rangeSearch sees delta appends (cell-radius cache invalidation)") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 8))
    val q = Array.fill(12)(0.2f)
    val before = idx.rangeSearch(q, 1.0).select("id").as[Long].collect().toSet
    // append a row AT the query point: inside every sphere around q
    idx.appendDelta(Seq((5000L, q.toSeq)).toDF("id", "vec"), "id", "vec")
    val after = idx.rangeSearch(q, 1.0).select("id").as[Long].collect().toSet
    assert(after.contains(5000L), "delta row inside the sphere must appear")
    assert(before.subsetOf(after))
    // and through compaction too
    idx.compact()
    val compacted = idx.rangeSearch(q, 1.0).select("id").as[Long].collect().toSet
    assert(compacted == after)
  }

  test("rangeSearchMany equals per-query rangeSearch (one distributed plan)") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 16, residual = true))
    val queries = Array(
      (10L, Array.fill(12)(0.2f), 1.2),
      (11L, Array.fill(12)(-0.3f), 0.9),
      (12L, Array.fill(12)(0.05f), 1.5),
      (13L, Array.fill(12)(40f), 0.5)) // empty sphere rides the batch too
    // a batch over one index is the batched range fold with R = 1,
    // graded per query against the brute strict-< cutoff
    def batch(ix: IvfIndex, qs: Array[(Long, Array[Float], Double)]) =
      IvfIndex.rangeSearchManyMulti(Seq(ix), qs)
        .select("qid", "id", "dist").as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSeq).toMap
    val got = batch(idx, queries)
    queries.foreach { case (qid, c, r) =>
      val want = RangeBruteOracle.brute(rows, c, r, "l2", "f32")
      assert(got.getOrElse(qid, Seq.empty) == want, s"qid $qid")
    }
    // f16 storage: same equality through the decode path
    val idx16 = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 16, storage = "f16"))
    val got16 = batch(idx16, queries.take(2))
    queries.take(2).foreach { case (qid, c, r) =>
      val want = RangeBruteOracle.brute(rows, c, r, "l2", "f16")
      assert(got16.getOrElse(qid, Seq.empty) == want, s"f16 qid $qid")
    }
    // MIXED batch with a no-prune query (radius 100 keeps every row): the
    // wide query takes the direct-scan fallback, the selective ones keep
    // the candidate path — same rows as brute per query either way
    val f0 = IvfIndex.rangeScanFallbacks.get()
    val mixed = queries.take(2) :+ ((99L, Array.fill(12)(0.1f), 100.0))
    val gotMix = batch(idx, mixed)
    assert(IvfIndex.rangeScanFallbacks.get() == f0 + 1,
      "exactly the wide query falls back to the direct scan")
    mixed.foreach { case (qid, c, r) =>
      val want = RangeBruteOracle.brute(rows, c, r, "l2", "f32")
      assert(gotMix.getOrElse(qid, Seq.empty) == want, s"mixed-batch qid $qid")
    }
  }

  test("rangeSearch on a cosdist index applies the cosine cutoff exactly") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 16, metric = "cosdist"))
    val q = Array.fill(12)(0.3f)
    val radius = 0.4
    val got = idx.rangeSearch(q, radius).select("id").as[(Long)].collect().toSet
    val want = rows.map { case (id, v) => (id, K.cosdist(v.toArray, q)) }
      .filter(_._2 < radius).map(_._1).toSet
    assert(got == want && got.nonEmpty, s"got ${got.size} want ${want.size}")
  }

  test("full-probe ANN search has recall 1 (reference recall.slt floor)") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 16))
    val q = Array.fill(12)(-0.3f)
    val r = idx.evaluateRecall(q, 10, probes = 16, refine = 16)
    assert(r == 1.0)
  }

  test("partial-probe ANN recall >= 0.8 at probes=8/16") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 16))
    val rng = new scala.util.Random(1)
    val recalls = (0 until 5).map { _ =>
      val q = Array.fill(12)(rng.nextFloat() * 2 - 1)
      idx.evaluateRecall(q, 10, probes = 8, refine = 16)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall $mean from $recalls")
  }

  test("non-residual + 4-bit variant still exact under full probe") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 8, bits = 4, residual = false))
    val q = Array.fill(12)(0.05f)
    assert(idx.evaluateRecall(q, 10, probes = 8, refine = 32) == 1.0)
  }

  test("cosine metric index returns cosdist ordering") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 8, metric = "cosdist"))
    val q = Array.fill(12)(0.4f)
    val got = idx.searchExact(q, 5).select("id").as[Long].collect().toSeq
    val want = rows.map { case (id, v) =>
      (K.cosdist(v.toArray, q), id)
    }.sorted.take(5).map(_._2)
    // normalized-dot vs raw cosdist orderings agree up to fp ties
    assert(got.toSet.intersect(want.toSet).size >= 4)
  }

  test("load round-trips config and centroids") {
    import spark.implicits._
    val dir = freshDir()
    val df = rows.toDF("id", "vec")
    IvfIndex.build(df, "id", "vec", dir, IvfConfig(lists = 4, bits = 4, residual = false))
    val idx = IvfIndex.load(spark, dir)
    assert(idx.meta.dim == 12)
    assert(idx.meta.cfg.lists == 4 && idx.meta.cfg.bits == 4 && !idx.meta.cfg.residual)
    assert(idx.meta.centroids.length == 4)
  }

  test("estimate scan prunes partitions and the vec column (plan golden)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 8))
    val q = Array.fill(12)(0.1f)
    assert(idx.probe(q, 2).length == 2)
    // the physical scan the one-root top-k pool runs on an uncached
    // index: cluster_id is a partition column pruned at the source
    // through the cell restriction, vec is absent from the read schema
    val probed = idx.probe(q, 2)
    val scan = idx.poolScan(probed)
    val inCells = idx.dataDf.filter(IvfIndex.inCells(probed)).count()
    assert(org.apache.spark.sql.graft.ColumnBridge.toInternalRdd(scan).count() == inCells)
    assert(idx.search(q, 5, probes = 2).count() == 5)
    val plan = scan.queryExecution.executedPlan
    val phys = plan.toString
    val partFilters = phys.split("PartitionFilters: ")
    assert(partFilters.length > 1 &&
      partFilters(1).takeWhile(_ != ']').contains("cell_in(cluster_id"),
      s"expected cluster_id partition pruning by the cell restriction:\n$phys")
    val scans = new AdaptiveSparkPlanHelper {}.collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(_.metrics("numPartitions").value == 2),
      "the scan must read only the 2 probed cells: " +
      scans.map(_.metrics("numPartitions").value).mkString(","))
    val readSchema = phys.split("ReadSchema:")(1).split("\n")(0)
    assert(!readSchema.contains("vec"), s"vec must be pruned from the estimate scan: $readSchema")
  }

  test("invalid configs are rejected at build (options.slt behavior)") {
    import spark.implicits._
    val df = rows.take(10).toDF("id", "vec")
    def bad(cfg: IvfConfig): Unit =
      intercept[IllegalArgumentException](IvfIndex.build(df, "id", "vec", freshDir(), cfg))
    bad(IvfConfig(lists = 0))
    bad(IvfConfig(bits = 5))
    bad(IvfConfig(metric = "cosine")) // the valid name is cosdist
    bad(IvfConfig(storage = "f64"))
    bad(IvfConfig(lists = 4, lists1 = 8))
    bad(IvfConfig(kmeansAlgo = "kmeans++"))
  }

  test("null vectors are excluded from the index (issue_427 behavior)") {
    import spark.implicits._
    val withNulls = rows.take(100).map { case (id, v) => (id, Some(v)) } ++
      (100L until 120L).map(i => (i, None: Option[Seq[Float]]))
    val df = withNulls.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 4))
    assert(idx.dataDf.count() == 100)
    val q = Array.fill(12)(0.2f)
    val got = idx.searchExact(q, 5).select("id").as[Long].collect().toSeq
    val want = rows.take(100).map { case (id, v) => (K.l2(v.toArray, q), id) }
      .sorted.take(5).map(_._2)
    assert(got == want)
  }

  // The parity specs below grade BOTH top-k faces against TopKReplay, a
  // driver-side replay of the estimate pool and exact rerank that runs
  // none of the serve's jobs.
  private def gradeFaces(idx: IvfIndex, queries: Seq[(Long, Array[Float])], k: Int,
      probes: Int, refine: Int,
      rerankTable: Option[(org.apache.spark.sql.DataFrame, String, String)] = None): Unit = {
    val table = rerankTable.map { case (t, idCol, vecCol) =>
      t.select(idCol, vecCol).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    }
    val batch = TopKReplay.byQid(idx.searchMany(queries.toArray, k, probes = probes,
      refine = refine, rerankTable = rerankTable))
    val want = TopKReplay.topK(idx, queries, k, probes, refine, table = table)
    queries.foreach { case (qid, q) =>
      assert(want(qid).length == k, s"query $qid: replay kept ${want(qid)}")
      TopKReplay.check(batch(qid), want(qid), s"searchMany query $qid")
      val single = TopKReplay.rowsOfSearch(idx.search(q, k, probes = probes,
        refine = refine, rerankTable = rerankTable))
      TopKReplay.check(single, TopKReplay.topK(idx, Seq(qid -> q), k, probes, refine,
        table = table)(qid), s"search query $qid")
    }
  }

  test("searchMany equals per-query search (two jobs for the whole batch)") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 16))
    val rng = new scala.util.Random(7)
    val queries = Array.tabulate(8)(i =>
      i.toLong -> Array.fill(12)(rng.nextFloat() * 2 - 1))
    // probes < lists and k*refine < the probed rows: both truncations bite
    gradeFaces(idx, queries.toSeq, k = 5, probes = 6, refine = 8)
  }

  test("searchMany on an f16-storage index matches per-query search") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 8, storage = "f16"))
    val q0 = Array.fill(12)(0.25f)
    val q1 = Array.tabulate(12)(j => (5 - j) * 0.08f)
    gradeFaces(idx, Seq(0L -> q0, 1L -> q1), k = 5, probes = 8, refine = 20)
  }

  test("searchMany rerank-in-table matches per-query rerank-in-table search") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 8))
    val q0 = Array.fill(12)(0.1f)
    val q1 = Array.tabulate(12)(j => (j - 4) * 0.07f)
    gradeFaces(idx, Seq(0L -> q0, 1L -> q1), k = 5, probes = 8, refine = 20,
      rerankTable = Some((df, "id", "vec")))
  }

  test("searchMany on a cosdist index matches per-query search") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 8, metric = "cosdist"))
    val q0 = Array.fill(12)(0.3f)
    val q1 = Array.tabulate(12)(j => (j - 6) * 0.1f)
    gradeFaces(idx, Seq(0L -> q0, 1L -> q1), k = 5, probes = 8, refine = 20)
  }

  test("candidate pools past the parquet IN-pushdown cap (1000) do not " +
       "crash the scan and stay exact") {
    // regression: parquet evaluates a pushed IN value set as a left-deep
    // or-chain whose recursive visitor overflows the task stack past
    // ~1-2k values (measured in-session: 1024 ok, 2048 SOE). A refine
    // pool bigger than the cap must fall back to min/max-range push +
    // the exact Catalyst filter, not crash.
    import spark.implicits._
    val bigRows = {
      val rng = new scala.util.Random(7)
      (0L until 2500L).map(i => i -> Seq.fill(12)(rng.nextFloat() * 2 - 1))
    }
    val df = bigRows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 4))
    val q = Array.fill(12)(0.15f)
    // k*refine = 2400 candidate ids — above inPushdownCap, below the
    // table size; rerank-in-index AND rerank-in-table both exercise the
    // capped isin fetch
    val want = bigRows.map { case (id, v) => (K.l2(v.toArray, q), id) }
      .sorted.take(12).map(_._2)
    val got = idx.search(q, 12, probes = 4, refine = 200)
      .select("id").as[Long].collect().toSeq
    assert(got == want, "rerank-in-index over a >cap pool")
    val gotRt = idx.search(q, 12, probes = 4, refine = 200,
        rerankTable = Some((df, "id", "vec")))
      .select("id").as[Long].collect().toSeq
    assert(gotRt == want, "rerank-in-table over a >cap pool")
    assert(IvfIndex.inPushdownCap <= 1024,
      "cap must stay below the measured parquet or-chain SOE point")
  }

  test("searchMany: executor-side heap merge (forced via " +
       "graft.ann.flat.directCollectMax=0) returns EXACTLY the direct " +
       "fold's rows") {
    // r18: the est phase's per-query top-nCand fold replaced the
    // row_number window; this pins the fold's two paths against each
    // other (same contract as the multiEstimatePools spec below)
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 8))
    val rng = new scala.util.Random(11)
    val queries = Array.tabulate(5)(i =>
      i.toLong -> Array.fill(12)(rng.nextFloat() * 2 - 1))
    def run(): Seq[(Long, Long, Double, Long)] =
      idx.searchMany(queries, k = 5, probes = 6, refine = 8)
        .as[(Long, Long, Double, Long)].collect().toSeq
        .sortBy(t => (t._1, t._4))
    val direct = run()
    spark.conf.set("graft.ann.flat.directCollectMax", "0")
    val merged =
      try run()
      finally spark.conf.unset("graft.ann.flat.directCollectMax")
    assert(merged == direct)
    assert(direct.nonEmpty)
  }

  test("multiEstimatePools: executor-side heap merge (forced via " +
       "graft.ann.flat.directCollectMax=0) returns EXACTLY the direct " +
       "collect's per-(root, query) pools") {
    import spark.implicits._
    val rng = new scala.util.Random(53)
    val idxs = (0 to 1).map { r =>
      val part = (0L until 300L).map(i =>
        (r * 1000L + i, Seq.fill(8)(rng.nextFloat() * 2 - 1)))
      IvfIndex.build(part.toDF("id", "vec"), "id", "vec", freshDir(),
        IvfConfig(lists = 4))
    }
    val queries = Array(Array.fill(8)(0.1f), Array.fill(8)(-0.2f),
      Array.fill(8)(0.3f))
    def pools(): Set[(Int, Int, Long, Double)] =
      IvfIndex.multiEstimateCandidates(idxs, queries, nCand = 20,
        probes = Seq(4, 4), epsilon = 1.9)._1.toSet
    val direct = pools()
    spark.conf.set("graft.ann.flat.directCollectMax", "0")
    val merged =
      try pools()
      finally spark.conf.unset("graft.ann.flat.directCollectMax")
    assert(merged == direct,
      s"merge path diverged: only-direct=${(direct -- merged).take(5)} " +
      s"only-merged=${(merged -- direct).take(5)}")
    assert(direct.nonEmpty &&
      direct.groupBy(t => (t._1, t._2)).forall(_._2.size <= 20))
  }

  test("gen+delta double rows (append-without-delete) fold to ONE id at " +
       "its best distance in search and searchMany") {
    import spark.implicits._
    val rng = new scala.util.Random(73)
    val base = (0L until 120L).map(i => (i, Seq.fill(8)(rng.nextFloat())))
    val idx = IvfIndex.build(base.toDF("id", "vec"), "id", "vec",
      freshDir(), IvfConfig(lists = 2))
    // re-append id 11 with a far vector; its ORIGINAL row stays nearest
    idx.appendDelta(Seq((11L, Seq.fill(8)(5.0f))).toDF("id", "vec"),
      "id", "vec")
    val q = base.find(_._1 == 11L).get._2.toArray
    val single = idx.search(q, 5, probes = 2, refine = 50)
      .select("id", "dist").as[(Long, Double)].collect()
    assert(single.map(_._1).distinct.length == single.length,
      s"search emitted a duplicate id: ${single.toSeq}")
    assert(single.head._1 == 11L && single.head._2 < 1e-6,
      s"id 11 must rank by its ORIGINAL row: ${single.toSeq}")
    val batch = idx.searchMany(Array(0L -> q), 5, probes = 2, refine = 50)
      .select("id", "dist").as[(Long, Double)].collect()
    assert(batch.map(_._1).distinct.length == batch.length &&
      batch.head._1 == 11L && batch.head._2 < 1e-6,
      s"searchMany must fold the double row too: ${batch.toSeq}")
    // both faces equal the replay, which scores both physical rows
    gradeFaces(idx, Seq(0L -> q, 1L -> base(40)._2.toArray), k = 5, probes = 2,
      refine = 50)
  }

  test("the one-root pool and rerank read the prewarm() and prewarmCodes() caches") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import spark.implicits._
    val dir = freshDir()
    IvfIndex.build(rows.toDF("id", "vec"), "id", "vec", dir, IvfConfig(lists = 8))
    val q = Array.fill(12)(0.1f)
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def scans(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val plan = df.queryExecution.executedPlan
      (aqe.collect(plan) { case s: InMemoryTableScanExec => s }.length,
        aqe.collect(plan) { case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(dir)) => s }.length)
    }
    def served(ix: IvfIndex): Unit =
      TopKReplay.check(TopKReplay.rowsOfSearch(ix.search(q, 5, probes = 3)),
        TopKReplay.topK(ix, Seq(0L -> q), 5, 3, 8)(0L), "warm search")
    // full prewarm: both the pool's codes and the rerank's vectors
    val full = IvfIndex.load(spark, dir)
    val cells = full.probe(q, 3)
    assert(scans(full.poolScan(cells)) == (0, 1), "cold pool reads the files")
    full.prewarm()
    // a warm pool runs over the resident source planned over the cache
    def resident(ix: IvfIndex) = ix.residentPool.getOrElse(
      fail("a valid prewarm cache must give a resident pool source"))._1
    try {
      assert(scans(resident(full)) == (1, 0),
        s"prewarm(): pool must read the cache:\n${resident(full).queryExecution.executedPlan}")
      assert(scans(full.rerankScan(cells)) == (1, 0),
        s"prewarm(): rerank must read the cache:\n${full.rerankScan(cells).queryExecution.executedPlan}")
      served(full)
    } finally full.release()
    // codes-only prewarm: the pool reads the cache, the rerank streams vec
    val codes = IvfIndex.load(spark, dir)
    codes.prewarmCodes()
    try {
      assert(scans(resident(codes)) == (1, 0),
        s"prewarmCodes(): pool must read the cache:\n${resident(codes).queryExecution.executedPlan}")
      served(codes)
    } finally codes.release()
  }

  test("pools and searchMany are bit-identical cold, after prewarm() and " +
       "after prewarmCodes(), and equal the replay") {
    import spark.implicits._
    val rng = new scala.util.Random(67)
    // 200 queries: the preps ride in the pool's task binary, no broadcast
    val batch = Array.tabulate(200)(i => i.toLong -> Array.fill(12)(rng.nextFloat() * 2 - 1))
    Seq(IvfConfig(lists = 8), IvfConfig(lists = 8, metric = "cosdist"),
        IvfConfig(lists = 8, metric = "negdot"), IvfConfig(lists = 8, storage = "f16"))
      .foreach { cfg =>
        val dir = freshDir()
        IvfIndex.build(rows.toDF("id", "vec"), "id", "vec", dir, cfg)
        val clue = s"${cfg.metric}/${cfg.storage}"
        // (id, lb bits, root) per query, and the batch's answers
        def state(ix: IvfIndex) = (
          batch.take(6).map { case (_, q) =>
            IvfIndex.multiEstimateCandidates(Seq(ix), Array(q), 40, Seq(3))._1.toSeq
              .map(t => (t._3, java.lang.Double.doubleToRawLongBits(t._4), t._1))
          }.toSeq,
          TopKReplay.byQid(ix.searchMany(batch, 5, probes = 3, refine = 8)))
        val cold = IvfIndex.load(spark, dir)
        val want = state(cold)
        assert(!cold.holdsResident)
        val replay = TopKReplay.topK(cold, batch.toSeq, 5, 3, 8)
        batch.foreach { case (qid, _) =>
          TopKReplay.check(want._2(qid), replay(qid), s"$clue cold query $qid")
        }
        Seq[(String, IvfIndex => Long)]("prewarm()" -> (_.prewarm()),
            "prewarmCodes()" -> (_.prewarmCodes())).foreach { case (how, warmUp) =>
          val ix = IvfIndex.load(spark, dir)
          warmUp(ix)
          try {
            val got = state(ix)
            assert(ix.holdsResident, s"$clue $how: the pool did not run resident")
            assert(got._1 == want._1, s"$clue $how: pools differ from the cold pools")
            assert(got._2 == want._2, s"$clue $how: searchMany differs from cold")
          } finally ix.release()
        }
      }
  }

  test("search with a new query vector compiles no new code on a warm session") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import spark.implicits._
    val idx = IvfIndex.build(rows.toDF("id", "vec"), "id", "vec", freshDir(),
      IvfConfig(lists = 8))
    val rng = new scala.util.Random(97)
    // a 10-id pool: a literal id IN list this short stays an In
    // expression (not a referenced InSet), so it would compile per query
    def query(): Unit =
      assert(idx.search(Array.fill(12)(rng.nextFloat() * 2 - 1), 5, probes = 3,
        refine = 2).collect().length == 5)
    // uncached, then prewarmed: both scan shapes must reuse their code
    try Seq(false, true).foreach { warm =>
      if (warm) idx.prewarm()
      (0 until 3).foreach(_ => query())
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      query()
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiled == 0, s"prewarmed=$warm: $compiled new classes compiled")
    } finally idx.release()
  }
}
