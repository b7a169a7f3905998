package graft.plans

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import graft.functions.GraftFunctions
import graft.index.{IvfConfig, IvfIndex}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * The IVF prefilter's conjunct split: key-only conjuncts (deterministic,
 * id the only reference, no subquery or Unevaluable node) run inside the
 * pool task, the rest stay residual for the survivor count. Every shape
 * here must equal brute force. A key-only query plans exactly one job
 * when its first pool covers the rows it passes; a misfiled residual
 * conjunct would fail to evaluate in the pool task, or drop rows the
 * Filter keeps.
 */
class KeyPrefilterSpec extends SparkSpec {

  private val dim = 8

  /** 600 rows (id, tag = id % 4, vec) with the id column cast to
    * `idType`; the table and an IVF index over it. */
  private def table(idType: String, seed: Int, lists: Int = 8)
      : (String, String, Seq[(Long, Int, Array[Float])]) = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val rows = (0L until 600L).map(i =>
      (i, (i % 4).toInt, Array.fill(dim)(rng.nextFloat() * 2 - 1)))
    val dir = Files.createTempDirectory("graft-keypre").toString
    rows.map { case (i, t, v) => (i, t, v.toSeq) }.toDF("id", "tag", "vec")
      .withColumn("id", col("id").cast(idType))
      .write.mode("overwrite").parquet(dir)
    val idx = Files.createTempDirectory("graft-keypre-idx").toString
    IvfIndex.build(spark.read.parquet(dir), "id", "vec", idx, IvfConfig(lists = lists))
    (dir, idx, rows)
  }

  private def withRule[T](f: => T): T = {
    val uninstall = AnnTopKRewrite.install(spark)
    try f
    finally uninstall()
  }

  private def brute(rows: Seq[(Long, Int, Array[Float])], q: Array[Float], k: Int,
      keep: ((Long, Int, Array[Float])) => Boolean): Seq[Long] =
    rows.filter(keep).map { case (id, _, v) => (K.l2(v, q), id) }
      .sorted.take(k).map(_._2)

  private def query(seed: Int): Array[Float] = {
    val rng = new scala.util.Random(seed)
    Array.fill(dim)(rng.nextFloat() * 2 - 1)
  }

  /** `base` filtered by `pred`, ordered by l2 to `q`, top k ids. */
  private def topK(base: DataFrame, pred: Column, q: Array[Float], k: Int): DataFrame =
    base.filter(pred).orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
      .limit(k).select("id")

  /** Plan `df` (its planning jobs run here), assert it is served, and
    * return (planning jobs, ids). */
  private def run(df: DataFrame): (Long, Seq[Long]) = {
    val pj = AnnTopKRewrite.planningJobs.get()
    val plan = df.queryExecution.optimizedPlan.toString
    val jobs = AnnTopKRewrite.planningJobs.get() - pj
    assert(AnnTopKRewrite.inServed(plan), s"expected an index-served plan:\n$plan")
    (jobs, df.collect().map(r => r.get(0).asInstanceOf[Number].longValue()).toSeq)
  }

  // Every probe, and k*refine = 200 of 600 rows: a pool holds every row a
  // selective key-only predicate passes (so it is exact, and one job),
  // while a residual one is not covered and needs a survivor count.
  private val exactConfs = Seq("graft.ann.probes" -> "8", "graft.ann.refine" -> "40",
    "graft.ann.cost.enable" -> "false")

  test("IntegerType id: a key-only conjunct reads the index's long id " +
       "through a cast; one planning job, brute-exact") {
    val (dir, idx, rows) = table("int", 5)
    AnnCatalog.register(dir, idx, "id", "vec")
    try withRule { graft.core.Confs.withConfs(spark, exactConfs: _*) {
      assert(spark.read.parquet(dir).schema("id").dataType.typeName == "integer")
      (0 until 3).foreach { i =>
        val q = query(i)
        val (jobs, got) = run(topK(spark.read.parquet(dir), col("id") % 50 === i, q, 5))
        assert(jobs == 1, s"query $i: $jobs planning jobs")
        assert(got == brute(rows, q, 5, _._1 % 50 == i), s"query $i")
      }
    } } finally AnnCatalog.unregister(dir)
  }

  test("a selective key-only filter escalates x4 per round until its pool " +
       "holds k ids: one pool job per round, exact once every row is pooled") {
    val (dir, idx, rows) = table("long", 4, lists = 32)
    AnnCatalog.register(dir, idx, "id", "vec")
    try withRule { graft.core.Confs.withConfs(spark, "graft.ann.probes" -> "1",
        "graft.ann.refine" -> "4", "graft.ann.cost.enable" -> "false") {
      (0 until 3).foreach { i =>
        val q = query(60 + i)
        // `id % 100 = i` passes exactly 6 rows and k = 6: a pool holds k
        // ids only once it holds all 6, so the answer is exact; 1 of 32
        // cells (the first round) never holds all 6
        val (jobs, got) = run(topK(spark.read.parquet(dir), col("id") % 100 === i, q, 6))
        assert(jobs >= 2, s"query $i: $jobs planning jobs, no escalation")
        assert(got == brute(rows, q, 6, _._1 % 100 == i), s"query $i")
      }
    } } finally AnnCatalog.unregister(dir)
  }

  test("subquery conjuncts stay residual: id IN (SELECT ...) and " +
       "id >= (SELECT ...) equal brute force") {
    val (dir, idx, rows) = table("long", 6)
    AnnCatalog.register(dir, idx, "id", "vec")
    // each predicate passes fewer than k = 5 rows, so the survivor count
    // (it plans the subquery) runs until the pool covers the table: exact
    val picks = spark.range(0, 600, 97).toDF("pid")
    val cut = spark.read.parquet(dir).agg((max(col("id")) - 3).as("c"))
    try withRule { graft.core.Confs.withConfs(spark, exactConfs: _*) {
      val q = query(11)
      // a scalar subquery reaches the rule as an uncorrelated
      // ScalarSubquery: its only attribute reference is id
      val base = spark.read.parquet(dir)
      val (jobs, got) = run(topK(base, col("id") >= cut.scalar(), q, 5))
      assert(jobs >= 3, s"$jobs planning jobs: the scalar subquery ran no survivor count")
      assert(got == brute(rows, q, 5, _._1 >= 596))
      // an IN subquery is a semi join by the time extraOptimizations run,
      // so the rule sees its Filter only when applied to the analyzed
      // plan (as an injected optimizer rule would)
      val df = topK(base, col("id").isin(picks) && col("id") % 2 === 0, q, 5)
      val pj = AnnTopKRewrite.planningJobs.get()
      val servedPlan = AnnTopKRewrite(spark).apply(df.queryExecution.analyzed)
      assert(AnnTopKRewrite.planningJobs.get() - pj >= 3,
        "the IN subquery ran no survivor count")
      assert(AnnTopKRewrite.inServed(servedPlan.toString), servedPlan.toString)
      val got2 = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, servedPlan)
        .collect().map(_.getLong(0)).toSeq
      assert(got2 == brute(rows, q, 5, r => r._1 % 97 == 0 && r._1 % 2 == 0))
    } } finally AnnCatalog.unregister(dir)
  }

  test("a conjunct over both id and vec stays residual: a survivor count " +
       "runs, rows equal brute force") {
    val (dir, idx, rows) = table("long", 7)
    AnnCatalog.register(dir, idx, "id", "vec")
    try withRule { graft.core.Confs.withConfs(spark, exactConfs: _*) {
      (0 until 3).foreach { i =>
        val q = query(20 + i)
        // k*refine covers all 600 rows: exact, whatever the pool order
        graft.core.Confs.withConfs(spark, "graft.ann.refine" -> "120") {
          val (jobs, got) = run(topK(spark.read.parquet(dir),
            col("id") % 10 === i || element_at(col("vec"), 1) > 0.8f, q, 5))
          assert(jobs == 1, s"query $i: a covered pool needs no count, got $jobs")
          assert(got == brute(rows, q, 5, r => r._1 % 10 == i || r._3(0) > 0.8f), s"query $i")
        }
        // not covered: pool + count, and the count passes k survivors
        val (jobs, got) = run(topK(spark.read.parquet(dir),
          col("id") % 2 === 0 || element_at(col("vec"), 1) > 0.5f, q, 5))
        assert(jobs >= 2, s"query $i: a residual conjunct ran no survivor count")
        assert(got.length == 5)
      }
    } } finally AnnCatalog.unregister(dir)
  }

  test("a prefilter with both a key-only and a residual conjunct: the count " +
       "runs over the filtered pool, escalation ends exact") {
    val (dir, idx, rows) = table("long", 11)
    AnnCatalog.register(dir, idx, "id", "vec")
    try withRule { graft.core.Confs.withConfs(spark, "graft.ann.probes" -> "2",
        "graft.ann.refine" -> "4", "graft.ann.cost.enable" -> "false") {
      (0 until 3).foreach { i =>
        val q = query(70 + i)
        // `id % 10 = i` (60 rows) runs in the pool, `element_at(vec, j) >
        // 0.4` (~30% of them) is counted over it. The first pool (2 of 8
        // cells) sees a pass rate far under 1/refine and widens; the
        // second probes every cell and holds all 60 (under k*refine = 80),
        // so it covers the table: pool, count, pool, and exact
        val (jobs, got) = run(topK(spark.read.parquet(dir),
          col("id") % 10 === i && element_at(col("vec"), 1 + i) > 0.4f, q, 5))
        assert(jobs == 3, s"query $i: $jobs planning jobs")
        assert(got == brute(rows, q, 5, r => r._1 % 10 == i && r._3(i) > 0.4f), s"query $i")
      }
    } } finally AnnCatalog.unregister(dir)
  }

  test("a key-only predicate that evaluates to null drops its rows, as the " +
       "Filter does") {
    val (dir, idx, rows) = table("long", 8)
    AnnCatalog.register(dir, idx, "id", "vec")
    try withRule { graft.core.Confs.withConfs(spark, exactConfs: _*) {
      (0 until 3).foreach { i =>
        val q = query(30 + i)
        // try_divide(6, id % 7) is null at id % 7 == 0; > 2 passes
        // id % 7 in {1, 2} (2/7 of the rows, under the 200-row pool)
        val (jobs, got) = run(topK(spark.read.parquet(dir),
          try_divide(lit(6), col("id") % 7) > 2, q, 5))
        assert(jobs == 1, s"query $i: $jobs planning jobs")
        assert(got == brute(rows, q, 5, r => r._1 % 7 == 1 || r._1 % 7 == 2), s"query $i")
      }
    } } finally AnnCatalog.unregister(dir)
  }

  test("cold, prewarmed and partitioned (flat) pools filter alike: brute-exact " +
       "in one planning job") {
    val (dir, idx, rows) = table("long", 9)
    AnnCatalog.register(dir, idx, "id", "vec")
    val partDir = Files.createTempDirectory("graft-keypre-part").toString
    val parts = 3
    try withRule { graft.core.Confs.withConfs(spark, exactConfs: _*) {
      val ix = AnnCatalog.index(spark, AnnCatalog.lookup(Seq(dir)).get)
      def check(base: => DataFrame, label: String): Unit = (0 until 3).foreach { i =>
        // `id % 13 = i` passes ~46 of 600 rows (~15 of a child's 200):
        // every one fits the pool
        val q = query(40 + i)
        val (jobs, got) = run(topK(base, col("id") % 13 === i, q, 5))
        assert(jobs == 1, s"$label query $i: $jobs planning jobs")
        assert(got == brute(rows, q, 5, _._1 % 13 == i), s"$label query $i")
      }
      check(spark.read.parquet(dir), "cold")
      ix.prewarm()
      check(spark.read.parquet(dir), "prewarmed")
      // the same rows as three `part=` children, each indexed
      import spark.implicits._
      rows.map { case (i, t, v) => (i, t, v.toSeq, (i % parts).toInt) }
        .toDF("id", "tag", "vec", "part")
        .write.partitionBy("part").mode("overwrite").parquet(partDir)
      (0 until parts).foreach { p =>
        val d = Files.createTempDirectory(s"graft-keypre-pidx$p").toString
        IvfIndex.build(spark.read.parquet(s"$partDir/part=$p"), "id", "vec", d,
          IvfConfig(lists = 8))
        AnnCatalog.register(s"$partDir/part=$p", d, "id", "vec")
      }
      // k*refine = 100 of each root's 200 rows: not covered
      graft.core.Confs.withConfs(spark, "graft.ann.refine" -> "20") {
        check(spark.read.parquet(partDir), "partitioned")
      }
    } } finally {
      AnnCatalog.unregister(dir)
      (0 until parts).foreach(p => AnnCatalog.unregister(s"$partDir/part=$p"))
    }
  }

  test("a partial index whose leftover conjunct is key-only serves it in the " +
       "pool: one planning job, brute-exact") {
    import spark.implicits._
    val (dir, _, rows) = table("long", 10)
    val pidx = Files.createTempDirectory("graft-keypre-partial").toString
    IvfIndex.build(spark.read.parquet(dir).filter(col("tag") === 1), "id", "vec", pidx,
      IvfConfig(lists = 4))
    AnnCatalog.registerPartial(dir, pidx, "id", "vec", "tag = 1")
    try withRule { graft.core.Confs.withConfs(spark, "graft.ann.probes" -> "4",
        "graft.ann.refine" -> "10", "graft.ann.cost.enable" -> "false") {
      (0 until 3).foreach { i =>
        val q = query(50 + i)
        // 150 indexed rows; `id % 9 = i` passes ~17 of them, under the
        // 50-row pool
        val (jobs, got) = run(topK(spark.read.parquet(dir),
          col("tag") === 1 && col("id") % 9 === i, q, 5))
        assert(jobs == 1, s"query $i: $jobs planning jobs")
        assert(got == brute(rows, q, 5, r => r._2 == 1 && r._1 % 9 == i), s"query $i")
      }
    } } finally AnnCatalog.unregisterPartial(dir, pidx)
  }
}
