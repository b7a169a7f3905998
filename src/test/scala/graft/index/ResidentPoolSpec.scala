package graft.index

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import graft.functions.GraftFunctions
import graft.plans.{AnnCatalog, AnnTopKRewrite}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * The warm single-root pool's resident row source: planned once per
 * prewarm-persisted relation, never read past an index mutation, dropped
 * on release — and every served pool and prefilter survivor count runs
 * exactly one Spark job. A key-only prefilter runs inside the pool, so
 * its query plans one job per pool round and no survivor count; a
 * residual one adds a survivor count that reads only the id and the
 * residual's columns. A sphere range scans the same row sources: one
 * estimate job and one exact job, warm or cold.
 */
class ResidentPoolSpec extends SparkSpec {

  private val dim = 8

  /** A registered table and its index (2000 rows, 16 lists). */
  private def fixture(): (String, String, Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val rows = (0L until 2000L).map(i => i -> Array.fill(dim)(rng.nextFloat() * 2 - 1))
    val tableDir = Files.createTempDirectory("graft-resident-table").toString
    rows.map { case (i, v) => (i, v.toSeq) }.toDF("id", "vec")
      .write.mode("overwrite").parquet(tableDir)
    val indexDir = Files.createTempDirectory("graft-resident-index").toString
    IvfIndex.build(spark.read.parquet(tableDir), "id", "vec", indexDir,
      IvfConfig(lists = 16))
    (tableDir, indexDir, rows)
  }

  private def withRule[T](f: => T): T = {
    val uninstall = AnnTopKRewrite.install(spark)
    try f
    finally uninstall()
  }

  private def topK(tableDir: String, q: Array[Float], filter: Option[Column] = None,
      k: Int = 10): DataFrame = {
    val t = spark.read.parquet(tableDir)
    filter.fold(t)(t.filter)
      .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq))).limit(k)
  }

  /** Optimize a served top-k (its planning-time jobs run here), then
    * collect its ids. */
  private def served(df: DataFrame): Seq[Long] = {
    val plan = df.queryExecution.optimizedPlan.toString
    assert(AnnTopKRewrite.inServed(plan), s"expected an index-served plan:\n$plan")
    df.collect().map(_.getLong(0)).toSeq
  }

  private def jobsOf[T](f: => T): (T, Int) = graft.PlanProbes.jobsOf(spark)(f)

  private def scansOf[T](tableDir: String)(f: => T): (T, Seq[Set[String]]) =
    graft.PlanProbes.scansOf(spark, tableDir)(f)

  private def query(seed: Int): Array[Float] = {
    val rng = new scala.util.Random(1000 + seed)
    Array.fill(dim)(rng.nextFloat() * 2 - 1)
  }

  private def pool(ix: IvfIndex, q: Array[Float]): Set[Long] =
    IvfIndex.multiEstimateCandidates(Seq(ix), Array(q), 80, Seq(ix.meta.cfg.lists))._1
      .map(_._3).toSet

  test("a prewarmed index plans its pool source once; each pool and each " +
       "survivor round runs one job") {
    val (tableDir, indexDir, _) = fixture()
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      val ix = AnnCatalog.index(spark, AnnCatalog.lookup(Seq(tableDir)).get)
      // a cold serve first fills the row-count and cost caches, which
      // outlive a prewarm (same generation)
      served(topK(tableDir, query(99)))
      ix.prewarm()
      val plans0 = IvfIndex.poolSourcePlans.get()
      val pj0 = AnnTopKRewrite.planningJobs.get()
      (0 until 10).foreach { i =>
        val df = topK(tableDir, query(i))
        val pj = AnnTopKRewrite.planningJobs.get()
        val (_, jobs) = jobsOf(df.queryExecution.optimizedPlan)
        assert(AnnTopKRewrite.planningJobs.get() - pj == 1,
          s"query $i: a plain serve counts one planning job")
        assert(jobs == 1, s"query $i: the pool ran $jobs Spark jobs")
        assert(served(df).length == 10)
      }
      assert(AnnTopKRewrite.planningJobs.get() - pj0 == 10)
      assert(IvfIndex.poolSourcePlans.get() - plans0 <= 1,
        s"10 warm pools planned ${IvfIndex.poolSourcePlans.get() - plans0} sources")
      assert(ix.holdsResident)
      // a key-only prefilter runs inside the pool, so no survivor count
      // runs: passing half the rows (over 1/refine), the first pool
      // serves — one job
      (0 until 4).foreach { i =>
        val df = topK(tableDir, query(50 + i), filter = Some(col("id") % 2 === i % 2))
        val pj = AnnTopKRewrite.planningJobs.get()
        val (_, jobs) = jobsOf(df.queryExecution.optimizedPlan)
        val counted = AnnTopKRewrite.planningJobs.get() - pj
        assert(counted == 1, s"filtered query $i: $counted planning jobs")
        assert(jobs == 1, s"filtered query $i: $jobs Spark jobs for one pool")
        assert(served(df).length == 10)
      }
      // passing a tenth (under 1/refine = 1/8), the first pool (4 of 16
      // cells) widens once to every cell — two pool jobs, still no count
      (0 until 4).foreach { i =>
        val df = topK(tableDir, query(20 + i), filter = Some(col("id") % 10 === i))
        val pj = AnnTopKRewrite.planningJobs.get()
        val (_, jobs) = jobsOf(df.queryExecution.optimizedPlan)
        val counted = AnnTopKRewrite.planningJobs.get() - pj
        assert(counted == 2, s"selective query $i: $counted planning jobs")
        assert(jobs == 2, s"selective query $i: $jobs Spark jobs for two pools")
        assert(served(df).length == 10)
      }
      // a residual prefilter (it reads vec): a pool job plus a survivor
      // count per escalation round
      (0 until 4).foreach { i =>
        val df = topK(tableDir, query(30 + i),
          filter = Some(element_at(col("vec"), 1 + i) > 0.5f))
        val pj = AnnTopKRewrite.planningJobs.get()
        val (_, jobs) = jobsOf(df.queryExecution.optimizedPlan)
        val counted = AnnTopKRewrite.planningJobs.get() - pj
        assert(counted >= 2, s"residual query $i: $counted planning jobs")
        assert(jobs == counted,
          s"residual query $i: $jobs Spark jobs for $counted pools and survivor rounds")
        assert(served(df).length == 10)
      }
      assert(IvfIndex.poolSourcePlans.get() - plans0 <= 1)
      // one pool, one job, straight through the index face
      val (_, poolJobs) = jobsOf(pool(ix, query(40)))
      assert(poolJobs == 1, s"multiEstimateCandidates ran $poolJobs jobs")
    } finally AnnCatalog.unregister(tableDir)
  }

  test("a sphere range runs the pool's row sources: two jobs warm or cold, one " +
       "per planner candidate fetch, one resident plan, no stale read after an append") {
    import spark.implicits._
    val (_, indexDir, rows) = fixture()
    val ix = IvfIndex.load(spark, indexDir)
    def inside(q: Array[Float], r: Double): Seq[Long] =
      rows.map { case (id, v) => (K.l2(v, q), id) }.filter(_._1 < r).sorted.map(_._2)
    def range(q: Array[Float], r: Double): Seq[Long] =
      ix.rangeSearch(q, r).collect().map(_.getLong(0)).toSeq
    val q = query(70)
    val r = rows.map { case (_, v) => K.l2(v, q) }.sorted.apply(30)
    // the first range fills the cell-radius and row-count caches
    assert(range(q, r) == inside(q, r))
    val (cold, coldJobs) = jobsOf(range(q, r))
    assert(coldJobs == 2, s"a cold range ran $coldJobs Spark jobs")
    assert(cold == inside(q, r) && cold.length == 30)
    // the planner's candidate fetch: one job
    val (ids, fetchJobs) = jobsOf(IvfIndex.multiRangeCandidateIds(Seq(ix),
      Array((q, r)), 1.9, 1000))
    assert(fetchJobs == 1, s"multiRangeCandidateIds ran $fetchJobs Spark jobs")
    assert(inside(q, r).toSet.subsetOf(ids.get.toSet))
    ix.prewarm()
    val plans0 = IvfIndex.poolSourcePlans.get()
    (0 until 10).foreach { i =>
      val qi = query(80 + i)
      val (got, jobs) = jobsOf(range(qi, r))
      assert(jobs == 2, s"warm range $i ran $jobs Spark jobs")
      assert(got == inside(qi, r), s"warm range $i")
    }
    assert(IvfIndex.poolSourcePlans.get() - plans0 <= 1,
      s"10 warm ranges planned ${IvfIndex.poolSourcePlans.get() - plans0} sources")
    assert(ix.holdsResident)
    // a row appended inside the sphere: the resident source is stale, so
    // the next range must read the current generation and delta
    val fresh = 5000L
    ix.appendDelta(Seq((fresh, q.toSeq)).toDF("id", "vec"), "id", "vec")
    assert(range(q, r) == fresh +: inside(q, r),
      "a warm range missed a row appended after prewarm")
  }

  test("a range's driver collect is bounded in total, not per partition, " +
       "and past the bound the (root, id) join answers exactly") {
    val (_, indexDir, rows) = fixture()
    val ix = IvfIndex.load(spark, indexDir)
    def inside(q: Array[Float], r: Double): Seq[Long] =
      rows.map { case (id, v) => (K.l2(v, q), id) }.filter(_._1 < r).sorted.map(_._2)
    val q = query(90)
    val dists = rows.map { case (_, v) => K.l2(v, q) }.sorted
    // one small file per partition: the cold source spans many
    // partitions, each holding a few cells
    graft.core.Confs.withConfs(spark, "spark.sql.files.maxPartitionBytes" -> "4096") {
      val nParts = org.apache.spark.sql.graft.ColumnBridge
        .toInternalRdd(ix.poolScan((0 until 16).toArray)).getNumPartitions
      assert(nParts >= 8, s"the cold source has $nParts partitions")
      def run(lim: Int, r: Double): (Seq[Long], Long, Int) =
        graft.core.Confs.withConfs(spark,
            "graft.ann.range.maxDriverSurvivors" -> lim.toString) {
          val t0 = IvfIndex.rangeDriverTuples.get()
          val (got, jobs) = jobsOf(ix.rangeSearch(q, r).collect().map(_.getLong(0)).toSeq)
          (got, IvfIndex.rangeDriverTuples.get() - t0, jobs)
        }
      // a sphere whose survivors overflow a bound of 50: the first job
      // ships at most 50 + partitions tuples, then the distributed tier
      // answers exactly
      val big = dists(300)
      val (gotBig, tuplesBig, _) = run(50, big)
      assert(gotBig == inside(q, big))
      assert(tuplesBig <= 50 + nParts,
        s"an overflowing range brought $tuplesBig tuples to the driver")
      // under the bound, with a partition past its share: one more job
      // re-collects that partition whole (at most 2 x bound + partitions
      // tuples in all), and the driver tier answers
      val small = dists(60)
      val (gotAmple, tuplesAmple, jobsAmple) = run(1000000, small)
      assert(gotAmple == inside(q, small))
      assert(jobsAmple == 2, s"an ample bound ran $jobsAmple jobs")
      val tight = (tuplesAmple + 1).toInt
      val (gotTight, tuplesTight, jobsTight) = run(tight, small)
      assert(gotTight == inside(q, small))
      assert(jobsTight == 3, s"a tight bound ran $jobsTight jobs")
      assert(tuplesTight <= 2 * tight + nParts)
      // the planner fetch declines past its cap
      assert(IvfIndex.multiRangeCandidateIds(Seq(ix), Array((q, big)), 1.9, 50).isEmpty)
    }
  }

  test("a residual survivor count reads the id and the residual's columns, " +
       "not the vector") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val tableDir = Files.createTempDirectory("graft-resident-tag").toString
    (0L until 2000L).map(i => (i, (i % 10).toInt, Seq.fill(dim)(rng.nextFloat() * 2 - 1)))
      .toDF("id", "tag", "vec").write.mode("overwrite").parquet(tableDir)
    val indexDir = Files.createTempDirectory("graft-resident-tagidx").toString
    IvfIndex.build(spark.read.parquet(tableDir), "id", "vec", indexDir,
      IvfConfig(lists = 16))
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      val df = topK(tableDir, query(60), filter = Some(col("tag") === 3))
      val pj = AnnTopKRewrite.planningJobs.get()
      // planning the served query runs the pools and the survivor counts;
      // a survivor count is the only scan of the table it plans
      val (_, scans) = scansOf(tableDir)(df.queryExecution.optimizedPlan)
      assert(AnnTopKRewrite.planningJobs.get() - pj >= 2, "no survivor count ran")
      assert(scans.nonEmpty, "no survivor count scan was planned")
      scans.foreach(cols => assert(cols == Set("id", "tag"),
        s"a survivor count read $cols; scans $scans"))
      assert(served(df).length == 10)
    } finally AnnCatalog.unregister(tableDir)
  }

  test("a cold index plans its pool source once per query") {
    val (tableDir, indexDir, _) = fixture()
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      val ix = AnnCatalog.index(spark, AnnCatalog.lookup(Seq(tableDir)).get)
      served(topK(tableDir, query(0)))
      val plans0 = IvfIndex.poolSourcePlans.get()
      (1 to 3).foreach { i =>
        // built outside the count: reading the table infers its schema in a job
        val df = topK(tableDir, query(i))
        val (_, jobs) = jobsOf(df.queryExecution.optimizedPlan)
        assert(jobs == 1, s"cold query $i: the pool ran $jobs Spark jobs")
      }
      assert(IvfIndex.poolSourcePlans.get() - plans0 == 3)
      assert(!ix.holdsResident)
    } finally AnnCatalog.unregister(tableDir)
  }

  test("appendDelta, delete and compact on a prewarmed index are read by the " +
       "next pool and served query; re-prewarm plans once; release drops it") {
    import spark.implicits._
    val (tableDir, indexDir, rows) = fixture()
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    // full probes: the served answer is the exact top-k of the indexed rows
    try withRule { graft.core.Confs.withConfs(spark, "graft.ann.probes" -> "16") {
      val ix = AnnCatalog.index(spark, AnnCatalog.lookup(Seq(tableDir)).get)
      ix.prewarm()
      val q = query(7)
      val exact0 = rows.sortBy { case (id, v) => (K.l2(v, q), id) }.take(10).map(_._1)
      assert(served(topK(tableDir, q)) == exact0)
      assert(ix.holdsResident)
      // append an exact copy of the query, to the table and the index
      val fresh = 5000L
      Seq((fresh, q.toSeq)).toDF("id", "vec").write.mode("append").parquet(tableDir)
      ix.appendDelta(Seq((fresh, q.toSeq)).toDF("id", "vec"), "id", "vec")
      assert(pool(ix, q).contains(fresh), "the pool missed an appended row")
      assert(served(topK(tableDir, q)).head == fresh,
        "the served query missed an appended row")
      // delete it from the index only: the table keeps the nearest row, so
      // only a pool read from the superseded generation could return it
      ix.delete(Seq(fresh))
      assert(!pool(ix, q).contains(fresh), "the pool returned a deleted row")
      assert(!served(topK(tableDir, q)).contains(fresh),
        "the served query returned a deleted row")
      ix.compact()
      assert(!pool(ix, q).contains(fresh))
      assert(served(topK(tableDir, q)) == exact0)
      // a second prewarm plans the resident source again, once
      ix.prewarm()
      val plans0 = IvfIndex.poolSourcePlans.get()
      (0 until 3).foreach(i => served(topK(tableDir, query(50 + i))))
      assert(IvfIndex.poolSourcePlans.get() - plans0 == 1)
      assert(ix.holdsResident)
      ix.release()
      assert(!ix.holdsResident, "release() kept the resident source")
      ix.prewarm()
      served(topK(tableDir, q))
      assert(ix.holdsResident)
      AnnCatalog.unregister(tableDir)
      assert(!ix.holdsResident, "unregister kept the resident source")
    } } finally AnnCatalog.unregister(tableDir)
  }
}
