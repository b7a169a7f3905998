package graft.plans

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import graft.functions.GraftFunctions
import graft.index.{IvfConfig, IvfIndex}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * Optimizer-rule pushdown — mirrors the reference's pushdown_plan.slt
 * EXPLAIN goldens: `ORDER BY <-> LIMIT k` over an indexed table becomes
 * an index-served plan; an un-indexed table or wrong-metric operator
 * stays a full scan; a prefilter escalates the probe budget (reference
 * vchordrq.prefilter); the cost model declines the rewrite when the
 * index cannot beat the exact scan (reference amcostestimate).
 */
class AnnRewriteSpec extends SparkSpec {

  private lazy val setup: (String, String) = {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val rows = (0L until 500L).map(i => i -> Seq.fill(8)(rng.nextFloat() * 2 - 1))
    val tableDir = Files.createTempDirectory("graft-ann-table").toString
    rows.toDF("id", "vec").write.mode("overwrite").parquet(tableDir)
    val indexDir = Files.createTempDirectory("graft-ann-index").toString
    IvfIndex.build(spark.read.parquet(tableDir), "id", "vec", indexDir, IvfConfig(lists = 8))
    (tableDir, indexDir)
  }

  private lazy val cosSetup: (String, String) = {
    import spark.implicits._
    val rng = new scala.util.Random(77)
    val rows = (0L until 400L).map(i => i -> Seq.fill(8)(rng.nextFloat() * 2 - 1))
    val tableDir = Files.createTempDirectory("graft-ann-costable").toString
    rows.toDF("id", "vec").write.mode("overwrite").parquet(tableDir)
    val indexDir = Files.createTempDirectory("graft-ann-cosindex").toString
    IvfIndex.build(spark.read.parquet(tableDir), "id", "vec", indexDir,
      IvfConfig(lists = 8, metric = "cosdist"))
    (tableDir, indexDir)
  }

  private def withRule[T](f: => T): T = {
    val rule = AnnTopKRewrite(spark)
    spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ rule
    try f
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == rule)
  }

  private def withConfs[T](kv: (String, String)*)(f: => T): T =
    graft.core.Confs.withConfs(spark, kv: _*)(f)

  private def candInCount(plan: String): Int =
    AnnTopKRewrite.candInCount(plan)

  test("ORDER BY vec_l2 LIMIT k over a registered table is index-served") {
    import spark.implicits._
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      // full probe coverage + generous rerank: ANN == exact on 500 rows
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "20") {
        val q = Array.fill(8)(0.2f)
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(10)
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(optimized), s"expected candidate-id pushdown:\n$optimized")
        // physical scan must carry the pushed In filter: this fixture's
        // build attests source completeness, so keepNulls=auto serves
        // the bare parquet-pushable IN (null-bearing corpora are pinned
        // in the NULL-vector tests below)
        val physical = df.queryExecution.executedPlan.toString
        assert(physical.contains("PushedFilters: [In(id"), physical)
        // collect the REWRITTEN df itself — not a derived plan
        val got = df.collect().map(_.getLong(0)).toSeq
        val data = spark.read.parquet(tableDir).as[(Long, Seq[Float])].collect()
        val want = data.map { case (id, v) => (K.l2(v.toArray, q), id) }
          .sorted.take(10).map(_._2).toSeq
        assert(got == want)
        // `.limit(k).select(cols)` (column pruning puts a Project between
        // LocalLimit and Sort) must ALSO be index-served
        val dfSel = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(10).select("id")
        assert(AnnTopKRewrite.inServed(dfSel.queryExecution.optimizedPlan.toString))
        assert(dfSel.as[Long].collect().toSeq == want)
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("kill switch and un-registered tables keep the exact plan") {
    val (tableDir, indexDir) = setup
    val q = Array.fill(8)(0.1f)
    def plan(): String = spark.read.parquet(tableDir)
      .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
      .limit(5).queryExecution.optimizedPlan.toString
    // not registered -> no rewrite
    withRule { assert(!AnnTopKRewrite.inServed(plan())) }
    // registered but disabled -> no rewrite
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      withConfs("graft.ann.enable" -> "false") { assert(!AnnTopKRewrite.inServed(plan())) }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("cost model declines the rewrite when rerank would touch every row") {
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      val q = Array.fill(8)(0.1f)
      def plan(): String = spark.read.parquet(tableDir)
        .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
        .limit(5).queryExecution.optimizedPlan.toString
      // k*refine = 500 = every row: index scan cannot beat the exact scan
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "100") {
        assert(!AnnTopKRewrite.inServed(plan()))
      }
      // same budget with the cost model off: rewrite is forced
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "100",
          "graft.ann.cost.enable" -> "false") {
        assert(AnnTopKRewrite.inServed(plan()))
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("prefilter: filter between sort and scan is served with escalation") {
    import spark.implicits._
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      val q = Array.fill(8)(0.3f)
      // highly selective predicate (exactly k matching rows): the initial
      // candidate set cannot contain k survivors, so the rule must
      // escalate to full coverage — making the answer exact.
      withConfs("graft.ann.cost.enable" -> "false") {
        val jobs0 = AnnTopKRewrite.planningJobs.get()
        val df = spark.read.parquet(tableDir)
          .filter(col("id") >= 495L)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(5)
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(optimized), s"expected prefilter index serve:\n$optimized")
        // escalation runs bounded Spark jobs AT PLANNING TIME; the counter
        // makes that observable (pool fetches + survivor counts >= 2)
        assert(AnnTopKRewrite.planningJobs.get() >= jobs0 + 2,
          s"planningJobs ${AnnTopKRewrite.planningJobs.get()} vs start $jobs0")
        // full-row collect of the rewritten plan: must contain the k true
        // survivors, not an unfiltered top-k that the predicate empties
        val got = df.collect().map(_.getLong(0)).toSeq
        val data = spark.read.parquet(tableDir).as[(Long, Seq[Float])].collect()
        val want = data.filter(_._1 >= 495L)
          .map { case (id, v) => (K.l2(v.toArray, q), id) }
          .sorted.take(5).map(_._2).toSeq
        assert(got == want)
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("graph (vchordg) index serves ORDER BY vec_l2 when no IVF entry exists") {
    import spark.implicits._
    val (tableDir, _) = setup
    val graphDir = Files.createTempDirectory("graft-ann-graph").toString
    graft.index.VamanaGraph
      .build(spark.read.parquet(tableDir), "id", "vec", graft.index.VamanaConfig())
      .save(spark, graphDir)
    AnnCatalog.registerGraph(tableDir, graphDir, "id", "vec")
    try withRule {
      val q = Array.fill(8)(0.15f)
      withConfs("graft.ann.efSearch" -> "256") {
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(10)
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(optimized), s"expected graph candidate pushdown:\n$optimized")
        // clean corpus: the graph build attests completeness, so
        // keepNulls=auto serves the bare parquet-pushable IN
        val physical = df.queryExecution.executedPlan.toString
        assert(physical.contains("PushedFilters: [In(id"), physical)
        val got = df.collect().map(_.getLong(0)).toSeq
        val data = spark.read.parquet(tableDir).as[(Long, Seq[Float])].collect()
        val want = data.map { case (id, v) => (K.l2(v.toArray, q), id) }
          .sorted.take(10).map(_._2).toSeq
        assert(got == want)
      }
    } finally AnnCatalog.unregisterGraph(tableDir)
  }

  test("sharded graph tier serves ORDER BY vec_l2 when no IVF/graph entry exists") {
    import spark.implicits._
    val (tableDir, _) = setup
    val gdir = Files.createTempDirectory("graft-ann-gshard").toString
    graft.index.ShardedVamana.build(
      spark.read.parquet(tableDir), "id", "vec",
      gdir, graft.index.VamanaConfig(), shards = 4)
    AnnCatalog.registerShardedGraph(tableDir, gdir, "id", "vec")
    try withRule {
      val q = Array.fill(8)(0.15f)
      // cost gate OFF: on this tiny table shards*ef rightly exceeds the
      // exact scan (the decline path is the default behavior); the serve
      // path is what this test pins
      withConfs("graft.ann.efSearch" -> "256", "graft.ann.cost.enable" -> "false") {
        val jobs0 = AnnTopKRewrite.planningJobs.get()
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(10)
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(optimized), s"expected sharded candidate pushdown:\n$optimized")
        assert(AnnTopKRewrite.planningJobs.get() > jobs0,
          "planning-time sharded search must be counted")
        // clean corpus: the sharded build attests completeness -> bare IN
        val physical = df.queryExecution.executedPlan.toString
        assert(physical.contains("PushedFilters: [In(id"), physical)
        val got = df.collect().map(_.getLong(0)).toSeq
        val data = spark.read.parquet(tableDir).as[(Long, Seq[Float])].collect()
        val want = data.map { case (id, v) => (K.l2(v.toArray, q), id) }
          .sorted.take(10).map(_._2).toSeq
        assert(got == want)
      }
    } finally AnnCatalog.unregisterShardedGraph(tableDir)
  }

  test("maxsim ORDER BY over a registered token index is index-served (strategy 3)") {
    import spark.implicits._
    val rng = new scala.util.Random(55)
    def tok(): Seq[Float] = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    val docs = (0L until 200L).map(i => i -> Seq(tok(), tok(), tok()))
    val tableDir = Files.createTempDirectory("graft-ms-table").toString
    docs.toDF("doc", "tokens").write.mode("overwrite").parquet(tableDir)
    val tokens = docs.flatMap { case (id, ts) =>
      ts.zipWithIndex.map { case (t, p) => (id, p, t) }
    }.toDF("doc", "pos", "v")
    val indexDir = Files.createTempDirectory("graft-ms-index").toString
    graft.ops.MaxSim.buildTokenIndex(tokens, "doc", "pos", "v", indexDir,
      graft.index.IvfConfig(metric = "negdot", lists = 8, residual = false))
    AnnCatalog.registerMaxSim(tableDir, indexDir, "doc", "tokens")
    try withRule {
      val query = Seq(docs(137)._2(0), docs(137)._2(1))
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "8",
          "graft.ann.maxsim.kPerToken" -> "600",
          "graft.ann.cost.enable" -> "false") { // 600 token rows: the cost
        // model rightly prefers the exact scan; force the rewrite to test it
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecMaxsim(col("tokens"), typedlit(query)))
          .limit(5)
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(optimized), s"expected maxsim candidate pushdown:\n$optimized")
        val got = df.collect().map(_.getLong(0)).toSeq
        val qArr = query.map(_.toArray).toArray
        val want = docs.map { case (id, ts) =>
            (K.maxsim(ts.map(_.toArray).toArray, qArr), id)
          }.sorted.take(5).map(_._2)
        assert(got == want, s"got=$got want=$want")
      }
    } finally AnnCatalog.unregisterMaxSim(tableDir)
  }

  test("sphere range filter with no order-by is index-served (strategy 2)") {
    import spark.implicits._
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      val q = Array.fill(8)(0.2f)
      val radius = 1.1
      // DSL path: annRange builds the sphere struct; constant folding
      // reduces it to `vec_l2(vec, center) < radius` before the rule runs
      val df = graft.dsl.GraftDataFrameOps(spark.read.parquet(tableDir))
        .annRange("vec", q, radius)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(AnnTopKRewrite.inServed(optimized), s"expected range candidate pushdown:\n$optimized")
      // the candidate IN reaches the parquet scan as a pushed filter
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("PushedFilters: [In(id"), physical)
      // exact: candidate superset + retained predicate = the true result
      val got = df.select("id").as[Long].collect().toSet
      val data = spark.read.parquet(tableDir).as[(Long, Seq[Float])].collect()
      val want = data.filter { case (_, v) => K.l2(v.toArray, q) < radius }.map(_._1).toSet
      assert(got == want && got.nonEmpty, s"got ${got.size} want ${want.size}")
      // empty sphere: rewritten to an empty relation, zero rows scanned
      val far = Array.fill(8)(50f)
      val dfEmpty = graft.dsl.GraftDataFrameOps(spark.read.parquet(tableDir))
        .annRange("vec", far, 0.001)
      assert(dfEmpty.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
      assert(dfEmpty.count() == 0)
      // kill switch restores the full-scan filter
      withConfs("graft.ann.range.enable" -> "false") {
        val off = graft.dsl.GraftDataFrameOps(spark.read.parquet(tableDir))
          .annRange("vec", q, radius)
        assert(!AnnTopKRewrite.inServed(off.queryExecution.optimizedPlan.toString))
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("sphere filter + ORDER BY metric LIMIT uses range candidates (one planning job)") {
    import spark.implicits._
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      val q = Array.fill(8)(0.2f)
      val radius = 1.1
      withConfs("graft.ann.cost.enable" -> "false") {
        val jobs0 = AnnTopKRewrite.planningJobs.get()
        val df = spark.read.parquet(tableDir)
          .filter(GraftFunctions.sphereL2Contains(col("vec"), typedlit(q.toSeq), lit(radius)))
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(5)
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(optimized), s"expected range-served prefilter:\n$optimized")
        // the range fast path takes exactly ONE planning job — the
        // escalation loop would take at least two (pool + survivor count)
        assert(AnnTopKRewrite.planningJobs.get() == jobs0 + 1,
          s"planningJobs ${AnnTopKRewrite.planningJobs.get()} vs start $jobs0")
        val got = df.collect().map(_.getLong(0)).toSeq
        val data = spark.read.parquet(tableDir).as[(Long, Seq[Float])].collect()
        val want = data.map { case (id, v) => (K.l2(v.toArray, q), id) }
          .filter(_._1 < radius).sorted.take(5).map(_._2).toSeq
        assert(got == want)
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("SQL subselect shape: computed dist in the outer SELECT list is still served") {
    import spark.implicits._
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      spark.read.parquet(tableDir).createOrReplaceTempView("ann_sub_tbl")
      GraftFunctions.registerAll(spark)
      val q = Array.fill(8)(0.1f)
      val qSql = q.map(_.toString).mkString("array(", "F, ", "F)")
      withConfs("graft.ann.cost.enable" -> "false", "graft.ann.probes" -> "8") {
        // the natural "give me ids AND distances" SQL: the optimizer
        // plans it as Limit(Project(round(vec_l2(...)), Sort(vec_l2)))
        // — a COMPUTED projection between limit and sort, which the
        // attrs-only LimitBody used to reject
        val df = spark.sql(
          s"""SELECT id, round(vec_l2(vec, $qSql), 3) AS dist FROM (
             |  SELECT id, vec FROM ann_sub_tbl
             |  ORDER BY vec_l2(vec, $qSql) LIMIT 5
             |) ORDER BY dist, id""".stripMargin)
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          df.queryExecution.optimizedPlan.toString)
        val got = df.as[(Long, Double)].collect().toSeq
        val data = spark.read.parquet(tableDir).as[(Long, Seq[Float])].collect()
        val want = data.map { case (id, v) => (K.l2(v.toArray, q), id) }
          .sorted.take(5)
          .map { case (dd, id) => (id, math.rint(dd * 1000) / 1000) }
          .sortBy { case (id, dd) => (dd, id) }.toSeq
        assert(got == want, s"got $got want $want")
      }
    } finally {
      AnnCatalog.unregister(tableDir)
      spark.catalog.dropTempView("ann_sub_tbl")
    }
  }

  test("SQL form: vec_l2(...) < r over a registered temp view is range-served") {
    import spark.implicits._
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      spark.read.parquet(tableDir).createOrReplaceTempView("ann_sql_tbl")
      GraftFunctions.registerAll(spark)
      val q = Array.fill(8)(0.2f)
      val lit = q.map(_.toString).mkString("array(", "F, ", "F)")
      val df = spark.sql(
        s"SELECT id FROM ann_sql_tbl WHERE vec_l2(vec, $lit) < 1.1 ORDER BY id")
      assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
        df.queryExecution.optimizedPlan.toString)
      val got = df.as[Long].collect().toSeq
      val data = spark.read.parquet(tableDir).as[(Long, Seq[Float])].collect()
      val want = data.filter { case (_, v) => K.l2(v.toArray, q) < 1.1 }
        .map(_._1).sorted.toSeq
      assert(got == want && got.nonEmpty)
    } finally {
      AnnCatalog.unregister(tableDir)
      spark.catalog.dropTempView("ann_sql_tbl")
    }
  }

  test("SQL form over an F16-STORAGE index: range + top-k served, exact results") {
    import spark.implicits._
    val rng = new scala.util.Random(53)
    val rows = (0L until 500L).map(i => (i, Seq.fill(8)(rng.nextFloat() * 2 - 1)))
    val tableDir = Files.createTempDirectory("graft-ann-f16sql").toString
    rows.toDF("id", "vec").write.mode("overwrite").parquet(tableDir)
    val indexDir = Files.createTempDirectory("graft-ann-f16sql-idx").toString
    // halfvec index tier: codes quantize the f16-roundtripped vectors and
    // the rerank decodes packed f16 — the pure-SQL user sees none of it
    IvfIndex.build(spark.read.parquet(tableDir), "id", "vec", indexDir,
      IvfConfig(lists = 8, storage = "f16"))
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      spark.read.parquet(tableDir).createOrReplaceTempView("ann_f16_tbl")
      GraftFunctions.registerAll(spark)
      val q = Array.fill(8)(0.15f)
      val qSql = q.map(_.toString).mkString("array(", "F, ", "F)")
      // range shape (strategy 2)
      val range = spark.sql(
        s"SELECT id FROM ann_f16_tbl WHERE vec_l2(vec, $qSql) < 1.1 ORDER BY id")
      assert(AnnTopKRewrite.inServed(range.queryExecution.optimizedPlan.toString),
        range.queryExecution.optimizedPlan.toString)
      val gotR = range.as[Long].collect().toSeq
      val wantR = rows.filter { case (_, v) => K.l2(v.toArray, q) < 1.1 }
        .map(_._1).sorted
      assert(gotR == wantR && gotR.nonEmpty, "f16-index range serve must stay exact")
      // top-k shape (strategy 1); f16 rerank storage must not perturb the
      // exact output (rerank reranks f16-roundtripped vectors, final Sort
      // +Limit re-scores the ORIGINAL f32 table rows)
      withConfs("graft.ann.cost.enable" -> "false", "graft.ann.probes" -> "8") {
        // probes = lists: the recall==1 configuration (estimate-quality
        // gate, not probe luck — the same discipline as the oracle rows)
        val top = spark.sql(
          s"SELECT id FROM ann_f16_tbl ORDER BY vec_l2(vec, $qSql) LIMIT 5")
        assert(AnnTopKRewrite.inServed(top.queryExecution.optimizedPlan.toString),
          top.queryExecution.optimizedPlan.toString)
        val gotT = top.as[Long].collect().toSeq
        val wantT = rows.map { case (id, v) => (K.l2(v.toArray, q), id) }
          .sorted.take(5).map(_._2)
        assert(gotT == wantT, "f16-index top-k serve must stay exact")
      }
    } finally {
      AnnCatalog.unregister(tableDir)
      spark.catalog.dropTempView("ann_f16_tbl")
    }
  }

  test("SQL batch range: UNION ALL of sphere branches — every branch index-served") {
    import spark.implicits._
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      spark.read.parquet(tableDir).createOrReplaceTempView("ann_batch_tbl")
      GraftFunctions.registerAll(spark)
      val q1 = Array.fill(8)(0.2f)
      val q2 = Array.fill(8)(-0.25f)
      def sqlLit(q: Array[Float]) = q.map(_.toString).mkString("array(", "F, ", "F)")
      val jobs0 = AnnTopKRewrite.planningJobs.get()
      // the pure-SQL batch shape: one statement, N spheres; transformDown
      // serves each branch's Filter independently in the same pass
      val df = spark.sql(
        s"""SELECT 1 AS qid, id FROM ann_batch_tbl WHERE vec_l2(vec, ${sqlLit(q1)}) < 1.1
           |UNION ALL
           |SELECT 2 AS qid, id FROM ann_batch_tbl WHERE vec_l2(vec, ${sqlLit(q2)}) < 1.2
           |ORDER BY qid, id""".stripMargin)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(candInCount(optimized) >= 2,
        s"both union branches must carry candidate INs:\n$optimized")
      assert(AnnTopKRewrite.planningJobs.get() == jobs0 + 2,
        "exactly one planning job per sphere branch")
      val got = df.as[(Int, Long)].collect().toSeq
      val data = spark.read.parquet(tableDir).as[(Long, Seq[Float])].collect()
      val want =
        data.filter { case (_, v) => K.l2(v.toArray, q1) < 1.1 }.map(r => (1, r._1)) ++
        data.filter { case (_, v) => K.l2(v.toArray, q2) < 1.2 }.map(r => (2, r._1))
      assert(got == want.sortBy(identity).toSeq && got.nonEmpty)
    } finally {
      AnnCatalog.unregister(tableDir)
      spark.catalog.dropTempView("ann_batch_tbl")
    }
  }

  test("range JOIN: per-row center+radius join is index-served; bounds decline") {
    import spark.implicits._
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      spark.read.parquet(tableDir).createOrReplaceTempView("ann_rj_tbl")
      GraftFunctions.registerAll(spark)
      val data = spark.read.parquet(tableDir).as[(Long, Seq[Float])].collect()
      // three query rows drawn from the table itself, each with its OWN
      // radius — the shape rangeSearchManyMulti answers in the DSL
      val sql =
        """SELECT q.qid, e.id
          |FROM (SELECT id AS qid, vec AS center,
          |        0.7 + CAST(id AS DOUBLE) * 0.2 AS radius
          |      FROM ann_rj_tbl WHERE id IN (0, 1, 2)) q
          |JOIN ann_rj_tbl e ON vec_l2(e.vec, q.center) < q.radius
          |ORDER BY q.qid, e.id""".stripMargin
      val df = spark.sql(sql)
      val optimized = df.queryExecution.optimizedPlan.toString
      // the queries-side user predicate is itself an IN — the serve adds a
      // SECOND one (the candidate union on the indexed side)
      assert(candInCount(optimized) >= 2,
        s"range join must carry the candidate-union IN:\n$optimized")
      val got = df.as[(Long, Long)].collect().toSeq
      val centers = data.filter(r => r._1 <= 2)
      val want = (for {
        (qid, c) <- centers
        (id, v) <- data
        if K.l2(v.toArray, c.toArray) < 0.7 + qid * 0.2
      } yield (qid, id)).sortBy(identity).toSeq
      assert(got == want && got.nonEmpty, s"got=$got want=$want")

      // reversed operand order (vec_l2(q.center, e.vec)) serves too —
      // the matcher assigns sides by attribute membership, not position
      val dfRev = spark.sql(sql.replace("vec_l2(e.vec, q.center)",
        "vec_l2(q.center, e.vec)"))
      assert(candInCount(dfRev.queryExecution.optimizedPlan.toString) >= 2)
      assert(dfRev.as[(Long, Long)].collect().toSeq == want)

      // planning cost must be FLAT in queries-side row count: exactly TWO
      // bounded jobs (the capped queries collect + ONE pooled candidate
      // pass answering every sphere) for an 8-row queries side — the old
      // shape serialized one probe job per query row
      val sql8 = sql.replace("id IN (0, 1, 2)", "id IN (0, 1, 2, 3, 4, 5, 6, 7)")
      val j0 = AnnTopKRewrite.planningJobs.get()
      val df8 = spark.sql(sql8)
      assert(candInCount(df8.queryExecution.optimizedPlan.toString) >= 2,
        "8-row range join not index-served")
      assert(AnnTopKRewrite.planningJobs.get() == j0 + 2,
        s"expected 2 planning jobs for an 8-row range join, got " +
          s"${AnnTopKRewrite.planningJobs.get() - j0}")
      val want8 = (for {
        (qid, c) <- data.filter(_._1 <= 7)
        (id, v) <- data
        if K.l2(v.toArray, c.toArray) < 0.7 + qid * 0.2
      } yield (qid, id)).sortBy(identity).toSeq
      assert(df8.as[(Long, Long)].collect().toSeq == want8)

      // queries side past the hard cap: decline — plan keeps the exact
      // nested-loop join (no IN), results identical. The effective cap
      // is max(maxQueries, maxQueriesTotal), so pin both (a raised
      // legacy maxQueries alone must keep serving — KNN-join contract)
      withConfs("graft.ann.range.join.maxQueries" -> "2",
          "graft.ann.range.join.maxQueriesTotal" -> "2") {
        val dfBig = spark.sql(sql)
        assert(candInCount(dfBig.queryExecution.optimizedPlan.toString) == 1,
          "3 query rows over maxQueries=2 must keep the exact plan " +
          "(only the user IN may remain)")
        assert(dfBig.as[(Long, Long)].collect().toSeq == want)
      }

      // kill switch
      withConfs("graft.ann.range.join.enable" -> "false") {
        assert(candInCount(
          spark.sql(sql).queryExecution.optimizedPlan.toString) == 1)
      }

      // a non-deterministic queries side must decline: its rows could
      // differ between the planning-time collect and execution
      val ndSql = sql.replace("0.7 + CAST(id AS DOUBLE) * 0.2",
        "0.7 + rand() * 0.001")
      assert(candInCount(
          spark.sql(ndSql).queryExecution.optimizedPlan.toString) == 1,
        "non-deterministic radius must keep the exact plan")
    } finally {
      AnnCatalog.unregister(tableDir)
      spark.catalog.dropTempView("ann_rj_tbl")
    }
  }

  test("per-partition index registration serves partition-scoped reads (partition parity)") {
    import spark.implicits._
    val rng = new scala.util.Random(91)
    val rows = (0L until 400L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % 2).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-part").toString
    rows.toDF("id", "vec", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    // one index per partition root (reference partition.slt: each child
    // table carries its own index); lookup matches the partition's path
    (0 to 1).foreach { p =>
      val d = Files.createTempDirectory(s"graft-ann-part-idx$p").toString
      IvfIndex.build(spark.read.parquet(s"$tableDir/part=$p"), "id", "vec",
        d, IvfConfig(lists = 4))
      AnnCatalog.register(s"$tableDir/part=$p", d, "id", "vec")
    }
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "50",
          "graft.ann.cost.enable" -> "false") {
        val q = Array.fill(8)(0.1f)
        (0 to 1).foreach { p =>
          val df = spark.read.parquet(s"$tableDir/part=$p")
            .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
            .limit(5)
          assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
            s"partition $p not index-served")
          val got = df.collect().map(_.getLong(0)).toSeq
          val want = rows.filter(_._3 == p)
            .map { case (id, v, _) => (K.l2(v.toArray, q), id) }
            .sorted.take(5).map(_._2).toSeq
          assert(got == want, s"partition $p")
        }
      }
    } finally (0 to 1).foreach(p => AnnCatalog.unregister(s"$tableDir/part=$p"))
  }

  test("flat multi-root read serves MIXED-CONFIG children with delta appends " +
       "(per-root bits/storage/rotation; gen + delta dirs in one relation)") {
    import spark.implicits._
    val rng = new scala.util.Random(107)
    val rows = (0L until 900L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % 3).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-mixed").toString
    rows.toDF("id", "vec", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    // children deliberately heterogeneous: the broadcast dir map must
    // carry each root's own bits/dim/metric prep, not a shared config
    val cfgs = Seq(
      IvfConfig(lists = 4, bits = 8),
      IvfConfig(lists = 4, bits = 4, storage = "f16", rotate = true),
      IvfConfig(lists = 4, bits = 1))
    (0 to 2).foreach { p =>
      val d = Files.createTempDirectory(s"graft-ann-mixed-idx$p").toString
      val src = spark.read.parquet(s"$tableDir/part=$p")
      if (p == 0) {
        // build over a prefix, append the rest as a DELTA: the flat read
        // must list delta cluster dirs too or root 0's newest rows vanish
        val idx = IvfIndex.build(src.filter(col("id") < 600), "id", "vec",
          d, cfgs(p))
        idx.appendDelta(src.filter(col("id") >= 600), "id", "vec")
      } else IvfIndex.build(src, "id", "vec", d, cfgs(p))
      AnnCatalog.register(s"$tableDir/part=$p", d, "id", "vec")
    }
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "50",
          "graft.ann.cost.enable" -> "false") {
        val q = Array.fill(8)(0.12f)
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(9).select("id")
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          "mixed-config whole-table read not served")
        val got = df.collect().map(_.getLong(0)).toSeq
        val want = rows.map { case (id, v, _) => (K.l2(v.toArray, q), id) }
          .sorted.take(9).map(_._2).toSeq
        assert(got == want, s"got=$got want=$want")
        // the partitioned RANGE serve over the same mixed roots. Radius
        // sits in the widest inter-distance gap of the mid-range so the
        // set equality cannot flake on f16/quantization boundary rows.
        val ds = rows.map { case (_, v, _) => K.l2(v.toArray, q) }.sorted
        val gi = (50 until 250).maxBy(j => ds(j + 1) - ds(j))
        val radius = (ds(gi) + ds(gi + 1)) / 2
        val rdf = spark.read.parquet(tableDir)
          .filter(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)) < radius)
          .select("id")
        assert(AnnTopKRewrite.inServed(rdf.queryExecution.optimizedPlan.toString),
          "mixed-config range filter not served")
        val rGot = rdf.collect().map(_.getLong(0)).toSet
        val rWant = rows.collect {
          case (id, v, _) if K.l2(v.toArray, q) < radius => id
        }.toSet
        assert(rGot == rWant, s"range: got ${rGot.size} want ${rWant.size}")
      }
    } finally (0 to 2).foreach(p => AnnCatalog.unregister(s"$tableDir/part=$p"))
  }

  test("whole-table read over a partitioned dir: per-child indexes serve the union") {
    import spark.implicits._
    val rng = new scala.util.Random(93)
    val rows = (0L until 600L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % 3).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-mpart").toString
    rows.toDF("id", "vec", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    (0 to 2).foreach { p =>
      val d = Files.createTempDirectory(s"graft-ann-mpart-idx$p").toString
      IvfIndex.build(spark.read.parquet(s"$tableDir/part=$p"), "id", "vec",
        d, IvfConfig(lists = 4))
      AnnCatalog.register(s"$tableDir/part=$p", d, "id", "vec")
    }
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "50",
          "graft.ann.cost.enable" -> "false") {
        val q = Array.fill(8)(0.1f)
        // the PARENT-table query (reference partition.slt:28-30): one
        // discovered root, files covered by the three child indexes
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(7)
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          "whole-table read not served by the per-partition indexes:\n" +
            df.queryExecution.optimizedPlan)
        val got = df.select("id").collect().map(_.getLong(0)).toSeq
        val want = rows.map { case (id, v, _) => (K.l2(v.toArray, q), id) }
          .sorted.take(7).map(_._2).toSeq
        assert(got == want)
        // multi-root form of the same table: explicit child paths
        val df2 = spark.read.parquet(s"$tableDir/part=0", s"$tableDir/part=2")
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(5)
        assert(AnnTopKRewrite.inServed(df2.queryExecution.optimizedPlan.toString))
        val got2 = df2.select("id").collect().map(_.getLong(0)).toSeq
        val want2 = rows.filter(r => r._3 == 0 || r._3 == 2)
          .map { case (id, v, _) => (K.l2(v.toArray, q), id) }
          .sorted.take(5).map(_._2).toSeq
        assert(got2 == want2)
        // UNINDEXED sibling root: with part=1's entry gone the cover is
        // incomplete — the whole-table query must keep the exact plan
        AnnCatalog.unregister(s"$tableDir/part=1")
        val df3 = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(7)
        assert(!AnnTopKRewrite.inServed(df3.queryExecution.optimizedPlan.toString),
          "partial cover must NOT serve — rows of part=1 would be dropped")
        assert(df3.select("id").collect().map(_.getLong(0)).toSeq == want)
        // ANCESTOR entry vs child scan: an index registered for the
        // WHOLE table indexes more rows than a one-child scan — its
        // global top-k is not the subset's top-k, so the child read
        // must keep the exact plan (not be "covered" by the parent)
        val allDir = Files.createTempDirectory("graft-ann-mpart-all").toString
        IvfIndex.build(spark.read.parquet(tableDir), "id", "vec",
          allDir, IvfConfig(lists = 4))
        AnnCatalog.register(tableDir, allDir, "id", "vec")
        try {
          val child = spark.read.parquet(s"$tableDir/part=1")
            .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
            .limit(7)
          assert(!AnnTopKRewrite.inServed(child.queryExecution.optimizedPlan.toString),
            "a parent-table index must not serve a child-subset scan")
          val wantChild = rows.filter(_._3 == 1)
            .map { case (id, v, _) => (K.l2(v.toArray, q), id) }
            .sorted.take(7).map(_._2).toSeq
          assert(child.select("id").collect().map(_.getLong(0)).toSeq == wantChild)
        } finally AnnCatalog.unregister(tableDir)
      }
    } finally (0 to 2).foreach(p => AnnCatalog.unregister(s"$tableDir/part=$p"))
  }

  test("sphere range filter over a partitioned dir is served by the per-child union") {
    import spark.implicits._
    val rng = new scala.util.Random(97)
    val rows = (0L until 400L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % 2).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-rpart").toString
    rows.toDF("id", "vec", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    (0 to 1).foreach { p =>
      val d = Files.createTempDirectory(s"graft-ann-rpart-idx$p").toString
      IvfIndex.build(spark.read.parquet(s"$tableDir/part=$p"), "id", "vec",
        d, IvfConfig(lists = 4))
      AnnCatalog.register(s"$tableDir/part=$p", d, "id", "vec")
    }
    try withRule {
      val q = Array.fill(8)(0.15f)
      val radius = 1.2
      val df = spark.read.parquet(tableDir)
        .filter(GraftFunctions.sphereL2Contains(col("vec"),
          typedlit(q.toSeq), lit(radius)))
      assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
        "partitioned range filter not index-served:\n" +
          df.queryExecution.optimizedPlan)
      val got = df.select("id").collect().map(_.getLong(0)).toSet
      val want = rows.filter { case (_, v, _) => K.l2(v.toArray, q) < radius }
        .map(_._1).toSet
      assert(got == want)
    } finally (0 to 1).foreach(p => AnnCatalog.unregister(s"$tableDir/part=$p"))
  }

  test("partitioned serve declines on a metric-mismatched child index") {
    import spark.implicits._
    val rng = new scala.util.Random(99)
    val rows = (0L until 200L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % 2).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-mmix").toString
    rows.toDF("id", "vec", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    // part=0 indexed in l2, part=1 in cosdist: an l2 query cannot be
    // served by the union (one member answers a different metric)
    val d0 = Files.createTempDirectory("graft-ann-mmix-idx0").toString
    val d1 = Files.createTempDirectory("graft-ann-mmix-idx1").toString
    IvfIndex.build(spark.read.parquet(s"$tableDir/part=0"), "id", "vec",
      d0, IvfConfig(lists = 4))
    IvfIndex.build(spark.read.parquet(s"$tableDir/part=1"), "id", "vec",
      d1, IvfConfig(lists = 4, metric = "cosdist"))
    AnnCatalog.register(s"$tableDir/part=0", d0, "id", "vec")
    AnnCatalog.register(s"$tableDir/part=1", d1, "id", "vec")
    try withRule {
      withConfs("graft.ann.cost.enable" -> "false") {
        val q = Array.fill(8)(0.1f)
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(5)
        assert(!AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          "metric-mismatched union must keep the exact plan")
        val want = rows.map { case (id, v, _) => (K.l2(v.toArray, q), id) }
          .sorted.take(5).map(_._2).toSeq
        assert(df.select("id").collect().map(_.getLong(0)).toSeq == want)
      }
    } finally {
      AnnCatalog.unregister(s"$tableDir/part=0")
      AnnCatalog.unregister(s"$tableDir/part=1")
    }
  }

  test("partial index: serves only queries whose predicate implies its own") {
    import spark.implicits._
    val rng = new scala.util.Random(95)
    val rows = (0L until 500L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % 4).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-partial").toString
    rows.toDF("id", "vec", "cat").write.mode("overwrite").parquet(tableDir)
    // the reference's CREATE INDEX ... WHERE (category_id = 1)
    val idxDir = Files.createTempDirectory("graft-ann-partial-idx").toString
    IvfIndex.build(spark.read.parquet(tableDir).filter(col("cat") === 1),
      "id", "vec", idxDir, IvfConfig(lists = 4))
    AnnCatalog.registerPartial(tableDir, idxDir, "id", "vec", "cat = 1")
    def brute(q: Array[Float], pred: ((Long, Seq[Float], Int)) => Boolean, k: Int) =
      rows.filter(pred).map { case (id, v, _) => (K.l2(v.toArray, q), id) }
        .sorted.take(k).map(_._2).toSeq
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "50",
          "graft.ann.cost.enable" -> "false") {
        val q = Array.fill(8)(0.2f)
        def base = spark.read.parquet(tableDir)
        // exact predicate match -> served
        val served = base.filter(col("cat") === 1)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq))).limit(5)
        assert(AnnTopKRewrite.inServed(served.queryExecution.optimizedPlan.toString),
          "cat = 1 query not served by the partial index:\n" +
            served.queryExecution.optimizedPlan)
        assert(served.select("id").collect().map(_.getLong(0)).toSeq ==
          brute(q, _._3 == 1, 5))
        // extra conjunct -> served via escalation, still exact
        val extra = base.filter(col("cat") === 1 && col("id") < 250L)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq))).limit(5)
        assert(AnnTopKRewrite.inServed(extra.queryExecution.optimizedPlan.toString))
        assert(extra.select("id").collect().map(_.getLong(0)).toSeq ==
          brute(q, r => r._3 == 1 && r._1 < 250L, 5))
        // WRONG predicate -> the partial index must NOT serve
        val wrong = base.filter(col("cat") === 2)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq))).limit(5)
        assert(!AnnTopKRewrite.inServed(wrong.queryExecution.optimizedPlan.toString),
          "cat = 2 query must not be served by the cat = 1 partial index")
        assert(wrong.select("id").collect().map(_.getLong(0)).toSeq ==
          brute(q, _._3 == 2, 5))
        // NO predicate -> not served either (the index misses 3/4 rows)
        val nopred = base
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq))).limit(5)
        assert(!AnnTopKRewrite.inServed(nopred.queryExecution.optimizedPlan.toString))
        assert(nopred.select("id").collect().map(_.getLong(0)).toSeq ==
          brute(q, _ => true, 5))
        // conjunct that merely RESEMBLES the index predicate (different
        // literal type -> analyzer inserts a cast, semantic mismatch):
        // implication cannot be proven, so the partial must decline —
        // a wrong serve here would return cat=1's top-k for a cat=1L
        // double-typed comparison only by luck
        val typed = base.filter(col("cat") === 1.5)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq))).limit(5)
        assert(!AnnTopKRewrite.inServed(typed.queryExecution.optimizedPlan.toString),
          "non-matching literal must not be served by the partial index")
      }
    } finally AnnCatalog.unregisterPartial(tableDir, idxDir)
  }

  test("partial index RANGE implication (predicate_implied_by subset): " +
       "x > 6 and x = 7 and BETWEEN narrowing serve a 'x > 5' index; " +
       "weaker or unprovable predicates decline") {
    import spark.implicits._
    val rng = new scala.util.Random(97)
    val rows = (0L until 500L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % 10).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-pimpl").toString
    rows.toDF("id", "vec", "x").write.mode("overwrite").parquet(tableDir)
    // the date-scoped-index shape: CREATE INDEX ... WHERE (x > 5)
    val idxDir = Files.createTempDirectory("graft-ann-pimpl-idx").toString
    IvfIndex.build(spark.read.parquet(tableDir).filter(col("x") > 5),
      "id", "vec", idxDir, IvfConfig(lists = 4))
    AnnCatalog.registerPartial(tableDir, idxDir, "id", "vec", "x > 5")
    def brute(q: Array[Float], pred: Int => Boolean, k: Int) =
      rows.filter(r => pred(r._3)).map { case (id, v, _) => (K.l2(v.toArray, q), id) }
        .sorted.take(k).map(_._2).toSeq
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "50",
          "graft.ann.cost.enable" -> "false") {
        val q = Array.fill(8)(0.2f)
        def base = spark.read.parquet(tableDir)
        def dist = GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq))
        def check(df: org.apache.spark.sql.DataFrame, serve: Boolean,
                  pred: Int => Boolean, tag: String): Unit = {
          val plan = df.queryExecution.optimizedPlan.toString
          assert(AnnTopKRewrite.inServed(plan) == serve,
            s"$tag: expected serve=$serve\n$plan")
          assert(df.select("id").collect().map(_.getLong(0)).toSeq ==
            brute(q, pred, 5), s"$tag: wrong rows")
        }
        // SERVE: strictly narrower predicates (index rows ⊇ query rows;
        // the stronger conjunct stays in the plan as a prefilter)
        check(base.filter(col("x") > 6).orderBy(dist).limit(5),
          serve = true, _ > 6, "x > 6 ⇒ x > 5")
        check(base.filter(col("x") === 7).orderBy(dist).limit(5),
          serve = true, _ == 7, "x = 7 ⇒ x > 5")
        check(base.filter(col("x") >= 6).orderBy(dist).limit(5),
          serve = true, _ >= 6, "x >= 6 ⇒ x > 5")
        check(base.filter(col("x").between(6, 8)).orderBy(dist).limit(5),
          serve = true, v => v >= 6 && v <= 8, "BETWEEN 6 AND 8 ⇒ x > 5")
        // DISJUNCTIVE implication (the predicate_implied_by disjunction
        // subset): an IN / OR query conjunct serves iff EVERY disjunct
        // lands inside the index predicate's value set. IN-carrying
        // queries count IN occurrences (the user predicate itself prints
        // one) instead of mere presence.
        def checkIn(df: org.apache.spark.sql.DataFrame, serve: Boolean,
                    pred: Int => Boolean, tag: String): Unit = {
          val plan = df.queryExecution.optimizedPlan.toString
          val ins = candInCount(plan)
          assert((ins >= 2) == serve,
            s"$tag: expected serve=$serve (IN count $ins)\n$plan")
          assert(df.select("id").collect().map(_.getLong(0)).toSeq ==
            brute(q, pred, 5), s"$tag: wrong rows")
        }
        checkIn(base.filter(col("x").isin(6, 7)).orderBy(dist).limit(5),
          serve = true, v => v == 6 || v == 7, "x IN (6,7) ⇒ x > 5")
        check(base.filter(col("x") === 6 || col("x") === 7)
            .orderBy(dist).limit(5),
          serve = true, v => v == 6 || v == 7, "x = 6 OR x = 7 ⇒ x > 5")
        check(base.filter(col("x") === 9 || col("x") > 7)
            .orderBy(dist).limit(5),
          serve = true, v => v == 9 || v > 7, "x = 9 OR x > 7 ⇒ x > 5")
        // one violating disjunct poisons the whole disjunction
        checkIn(base.filter(col("x").isin(5, 7)).orderBy(dist).limit(5),
          serve = false, v => v == 5 || v == 7,
          "x IN (5,7): 5 is outside x > 5")
        check(base.filter(col("x") === 7 || col("x") > 4)
            .orderBy(dist).limit(5),
          serve = false, v => v == 7 || v > 4,
          "x = 7 OR x > 4: the x > 4 arm is weaker")
        // DECLINE: weaker or incomparable predicates (query rows the
        // index never saw could be the true top-k)
        check(base.filter(col("x") > 4).orderBy(dist).limit(5),
          serve = false, _ > 4, "x > 4 does NOT imply x > 5")
        check(base.filter(col("x") >= 5).orderBy(dist).limit(5),
          serve = false, _ >= 5, "x >= 5 does NOT imply x > 5")
        check(base.filter(col("x") === 3).orderBy(dist).limit(5),
          serve = false, _ == 3, "x = 3 does NOT imply x > 5")
        check(base.filter(col("x") < 9).orderBy(dist).limit(5),
          serve = false, _ < 9, "x < 9 does NOT imply x > 5")
      }
    } finally AnnCatalog.unregisterPartial(tableDir, idxDir)
  }

  test("partial index with an IN predicate (index-side disjunction): " +
       "x = 6 and x IN (7,6) serve a 'x IN (6,7)' index; outsiders decline") {
    import spark.implicits._
    val rng = new scala.util.Random(103)
    val rows = (0L until 400L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % 10).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-pimpl-in").toString
    rows.toDF("id", "vec", "x").write.mode("overwrite").parquet(tableDir)
    val idxDir = Files.createTempDirectory("graft-ann-pimpl-in-idx").toString
    IvfIndex.build(spark.read.parquet(tableDir).filter(col("x").isin(6, 7)),
      "id", "vec", idxDir, IvfConfig(lists = 4))
    AnnCatalog.registerPartial(tableDir, idxDir, "id", "vec", "x IN (6, 7)")
    def brute(q: Array[Float], pred: Int => Boolean, k: Int) =
      rows.filter(r => pred(r._3)).map { case (id, v, _) => (K.l2(v.toArray, q), id) }
        .sorted.take(k).map(_._2).toSeq
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "50",
          "graft.ann.cost.enable" -> "false") {
        val q = Array.fill(8)(0.3f)
        def base = spark.read.parquet(tableDir)
        def dist = GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq))
        def check(df: org.apache.spark.sql.DataFrame, serve: Boolean,
                  pred: Int => Boolean, tag: String): Unit = {
          val plan = df.queryExecution.optimizedPlan.toString
          assert(AnnTopKRewrite.inServed(plan) == serve,
            s"$tag: expected serve=$serve\n$plan")
          assert(df.select("id").collect().map(_.getLong(0)).toSeq ==
            brute(q, pred, 5), s"$tag: wrong rows")
        }
        def checkIn(df: org.apache.spark.sql.DataFrame, serve: Boolean,
                    pred: Int => Boolean, tag: String): Unit = {
          val plan = df.queryExecution.optimizedPlan.toString
          val ins = candInCount(plan)
          assert((ins >= 2) == serve,
            s"$tag: expected serve=$serve (IN count $ins)\n$plan")
          assert(df.select("id").collect().map(_.getLong(0)).toSeq ==
            brute(q, pred, 5), s"$tag: wrong rows")
        }
        // q implies an index-side disjunction when it implies SOME arm
        check(base.filter(col("x") === 6).orderBy(dist).limit(5),
          serve = true, _ == 6, "x = 6 ⇒ x IN (6,7)")
        // query IN ⊆ index IN (every query arm implies some index arm)
        checkIn(base.filter(col("x").isin(7, 6)).orderBy(dist).limit(5),
          serve = true, v => v == 6 || v == 7, "x IN (7,6) ⇒ x IN (6,7)")
        // outsiders: an arm outside the index set declines
        check(base.filter(col("x") === 8).orderBy(dist).limit(5),
          serve = false, _ == 8, "x = 8 does NOT imply x IN (6,7)")
        checkIn(base.filter(col("x").isin(6, 8)).orderBy(dist).limit(5),
          serve = false, v => v == 6 || v == 8,
          "x IN (6,8): 8 is outside the index set")
      }
    } finally AnnCatalog.unregisterPartial(tableDir, idxDir)
  }

  test("partial index UPPER-BOUND implication: x <= 3 serves a 'x < 5' " +
       "index; equality on the boundary declines") {
    import spark.implicits._
    val rng = new scala.util.Random(99)
    val rows = (0L until 400L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % 10).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-pimpl-ub").toString
    rows.toDF("id", "vec", "x").write.mode("overwrite").parquet(tableDir)
    val idxDir = Files.createTempDirectory("graft-ann-pimpl-ub-idx").toString
    IvfIndex.build(spark.read.parquet(tableDir).filter(col("x") < 5),
      "id", "vec", idxDir, IvfConfig(lists = 4))
    AnnCatalog.registerPartial(tableDir, idxDir, "id", "vec", "x < 5")
    def brute(q: Array[Float], pred: Int => Boolean, k: Int) =
      rows.filter(r => pred(r._3)).map { case (id, v, _) => (K.l2(v.toArray, q), id) }
        .sorted.take(k).map(_._2).toSeq
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "50",
          "graft.ann.cost.enable" -> "false") {
        val q = Array.fill(8)(-0.1f)
        def base = spark.read.parquet(tableDir)
        def dist = GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq))
        val s1 = base.filter(col("x") <= 3).orderBy(dist).limit(5)
        assert(AnnTopKRewrite.inServed(s1.queryExecution.optimizedPlan.toString),
          "x <= 3 must serve the x < 5 partial index")
        assert(s1.select("id").collect().map(_.getLong(0)).toSeq ==
          brute(q, _ <= 3, 5))
        // x = 5 fails x < 5 outright; x <= 5 admits the boundary row the
        // index never indexed
        val d1 = base.filter(col("x") <= 5).orderBy(dist).limit(5)
        assert(!AnnTopKRewrite.inServed(d1.queryExecution.optimizedPlan.toString),
          "x <= 5 must NOT serve the x < 5 partial index")
        assert(d1.select("id").collect().map(_.getLong(0)).toSeq ==
          brute(q, _ <= 5, 5))
      }
    } finally AnnCatalog.unregisterPartial(tableDir, idxDir)
  }

  test("sphere serve survives an unrelated IN conjunct; provenance is the tag, not id-IN") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    val rows = (0L until 500L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), "c" + (i % 3)))
    val tableDir = Files.createTempDirectory("graft-ann-inmix").toString
    rows.toDF("id", "vec", "cat").write.mode("overwrite").parquet(tableDir)
    val indexDir = Files.createTempDirectory("graft-ann-inmix-idx").toString
    IvfIndex.build(spark.read.parquet(tableDir), "id", "vec", indexDir,
      IvfConfig(lists = 8))
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      val q = Array.fill(8)(0.2f)
      val radius = 1.1
      // `sphere(...) AND cat IN (...)`: the IN over a NON-id column must
      // not block the range serve (it used to fall back to a full scan)
      val jobs0 = AnnTopKRewrite.planningJobs.get()
      val df = spark.read.parquet(tableDir)
        .filter(GraftFunctions.sphereL2Contains(col("vec"), typedlit(q.toSeq), lit(radius)) &&
                col("cat").isin("c0", "c1"))
      // the candidate-id IN reaches the scan as a pushed filter (it rides
      // alongside the user's own pushed cat IN, in either order)
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("In(id"),
        s"expected range serve despite cat IN:\n$physical")
      assert(AnnTopKRewrite.planningJobs.get() == jobs0 + 1)
      val got = df.select("id").as[Long].collect().toSet
      val want = rows.filter { case (_, v, c) =>
        K.l2(v.toArray, q) < radius && (c == "c0" || c == "c1")
      }.map(_._1).toSet
      assert(got == want && got.nonEmpty, s"got ${got.size} want ${want.size}")
      // a USER predicate over the ID column is NOT the rule's own output:
      // provenance is the ServedFilterTag stamp, so `id IN (...) AND
      // sphere` is served like any other prefilter (round-6 advice — the
      // name-based inference permanently declined this legitimate query).
      // EXACTLY one planning job proves both the serve AND fixpoint
      // idempotence: if the rule re-matched its own tagged output, the
      // fixpoint batch would launch a job per iteration.
      val jobs1 = AnnTopKRewrite.planningJobs.get()
      val own = spark.read.parquet(tableDir)
        .filter(GraftFunctions.sphereL2Contains(col("vec"), typedlit(q.toSeq), lit(radius)) &&
                col("id").isin((0L until 400L).map(java.lang.Long.valueOf): _*))
      own.queryExecution.optimizedPlan // force optimization
      assert(AnnTopKRewrite.planningJobs.get() == jobs1 + 1,
        "user id-IN + sphere must be index-served exactly once (tagged provenance)")
      val gotOwn = own.select("id").as[Long].collect().toSet
      val wantOwn = rows.filter { case (id, v, _) =>
        K.l2(v.toArray, q) < radius && id < 400L }.map(_._1).toSet
      assert(gotOwn == wantOwn && gotOwn.nonEmpty)
    } finally AnnCatalog.unregister(tableDir)
  }

  test("two sphere conjuncts: one serves candidates, both stay in the exact plan") {
    import spark.implicits._
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      // reference semantics: extra spheres set `recheck` — the scan serves
      // one sphere, every sphere is still re-evaluated on the row
      val q1 = Array.fill(8)(0.2f)
      val q2 = Array.fill(8)(-0.1f)
      val df = spark.read.parquet(tableDir)
        .filter(GraftFunctions.sphereL2Contains(col("vec"), typedlit(q1.toSeq), lit(1.2)) &&
                GraftFunctions.sphereL2Contains(col("vec"), typedlit(q2.toSeq), lit(1.2)))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(AnnTopKRewrite.inServed(optimized), s"expected range serve:\n$optimized")
      val got = df.select("id").as[Long].collect().toSet
      val data = spark.read.parquet(tableDir).as[(Long, Seq[Float])].collect()
      val want = data.filter { case (_, v) =>
        K.l2(v.toArray, q1) < 1.2 && K.l2(v.toArray, q2) < 1.2
      }.map(_._1).toSet
      assert(got == want && got.nonEmpty, s"got ${got.size} want ${want.size}")
    } finally AnnCatalog.unregister(tableDir)
  }

  test("cosdist sphere is range-served by a cosdist index; l2 sphere is not (metric match)") {
    import spark.implicits._
    val (tableDir, indexDir) = cosSetup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      val q = Array.fill(8)(0.25f)
      val df = spark.read.parquet(tableDir)
        .filter(GraftFunctions.sphereCosContains(col("vec"), typedlit(q.toSeq), lit(0.35)))
      assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString))
      val got = df.select("id").as[Long].collect().toSet
      val data = spark.read.parquet(tableDir).as[(Long, Seq[Float])].collect()
      val want = data.filter { case (_, v) => K.cosdist(v.toArray, q) < 0.35 }
        .map(_._1).toSet
      assert(got == want && got.nonEmpty)
      // l2 sphere over the cosdist index: metric mismatch, full scan kept
      val l2df = spark.read.parquet(tableDir)
        .filter(GraftFunctions.sphereL2Contains(col("vec"), typedlit(q.toSeq), lit(1.0)))
      assert(!AnnTopKRewrite.inServed(l2df.queryExecution.optimizedPlan.toString))
    } finally AnnCatalog.unregister(tableDir)
  }

  test("per-partition GRAPH registration serves partition-scoped reads (vchordg partition parity)") {
    import spark.implicits._
    val rng = new scala.util.Random(93)
    val rows = (0L until 300L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % 2).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-gpart").toString
    rows.toDF("id", "vec", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    (0 to 1).foreach { p =>
      val d = Files.createTempDirectory(s"graft-ann-gpart-idx$p").toString
      graft.index.VamanaGraph
        .build(spark.read.parquet(s"$tableDir/part=$p"), "id", "vec",
          graft.index.VamanaConfig(m = 16))
        .save(spark, d)
      AnnCatalog.registerGraph(s"$tableDir/part=$p", d, "id", "vec")
    }
    try withRule {
      withConfs("graft.ann.efSearch" -> "256", "graft.ann.cost.enable" -> "false") {
        val q = Array.fill(8)(0.1f)
        (0 to 1).foreach { p =>
          val df = spark.read.parquet(s"$tableDir/part=$p")
            .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
            .limit(5)
          assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
            s"graph partition $p not served")
          val got = df.collect().map(_.getLong(0)).toSeq
          val want = rows.filter(_._3 == p)
            .map { case (id, v, _) => (K.l2(v.toArray, q), id) }
            .sorted.take(5).map(_._2).toSeq
          assert(got == want, s"graph partition $p")
        }
        // WHOLE-TABLE read: per-child graphs union-serve — every root's
        // broadcast-resident graph beams on the DRIVER (zero planning
        // jobs), the plan's exact Sort+Limit reranks the pooled ids
        val jg0 = AnnTopKRewrite.planningJobs.get()
        val dfAll = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(5)
        assert(AnnTopKRewrite.inServed(dfAll.queryExecution.optimizedPlan.toString),
          "whole-table read over per-partition graphs not served:\n" +
            dfAll.queryExecution.optimizedPlan)
        assert(AnnTopKRewrite.planningJobs.get() == jg0,
          "driver-tier graph union serve must launch no planning jobs")
        val gotAll = dfAll.collect().map(_.getLong(0)).toSeq
        val wantAll = rows.map { case (id, v, _) => (K.l2(v.toArray, q), id) }
          .sorted.take(5).map(_._2).toSeq
        assert(gotAll == wantAll, s"graph union serve: got=$gotAll want=$wantAll")
        // a child unregistered -> decline (its rows would silently vanish)
        AnnCatalog.unregisterGraph(s"$tableDir/part=1")
        val dfGone = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(5)
        assert(!AnnTopKRewrite.inServed(dfGone.queryExecution.optimizedPlan.toString),
          "partial graph cover must NOT serve the whole-table read")
      }
    } finally (0 to 1).foreach(p => AnnCatalog.unregisterGraph(s"$tableDir/part=$p"))
  }

  test("per-partition SHARDED-graph registration serves partition-scoped reads (partition parity)") {
    import spark.implicits._
    val rng = new scala.util.Random(97)
    val rows = (0L until 400L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % 2).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-sgpart").toString
    rows.toDF("id", "vec", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    (0 to 1).foreach { p =>
      val d = Files.createTempDirectory(s"graft-ann-sgpart-idx$p").toString
      graft.index.ShardedVamana.build(
        spark.read.parquet(s"$tableDir/part=$p"), "id", "vec",
        d, graft.index.VamanaConfig(), shards = 2)
      AnnCatalog.registerShardedGraph(s"$tableDir/part=$p", d, "id", "vec")
    }
    try withRule {
      withConfs("graft.ann.efSearch" -> "256", "graft.ann.cost.enable" -> "false") {
        val q = Array.fill(8)(0.1f)
        (0 to 1).foreach { p =>
          val df = spark.read.parquet(s"$tableDir/part=$p")
            .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
            .limit(5)
          assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
            s"sharded partition $p not served")
          val got = df.collect().map(_.getLong(0)).toSeq
          val want = rows.filter(_._3 == p)
            .map { case (id, v, _) => (K.l2(v.toArray, q), id) }
            .sorted.take(5).map(_._2).toSeq
          assert(got == want, s"sharded partition $p")
        }
      }
    } finally (0 to 1).foreach(p =>
      AnnCatalog.unregisterShardedGraph(s"$tableDir/part=$p"))
  }

  test("per-partition MAXSIM registration serves partition-scoped reads (partition parity)") {
    import spark.implicits._
    val rng = new scala.util.Random(99)
    def tok(): Seq[Float] = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    val docs = (0L until 200L).map(i => (i, Seq(tok(), tok(), tok()), (i % 2).toInt))
    val tableDir = Files.createTempDirectory("graft-ms-part").toString
    docs.toDF("doc", "tokens", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    (0 to 1).foreach { p =>
      val toks = docs.filter(_._3 == p).flatMap { case (id, ts, _) =>
        ts.zipWithIndex.map { case (t, pos) => (id, pos, t) }
      }.toDF("doc", "pos", "v")
      val d = Files.createTempDirectory(s"graft-ms-part-idx$p").toString
      graft.ops.MaxSim.buildTokenIndex(toks, "doc", "pos", "v", d,
        graft.index.IvfConfig(metric = "negdot", lists = 8, residual = false))
      AnnCatalog.registerMaxSim(s"$tableDir/part=$p", d, "doc", "tokens")
    }
    try withRule {
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "8",
          "graft.ann.maxsim.kPerToken" -> "600",
          "graft.ann.cost.enable" -> "false") {
        val query = Seq(docs(137)._2(0), docs(137)._2(1))
        val qArr = query.map(_.toArray).toArray
        (0 to 1).foreach { p =>
          val df = spark.read.parquet(s"$tableDir/part=$p")
            .orderBy(GraftFunctions.vecMaxsim(col("tokens"), typedlit(query)))
            .limit(5)
          assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
            s"maxsim partition $p not served")
          val got = df.collect().map(_.getLong(0)).toSeq
          val want = docs.filter(_._3 == p).map { case (id, ts, _) =>
              (K.maxsim(ts.map(_.toArray).toArray, qArr), id)
            }.sorted.take(5).map(_._2).toSeq
          assert(got == want, s"maxsim partition $p")
        }
        // WHOLE-TABLE read over the partitioned corpus (strategy 3's
        // serveMulti analogue): ONE flat retrieval job pools both roots'
        // per-token candidates; the served plan's own exact Sort reranks,
        // so the result equals the brute-force whole-corpus top-k
        val jm0 = AnnTopKRewrite.planningJobs.get()
        val dfAll = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecMaxsim(col("tokens"), typedlit(query)))
          .limit(5)
        assert(AnnTopKRewrite.inServed(dfAll.queryExecution.optimizedPlan.toString),
          "whole-table maxsim read over per-partition indexes not served:\n" +
            dfAll.queryExecution.optimizedPlan)
        assert(AnnTopKRewrite.planningJobs.get() == jm0 + 1,
          s"expected ONE planning job for the 2-root maxsim serve, got " +
            s"${AnnTopKRewrite.planningJobs.get() - jm0}")
        val gotAll = dfAll.collect().map(_.getLong(0)).toSeq
        val wantAll = docs.map { case (id, ts, _) =>
            (K.maxsim(ts.map(_.toArray).toArray, qArr), id)
          }.sorted.take(5).map(_._2).toSeq
        assert(gotAll == wantAll,
          s"maxsim union serve: got=$gotAll want=$wantAll")
        // driver-pool budget: roots x tokens x kPerToken past the cap
        // must DECLINE to the exact plan (no silent pool truncation)
        withConfs("graft.ann.maxsim.maxPoolTuples" -> "100") {
          val dfBudget = spark.read.parquet(tableDir)
            .orderBy(GraftFunctions.vecMaxsim(col("tokens"), typedlit(query)))
            .limit(5)
          assert(!AnnTopKRewrite.inServed(dfBudget.queryExecution.optimizedPlan.toString),
            "over-budget maxsim pool must decline, not truncate")
          assert(dfBudget.collect().map(_.getLong(0)).toSeq == wantAll)
        }
        // a root whose index goes unregistered must DECLINE the union
        // serve (its docs would silently vanish from the top-k)
        AnnCatalog.unregisterMaxSim(s"$tableDir/part=1")
        val dfGone = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecMaxsim(col("tokens"), typedlit(query)))
          .limit(5)
        assert(!AnnTopKRewrite.inServed(dfGone.queryExecution.optimizedPlan.toString),
          "partial maxsim cover must NOT serve the whole-table read")
      }
    } finally (0 to 1).foreach(p =>
      AnnCatalog.unregisterMaxSim(s"$tableDir/part=$p"))
  }

  test("cosdist index serves vec_cosdist ORDER BY; vec_l2 stays exact (metric match)") {
    import spark.implicits._
    val (tableDir, indexDir) = cosSetup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      val q = Array.fill(8)(0.25f)
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "40",
          "graft.ann.cost.enable" -> "false") {
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecCosdist(col("vec"), typedlit(q.toSeq)))
          .limit(10)
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString))
        val got = df.collect().map(_.getLong(0)).toSeq
        val data = spark.read.parquet(tableDir).as[(Long, Seq[Float])].collect()
        val want = data.map { case (id, v) => (K.cosdist(v.toArray, q), id) }
          .sorted.take(10).map(_._2).toSeq
        assert(got == want)
        // wrong-metric operator over the same table: no rewrite
        val l2plan = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(10).queryExecution.optimizedPlan.toString
        assert(!AnnTopKRewrite.inServed(l2plan), l2plan)
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("partitioned serve planning stays ONE job at 8 roots (scale-safe " +
       "planner: unioned estimate frames, memoized cover decisions)") {
    import spark.implicits._
    val rng = new scala.util.Random(181)
    val nParts = 8
    val rows = (0L until 1600L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % nParts).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-8part").toString
    rows.toDF("id", "vec", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    (0 until nParts).foreach { p =>
      val d = Files.createTempDirectory(s"graft-ann-8part-idx$p").toString
      IvfIndex.build(spark.read.parquet(s"$tableDir/part=$p"), "id", "vec",
        d, IvfConfig(lists = 4))
      AnnCatalog.register(s"$tableDir/part=$p", d, "id", "vec")
    }
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "50",
          "graft.ann.cost.enable" -> "false") {
        val q = Array.fill(8)(0.15f)
        def serve(): Seq[Long] = {
          // one Dataset end-to-end: a .select() after planning would spawn
          // a second QueryExecution and double-count planning jobs
          val df = spark.read.parquet(tableDir)
            .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
            .limit(9).select("id")
          assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
            "8-root whole-table read not index-served")
          df.collect().map(_.getLong(0)).toSeq
        }
        // planning cost must be FLAT in root count: exactly one planning
        // job for the 8-root serve (the old shape paid one per root)
        val jobs0 = AnnTopKRewrite.planningJobs.get()
        val got = serve()
        assert(AnnTopKRewrite.planningJobs.get() == jobs0 + 1,
          s"expected ONE planning job for 8 roots, got " +
            s"${AnnTopKRewrite.planningJobs.get() - jobs0}")
        val want = rows.map { case (id, v, _) => (K.l2(v.toArray, q), id) }
          .sorted.take(9).map(_._2).toSeq
        assert(got == want)
        // replan the same table: cover decisions come from the memo (same
        // serve, same answer) — and a catalog mutation invalidates it
        assert(serve() == want)
        // the partitioned RANGE serve must also plan in ONE job
        val radius = 0.9
        val rdf = spark.read.parquet(tableDir)
          .filter(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)) < radius)
          .select("id")
        val rj0 = AnnTopKRewrite.planningJobs.get()
        assert(AnnTopKRewrite.inServed(rdf.queryExecution.optimizedPlan.toString),
          "8-root range filter not index-served")
        assert(AnnTopKRewrite.planningJobs.get() == rj0 + 1,
          s"expected ONE planning job for the 8-root range serve, got " +
            s"${AnnTopKRewrite.planningJobs.get() - rj0}")
        val rGot = rdf.collect().map(_.getLong(0)).toSet
        val rWant = rows.collect {
          case (id, v, _) if K.l2(v.toArray, q) < radius => id
        }.toSet
        assert(rGot == rWant)
        // partitioned RANGE JOIN: per-row spheres against the whole
        // 8-root table — still exactly TWO planning jobs (queries
        // collect + ONE flat multi-root candidate pool)
        val qSpheres = Seq((0L, rows(5)._2, 0.8), (1L, rows(13)._2, 0.9))
        val qdf = qSpheres.toDF("qid", "center", "radius")
        val rjJ = AnnTopKRewrite.planningJobs.get()
        val joined = qdf.join(spark.read.parquet(tableDir),
            GraftFunctions.vecL2(col("vec"), col("center")) < col("radius"))
          .select("qid", "id")
        assert(AnnTopKRewrite.inServed(joined.queryExecution.optimizedPlan.toString),
          "8-root range join not index-served:\n" +
            joined.queryExecution.optimizedPlan)
        assert(AnnTopKRewrite.planningJobs.get() == rjJ + 2,
          s"expected 2 planning jobs for the 8-root range join, got " +
            s"${AnnTopKRewrite.planningJobs.get() - rjJ}")
        val gotJ = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val wantJ = (for {
          (qid, c, rad) <- qSpheres
          (id, v, _) <- rows
          if K.l2(v.toArray, c.toArray) < rad
        } yield (qid, id)).toSet
        assert(gotJ == wantJ && gotJ.nonEmpty,
          s"range join: got ${gotJ.size} want ${wantJ.size}")
        AnnCatalog.unregister(s"$tableDir/part=3")
        val df3 = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(9)
        assert(!AnnTopKRewrite.inServed(df3.queryExecution.optimizedPlan.toString),
          "stale cover memo served after unregister — part=3 rows at risk")
        // ...and the range JOIN declines too once a child is uncovered
        val joinedGone = qdf.join(spark.read.parquet(tableDir),
            GraftFunctions.vecL2(col("vec"), col("center")) < col("radius"))
          .select("qid", "id")
        assert(!AnnTopKRewrite.inServed(joinedGone.queryExecution.optimizedPlan.toString),
          "partial cover must NOT serve the range join")
        assert(joinedGone.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          == wantJ)
      }
    } finally (0 until nParts).foreach(p =>
      AnnCatalog.unregister(s"$tableDir/part=$p"))
  }

  test("PREFILTERED query over a partitioned table is served with " +
       "escalation: exact results, selective and non-selective predicates") {
    import spark.implicits._
    val rng = new scala.util.Random(71)
    val nParts = 4
    val rows = (0L until 800L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % nParts).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-mpref").toString
    rows.toDF("id", "vec", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    (0 until nParts).foreach { p =>
      val d = Files.createTempDirectory(s"graft-ann-mpref-idx$p").toString
      IvfIndex.build(spark.read.parquet(s"$tableDir/part=$p"), "id", "vec",
        d, IvfConfig(lists = 4))
      AnnCatalog.register(s"$tableDir/part=$p", d, "id", "vec")
    }
    try withRule {
      val q = Array.fill(8)(0.2f)
      def brute(pred: Long => Boolean, k: Int) =
        rows.filter(r => pred(r._1))
          .map { case (id, v, _) => (K.l2(v.toArray, q), id) }
          .sorted.take(k).map(_._2).toSeq
      // ULTRA-selective predicate (8 of 800 rows): the first pools cannot
      // hold k survivors, so escalation must widen x4 per round until the
      // pools provably cover every root — the terminal state is exact by
      // construction (all qualifying rows are candidates)
      withConfs("graft.ann.probes" -> "2", "graft.ann.refine" -> "4",
          "graft.ann.cost.enable" -> "false") {
        val jobs0 = AnnTopKRewrite.planningJobs.get()
        val sel = spark.read.parquet(tableDir)
          .filter(col("id") % 100 === 0)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(7).select("id")
        assert(AnnTopKRewrite.inServed(sel.queryExecution.optimizedPlan.toString),
          "prefiltered partitioned query not served:\n" +
            sel.queryExecution.optimizedPlan)
        assert(AnnTopKRewrite.planningJobs.get() > jobs0 + 2,
          "ultra-selective predicate should have escalated past round 1")
        assert(sel.collect().map(_.getLong(0)).toSeq ==
          brute(_ % 100 == 0, 7), "selective prefilter wrong rows")
      }
      // generous budget: pools cover every root in ROUND 1 (k*refine >=
      // per-root rows), so any deterministic predicate serves exactly
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "50",
          "graft.ann.cost.enable" -> "false") {
        val loose = spark.read.parquet(tableDir)
          .filter(col("id") % 3 === 1)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(5).select("id")
        assert(AnnTopKRewrite.inServed(loose.queryExecution.optimizedPlan.toString))
        assert(loose.collect().map(_.getLong(0)).toSeq ==
          brute(_ % 3 == 1, 5))
      }
      // SPHERE prefilter + ORDER BY over the partitioned table: served by
      // the per-root RANGE candidate union (a superset of every
      // qualifying row), so the result is EXACT — and it is ONE planning
      // job, no escalation rounds (the generic loop would stop at k
      // pool-order survivors and could return approximate rows here)
      withConfs("graft.ann.probes" -> "2", "graft.ann.refine" -> "4",
          "graft.ann.cost.enable" -> "false") {
        val radius = 0.95
        val jobs0 = AnnTopKRewrite.planningJobs.get()
        val sph = spark.read.parquet(tableDir)
          .filter(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)) < radius)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(6).select("id")
        assert(AnnTopKRewrite.inServed(sph.queryExecution.optimizedPlan.toString),
          "sphere+orderBy over partitioned table not served:\n" +
            sph.queryExecution.optimizedPlan)
        assert(AnnTopKRewrite.planningJobs.get() == jobs0 + 1,
          s"sphere multi-root serve must be ONE job, got " +
            s"${AnnTopKRewrite.planningJobs.get() - jobs0}")
        val want = rows
          .filter { case (_, v, _) => K.l2(v.toArray, q) < radius }
          .map { case (id, v, _) => (K.l2(v.toArray, q), id) }
          .sorted.take(6).map(_._2).toSeq
        assert(sph.collect().map(_.getLong(0)).toSeq == want,
          "sphere multi-root serve not exact")
      }
    } finally (0 until nParts).foreach(p =>
      AnnCatalog.unregister(s"$tableDir/part=$p"))
  }

  test("partitioned serve candidate budget: over maxInList the pool keeps " +
       "every root's top-k floor and fills globally by lb; under the " +
       "k-floor it declines") {
    import spark.implicits._
    val rng = new scala.util.Random(83)
    val nParts = 6
    val rows = (0L until 1200L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % nParts).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-budget").toString
    rows.toDF("id", "vec", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    (0 until nParts).foreach { p =>
      val d = Files.createTempDirectory(s"graft-ann-budget-idx$p").toString
      IvfIndex.build(spark.read.parquet(s"$tableDir/part=$p"), "id", "vec",
        d, IvfConfig(lists = 4))
      AnnCatalog.register(s"$tableDir/part=$p", d, "id", "vec")
    }
    try withRule {
      val q = Array.fill(8)(0.1f)
      def plan(k: Int) = spark.read.parquet(tableDir)
        .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
        .limit(k).select("id")
      // budgeted regime: pools (6 roots x k*refine = 6*250 rows capped by
      // root size 200) far exceed maxInList=60; floor = 6 roots x k=5 =
      // 30 <= 60, so it SERVES with a bounded IN and stays one job
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "50",
          "graft.ann.cost.enable" -> "false", "graft.ann.maxInList" -> "60") {
        val df = plan(5)
        val jobs0 = AnnTopKRewrite.planningJobs.get()
        val planStr = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(planStr), s"budgeted serve declined\n$planStr")
        assert(AnnTopKRewrite.planningJobs.get() == jobs0 + 1, "not one job")
        // the candidate list respects the budget: extract the NUMERIC
        // literal run after the restriction keyword (robust to the
        // candidate expression sitting inside an And or mid-line) —
        // "INSET v1, v2, ..." has no parens, "IN (v1,v2,...)" does
        val numRun = """ IN(SET)? \(?([0-9]+(?:, ?[0-9]+)*)""".r
        val inList = numRun.findFirstMatchIn(planStr)
          .map(_.group(2))
          .getOrElse(fail(s"no candidate literal run in plan:\n$planStr"))
        assert(inList.split(",").length <= 60,
          s"candidate list exceeds maxInList: ${inList.split(",").length}")
        assert(df.collect().length == 5)
      }
      // below the k-floor (6 roots x k=20 = 120 > 60): decline to exact
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "50",
          "graft.ann.cost.enable" -> "false", "graft.ann.maxInList" -> "60") {
        val df = plan(20)
        assert(!AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          "must decline when even the per-root k floor overflows maxInList")
        val got = df.collect().map(_.getLong(0)).toSeq
        val want = rows.map { case (id, v, _) => (K.l2(v.toArray, q), id) }
          .sorted.take(20).map(_._2).toSeq
        assert(got == want)
      }
    } finally (0 until nParts).foreach(p =>
      AnnCatalog.unregister(s"$tableDir/part=$p"))
  }

  test("coverByFiles gate: an unregistered root never materializes the " +
       "scan's file list (by-name files stays unforced)") {
    var forced = false
    val got = AnnCatalog.resolve(spark, Seq("/graft-no-such-root"), {
      forced = true
      Seq("/graft-no-such-root/part=0/f.parquet")
    }, AnnCatalog.Kind.vectors :+ AnnCatalog.Kind.Tokens)
    assert(got.isEmpty)
    assert(!forced,
      "inputFiles must not be materialized when no entry sits under the " +
      "scan roots — that O(files) array build is pure per-plan overhead")
  }

  test("coverByFiles at 50k files: per-plan walk is O(distinct dirs) " +
       "decisions + one dir-extraction pass, bounded well under 100 ms") {
    val root = "/graft-cover-scale"
    val children = (0 until 64).map(c => s"$root/part=$c")
    children.foreach(c => AnnCatalog.register(c, s"$c-idx", "id", "vec"))
    try {
      // ~50k synthetic file paths over the 64 registered children (no
      // filesystem involved: the walk's cost is string work + memo hits)
      val files = (0 until 50000).map(i =>
        s"$root/part=${i % 64}/part-${i / 64}-x.snappy.parquet")
      def cover = AnnCatalog.resolve(spark, Seq(root), files,
        Seq(AnnCatalog.Kind.Ivf)).map(_.entries)
      assert(cover.isDefined && cover.get.size == 64, s"cover: $cover")
      // warm (memoized dirs), then time — generous bound: catches an
      // O(files x entries) or memo-loss regression, not box noise
      val t0 = System.nanoTime()
      val runs = 5
      (1 to runs).foreach { _ =>
        assert(cover.isDefined)
      }
      val perPlanMs = (System.nanoTime() - t0) / 1e6 / runs
      info(f"resolve over 50k files, 64 children: $perPlanMs%.2f ms/plan")
      assert(perPlanMs < 100.0,
        f"cover walk took $perPlanMs%.1f ms per plan at 50k files")
    } finally children.foreach(AnnCatalog.unregister)
  }

  test("sharded-graph tier does NOT union across children: a whole-table " +
       "read over per-child SHARDED graphs declines to the exact plan " +
       "(documented resident-memory economics), while per-child reads serve") {
    import spark.implicits._
    val rng = new scala.util.Random(131)
    val rows = (0L until 300L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % 2).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-sgdecline").toString
    rows.toDF("id", "vec", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    (0 to 1).foreach { p =>
      val d = Files.createTempDirectory(s"graft-ann-sgdecline-idx$p").toString
      graft.index.ShardedVamana.build(
        spark.read.parquet(s"$tableDir/part=$p"), "id", "vec",
        d, graft.index.VamanaConfig(), shards = 2)
      AnnCatalog.registerShardedGraph(s"$tableDir/part=$p", d, "id", "vec")
    }
    try withRule {
      withConfs("graft.ann.efSearch" -> "256", "graft.ann.cost.enable" -> "false") {
        val q = Array.fill(8)(0.2f)
        // whole-table: no multi-root union exists for the SHARDED tier
        // (each child graph pins its own resident shard RDD; unioning R
        // of them is R live RDD tiers — declined by design, documented
        // in COVERAGE). The decline must be to the EXACT plan, not a
        // partial serve that silently drops a child's rows.
        val whole = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(5)
        assert(!AnnTopKRewrite.inServed(whole.queryExecution.optimizedPlan.toString),
          "whole-table read over per-child sharded graphs must DECLINE " +
          "to exact, got:\n" + whole.queryExecution.optimizedPlan)
        val got = whole.collect().map(_.getLong(0)).toSeq
        val want = rows.map { case (id, v, _) => (K.l2(v.toArray, q), id) }
          .sorted.take(5).map(_._2).toSeq
        assert(got == want, "exact fallback must return the true top-k")
        // and the same registrations still serve partition-scoped reads
        val child = spark.read.parquet(s"$tableDir/part=1")
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(5)
        assert(AnnTopKRewrite.inServed(child.queryExecution.optimizedPlan.toString),
          "per-child read must still be sharded-graph served")
      }
    } finally (0 to 1).foreach(p =>
      AnnCatalog.unregisterShardedGraph(s"$tableDir/part=$p"))
  }

  test("partitioned-MaxSim TIGHT-budget regime (partial probes, small " +
       "kPerToken): estimate-driven candidate pools keep a recall floor " +
       "vs whole-corpus brute force") {
    import spark.implicits._
    val rng = new scala.util.Random(202)
    def tok(): Seq[Float] = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    val docs = (0L until 300L).map(i => (i, Seq(tok(), tok(), tok()), (i % 2).toInt))
    val tableDir = Files.createTempDirectory("graft-ms-recall").toString
    docs.toDF("doc", "tokens", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    (0 to 1).foreach { p =>
      val toks = docs.filter(_._3 == p).flatMap { case (id, ts, _) =>
        ts.zipWithIndex.map { case (t, pos) => (id, pos, t) }
      }.toDF("doc", "pos", "v")
      val d = Files.createTempDirectory(s"graft-ms-recall-idx$p").toString
      graft.ops.MaxSim.buildTokenIndex(toks, "doc", "pos", "v", d,
        graft.index.IvfConfig(metric = "negdot", lists = 8, residual = false))
      AnnCatalog.registerMaxSim(s"$tableDir/part=$p", d, "doc", "tokens")
    }
    try withRule {
      // the regime real corpora run in: 2 of 8 lists probed per token,
      // 32 candidates per (root, token) — the oracled golden's exact
      // regime (probes=8, kPerToken=1024) covers every row instead
      withConfs("graft.ann.probes" -> "2", "graft.ann.refine" -> "8",
          "graft.ann.maxsim.kPerToken" -> "32",
          "graft.ann.cost.enable" -> "false") {
        val k = 10
        val queries = Seq(11, 47, 123, 222).map(i =>
          Seq(docs(i)._2(0), docs(i)._2(1)))
        val recalls = queries.map { query =>
          val df = spark.read.parquet(tableDir)
            .orderBy(GraftFunctions.vecMaxsim(col("tokens"), typedlit(query)))
            .limit(k)
          assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
            "tight-budget maxsim read not served")
          val got = df.collect().map(_.getLong(0)).toSet
          val qArr = query.map(_.toArray).toArray
          val want = docs.map { case (id, ts, _) =>
              (K.maxsim(ts.map(_.toArray).toArray, qArr), id)
            }.sorted.take(k).map(_._2).toSet
          got.intersect(want).size.toDouble / k
        }
        val mean = recalls.sum / recalls.size
        info(f"partitioned MaxSim recall@$k at probes=2/8, kPerToken=32: " +
          f"mean $mean%.2f (per-query ${recalls.map(r => f"$r%.1f").mkString(", ")})")
        // floor, not equality: candidate-boundary misses are the ANN
        // contract in this regime; ordering of surfaced docs stays exact
        // (the plan's own Sort reranks true maxsim)
        assert(mean >= 0.7, f"mean recall $mean%.2f under the 0.7 floor")
        assert(recalls.forall(_ >= 0.5),
          s"a query fell under the 0.5 per-query floor: $recalls")
      }
    } finally (0 to 1).foreach(p =>
      AnnCatalog.unregisterMaxSim(s"$tableDir/part=$p"))
  }

  test("flat-read listing caches invalidate on appends landing AFTER a " +
       "serve: a first delta (cross-instance, deltaExists flip) and a " +
       "second append (same-instance mutations bump) are both visible") {
    import spark.implicits._
    val rng = new scala.util.Random(307)
    val base = (0L until 400L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 0.5f + 1.0f), (i % 2).toInt))
    val tableDir = Files.createTempDirectory("graft-ann-inval").toString
    base.toDF("id", "vec", "part")
      .write.partitionBy("part").mode("overwrite").parquet(tableDir)
    val idxDirs = (0 to 1).map { p =>
      val d = Files.createTempDirectory(s"graft-ann-inval-idx$p").toString
      IvfIndex.build(spark.read.parquet(s"$tableDir/part=$p"), "id", "vec",
        d, IvfConfig(lists = 4))
      AnnCatalog.register(s"$tableDir/part=$p", d, "id", "vec")
      d
    }
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "50",
          "graft.ann.cost.enable" -> "false") {
        val q = Array.fill(8)(0.0f)
        def topIds(): Seq[Long] = {
          val df = spark.read.parquet(tableDir)
            .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
            .limit(3).select("id")
          assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
            "whole-table read not served")
          df.collect().map(_.getLong(0)).toSeq
        }
        // base corpus sits in [1.0, 1.5]^8 — far from q — so any
        // near-zero appended row strictly wins the top-k
        topIds() // warm: clusterDirSets + rootFiles now cached pre-append
        // FIRST append through a FRESH instance (not the catalog's):
        // the delta area APPEARING is the cross-instance invalidation
        // signal (deltaExists in every cache key)
        def appendRows(ix: IvfIndex, ids: Seq[Long], part: Int): Unit = {
          val rows = ids.map(i => (i, Seq.fill(8)(0.01f), part))
          // write through the table too so the exact rerank finds the rows
          rows.toDF("id", "vec", "part").write.mode("append")
            .partitionBy("part").parquet(tableDir)
          ix.appendDelta(rows.toDF("id", "vec", "part"), "id", "vec")
        }
        appendRows(IvfIndex.load(spark, idxDirs(0)), Seq(9000L), 0)
        assert(topIds().contains(9000L),
          "a delta append from a fresh instance (delta dir appearing) " +
          "must invalidate the cached flat-read listings")
        // SECOND append through the CATALOG's own instance: the delta
        // dir already exists, so only the mutations bump invalidates
        val entry = AnnCatalog.resolve(spark, Seq(s"$tableDir/part=1"), Nil,
          Seq(AnnCatalog.Kind.Ivf)).get.entries.head
        appendRows(AnnCatalog.index(spark, entry), Seq(9001L), 1)
        val got = topIds()
        assert(got.contains(9001L) && got.contains(9000L),
          s"same-instance second append must invalidate via mutations: $got")
        // THIRD append through ANOTHER FRESH instance into root 0's
        // ALREADY-EXISTING delta area: neither delta-existence nor the
        // catalog instance's mutations counter moves — only the deltaSig
        // child (name, mtime) signature catches it (the multi-writer-
        // instance staleness the (gen, exists, mutations) key missed)
        appendRows(IvfIndex.load(spark, idxDirs(0)), Seq(8999L), 0)
        val got3 = topIds()
        assert(got3.contains(8999L),
          "a delta append from a fresh instance into an EXISTING delta " +
          s"area must invalidate via the delta child signature: $got3")
      }
    } finally (0 to 1).foreach(p => AnnCatalog.unregister(s"$tableDir/part=$p"))
  }

  test("unregister evicts the memoized index instance and unpersists its " +
       "prewarm blocks (no executor-cache leak for dropped indexes)") {
    import spark.implicits._
    val rng = new scala.util.Random(911)
    val rows = (0L until 200L).map(i => (i, Seq.fill(8)(rng.nextFloat())))
    val tableDir = Files.createTempDirectory("graft-ann-evict").toString
    rows.toDF("id", "vec").write.mode("overwrite").parquet(tableDir)
    val idxDir = Files.createTempDirectory("graft-ann-evict-idx").toString
    IvfIndex.build(spark.read.parquet(tableDir), "id", "vec", idxDir,
      IvfConfig(lists = 4))
    AnnCatalog.register(tableDir, idxDir, "id", "vec")
    val persisted0 = spark.sparkContext.getPersistentRDDs.size
    // load the catalog's instance and pin its plan in executor memory
    val entry = AnnCatalog.resolve(spark, Seq(tableDir), Nil,
      Seq(AnnCatalog.Kind.Ivf)).get.entries.head
    AnnCatalog.index(spark, entry).prewarm()
    assert(spark.sparkContext.getPersistentRDDs.size > persisted0,
      "prewarm must persist the cached plan")
    AnnCatalog.unregister(tableDir)
    assert(spark.sparkContext.getPersistentRDDs.size == persisted0,
      "unregister must release the dropped index's persisted blocks — " +
      "CacheManager pins them until an explicit unpersist")
    // and the instance cache reloads fresh on re-register (no stale memo)
    AnnCatalog.register(tableDir, idxDir, "id", "vec")
    try assert(AnnCatalog.index(spark, entry).rowCount == 200L)
    finally AnnCatalog.unregister(tableDir)
  }

  /** Table with three NULL-vector rows (ids 300..302). The index build
    * excludes them (issue_427 behavior), but Spark ascending sorts are
    * NULLS FIRST, so the EXACT plan ranks them at the very top of every
    * `ORDER BY vec_l2 ... LIMIT k` — a served plan restricted to index
    * candidate ids alone would silently drop them. */
  private lazy val nullSetup: (String, String) = {
    import spark.implicits._
    val rng = new scala.util.Random(99)
    val rows: Seq[(Long, Option[Seq[Float]])] =
      (0L until 300L).map(i => i -> Option(Seq.fill(8)(rng.nextFloat() * 2 - 1))) ++
        (300L until 303L).map(i => i -> Option.empty[Seq[Float]])
    val tableDir = Files.createTempDirectory("graft-ann-nulls").toString
    rows.toDF("id", "vec").write.mode("overwrite").parquet(tableDir)
    val indexDir = Files.createTempDirectory("graft-ann-nulls-idx").toString
    IvfIndex.build(spark.read.parquet(tableDir), "id", "vec", indexDir,
      IvfConfig(lists = 4))
    (tableDir, indexDir)
  }

  test("NULL-vector rows keep their NULLS FIRST rank in a served top-k " +
       "(the restriction is `id IN (...) OR vec IS NULL`, not the bare IN)") {
    import spark.implicits._
    val (tableDir, indexDir) = nullSetup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "20") {
        val q = Array.fill(8)(0.2f)
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(10)
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(optimized), optimized)
        assert(optimized.toLowerCase.contains("isnull"),
          s"expected the null-ordering keep in the restriction:\n$optimized")
        val got = df.select("id").as[Long].collect().toSeq
        // the three null rows tie (null dist), so their mutual order is
        // plan-dependent — compare the null prefix as a set, the rest exact
        assert(got.take(3).toSet == Set(300L, 301L, 302L),
          s"null rows must rank first (NULLS FIRST): $got")
        val data = spark.read.parquet(tableDir).where("vec is not null")
          .as[(Long, Seq[Float])].collect()
        val want = data.map { case (id, v) => (K.l2(v.toArray, q), id) }
          .sorted.take(7).map(_._2).toSeq
        assert(got.drop(3) == want)
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("NULL-vector rows passing a PREFILTER keep their rank through the " +
       "escalation serve") {
    import spark.implicits._
    val (tableDir, indexDir) = nullSetup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "20") {
        val q = Array.fill(8)(0.3f)
        val df = spark.read.parquet(tableDir)
          .where(col("id") % 2 === 0)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(8)
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(optimized), optimized)
        val got = df.select("id").as[Long].collect().toSeq
        // nulls passing the predicate: 300 and 302
        assert(got.take(2).toSet == Set(300L, 302L),
          s"even null rows must rank first: $got")
        val data = spark.read.parquet(tableDir)
          .where("vec is not null and id % 2 = 0")
          .as[(Long, Seq[Float])].collect()
        val want = data.map { case (id, v) => (K.l2(v.toArray, q), id) }
          .sorted.take(6).map(_._2).toSeq
        assert(got.drop(2) == want)
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("maxsim serve keeps EMPTY and NULL token docs at their exact ranks " +
       "(vec_maxsim([], q) = 0.0 outranks every positive-scoring doc)") {
    import spark.implicits._
    val rng = new scala.util.Random(414)
    def tok(): Seq[Float] =
      Seq.tabulate(8)(i => (if (i == 0) 1f else 0f) + rng.nextFloat() * 0.1f)
    // 40 docs aligned with +e0; query tokens along -e0 => every real
    // doc's maxsim sum is POSITIVE, the empty doc's is exactly 0.0 (a
    // VALUE — not null — so IsNull alone would not keep it)
    val docs: Seq[(Long, Option[Seq[Seq[Float]]])] =
      (0L until 40L).map(d => d -> Option(Seq.fill(2)(tok()))) ++
        Seq(40L -> Option(Seq.empty[Seq[Float]]), 41L -> Option.empty)
    val tableDir = Files.createTempDirectory("graft-ms-empty").toString
    docs.toDF("doc", "tokens").write.mode("overwrite").parquet(tableDir)
    val toks = docs.flatMap { case (d, ts) =>
      ts.getOrElse(Seq.empty).zipWithIndex.map { case (t, p) => (d, p, t) }
    }.toDF("doc", "pos", "v")
    val idir = Files.createTempDirectory("graft-ms-empty-idx").toString
    graft.ops.MaxSim.buildTokenIndex(toks, "doc", "pos", "v", idir,
      IvfConfig(metric = "negdot", lists = 4))
    AnnCatalog.registerMaxSim(tableDir, idir, "doc", "tokens")
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "20",
          "graft.ann.maxsim.kPerToken" -> "600",
          "graft.ann.cost.enable" -> "false") {
        val query = Seq.fill(2)(Seq.tabulate(8)(i => if (i == 0) -1f else 0f))
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecMaxsim(col("tokens"), typedlit(query)))
          .limit(5).select("doc")
        val plan = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(plan), plan)
        assert(plan.toLowerCase.contains("isnull") && plan.contains("size("),
          s"expected the null+empty keep in the maxsim restriction:\n$plan")
        val got = df.collect().map(_.getLong(0)).toSeq
        // exact order: null doc (NULLS FIRST), empty doc (0.0), then the
        // 3 real docs with the smallest positive maxsim sums
        val qArr = query.map(_.toArray).toArray
        val want = docs.collect { case (d, Some(ts)) if ts.nonEmpty =>
          (K.maxsim(ts.map(_.toArray).toArray, qArr), d)
        }.sorted.take(3).map(_._2)
        assert(got == Seq(41L, 40L) ++ want,
          s"got $got want ${Seq(41L, 40L) ++ want}\n$plan")
      }
    } finally AnnCatalog.unregisterMaxSim(tableDir)
  }

  test("graph tier: a null-bearing corpus is UNATTESTED — the serve keeps " +
       "the null Or and NULL rows rank first") {
    import spark.implicits._
    val (tableDir, _) = nullSetup
    val graphDir = Files.createTempDirectory("graft-ann-graph-nulls").toString
    val g = graft.index.VamanaGraph
      .build(spark.read.parquet(tableDir), "id", "vec", graft.index.VamanaConfig())
    assert(!g.sourceComplete, "null-bearing build must NOT attest")
    g.save(spark, graphDir)
    AnnCatalog.registerGraph(tableDir, graphDir, "id", "vec")
    try withRule {
      withConfs("graft.ann.efSearch" -> "256") {
        val q = Array.fill(8)(0.2f)
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(6)
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(optimized) &&
          optimized.toLowerCase.contains("isnull"),
          s"expected the null-keeping graph serve:\n$optimized")
        val got = df.select("id").as[Long].collect().toSeq
        assert(got.take(3).toSet == Set(300L, 301L, 302L),
          s"null rows must rank first: $got")
        val data = spark.read.parquet(tableDir).where("vec is not null")
          .as[(Long, Seq[Float])].collect()
        val want = data.map { case (id, v) => (K.l2(v.toArray, q), id) }
          .sorted.take(3).map(_._2).toSeq
        assert(got.drop(3) == want)
      }
    } finally AnnCatalog.unregisterGraph(tableDir)
  }

  test("source-completeness lifecycle: a clean build attests and serves " +
       "the bare pushable IN; a null-bearing delta append taints it back " +
       "to the null-keeping Or (keepNulls=auto)") {
    import spark.implicits._
    val rng = new scala.util.Random(616)
    val rows = (0L until 200L).map(i => i -> Seq.fill(8)(rng.nextFloat() * 2 - 1))
    val tableDir = Files.createTempDirectory("graft-ann-complete").toString
    rows.toDF("id", "vec").write.mode("overwrite").parquet(tableDir)
    val indexDir = Files.createTempDirectory("graft-ann-complete-idx").toString
    val idx = IvfIndex.build(spark.read.parquet(tableDir), "id", "vec", indexDir,
      IvfConfig(lists = 4))
    assert(idx.sourceComplete, "a clean build must attest completeness")
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "20") {
        val q = Array.fill(8)(0.1f)
        def topk() = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(5)
        val p1 = topk().queryExecution.executedPlan.toString
        assert(p1.contains("PushedFilters: [In(id"), p1)
        // keepNulls=true overrides the attestation: always the Or
        withConfs("graft.ann.topk.keepNulls" -> "true") {
          val p = topk().queryExecution.optimizedPlan.toString
          assert(p.toLowerCase.contains("isnull"), p)
        }
        // null-bearing append: the table gains rows 200..202 (201 NULL),
        // the index only the two non-null ones — completeness taints
        val extra: Seq[(Long, Option[Seq[Float]])] = Seq(
          200L -> Option(Seq.fill(8)(0.05f)),
          201L -> Option.empty,
          202L -> Option(Seq.fill(8)(-0.05f)))
        extra.toDF("id", "vec").write.mode("append").parquet(tableDir)
        idx.appendDelta(extra.toDF("id", "vec"), "id", "vec")
        assert(!idx.sourceComplete, "a null-bearing append must taint")
        val df2 = topk()
        val p2 = df2.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(p2) && p2.toLowerCase.contains("isnull"),
          s"tainted corpus must serve the null-keeping Or:\n$p2")
        // and the appended NULL row ranks first, as in the exact plan
        val got = df2.select("id").as[Long].collect().toSeq
        assert(got.head == 201L, s"null row must rank first: $got")
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("graft.ann.topk.keepNulls=false restores the bare pushable IN " +
       "(operator-asserted null-free corpus: full row-group pruning back)") {
    import spark.implicits._
    val (tableDir, indexDir) = nullSetup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "20",
          "graft.ann.topk.keepNulls" -> "false") {
        val q = Array.fill(8)(0.2f)
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(10)
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString))
        // the BARE In reaches the scan as the whole pushed filter —
        // ParquetFilters converts it, row-group pruning applies
        val physical = df.queryExecution.executedPlan.toString
        assert(physical.contains("PushedFilters: [In(id"), physical)
        // documented divergence on a corpus that DOES hold nulls:
        // the null rows are gone (that is what the conf asserts away)
        val got = df.select("id").as[Long].collect().toSeq
        assert(!got.exists(_ >= 300L), s"keepNulls=false serves no null rows: $got")
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("single-root maxsim serve counts its ONE planning job (the 2-root " +
       "serve's count)") {
    import spark.implicits._
    val rng = new scala.util.Random(57)
    def tok(): Seq[Float] = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    val docs = (0L until 200L).map(i => i -> Seq(tok(), tok(), tok()))
    val tableDir = Files.createTempDirectory("graft-ms1-table").toString
    docs.toDF("doc", "tokens").write.mode("overwrite").parquet(tableDir)
    val tokens = docs.flatMap { case (id, ts) =>
      ts.zipWithIndex.map { case (t, p) => (id, p, t) }
    }.toDF("doc", "pos", "v")
    val indexDir = Files.createTempDirectory("graft-ms1-index").toString
    graft.ops.MaxSim.buildTokenIndex(tokens, "doc", "pos", "v", indexDir,
      graft.index.IvfConfig(metric = "negdot", lists = 8, residual = false))
    AnnCatalog.registerMaxSim(tableDir, indexDir, "doc", "tokens")
    try withRule {
      val query = Seq(docs(41)._2(0), docs(41)._2(2))
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "8",
          "graft.ann.maxsim.kPerToken" -> "600",
          "graft.ann.cost.enable" -> "false") {
        val jobs0 = AnnTopKRewrite.planningJobs.get()
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecMaxsim(col("tokens"), typedlit(query)))
          .limit(5)
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          "single-root maxsim read not served")
        assert(AnnTopKRewrite.planningJobs.get() == jobs0 + 1,
          s"expected ONE planning job for the single-root maxsim serve, got " +
            s"${AnnTopKRewrite.planningJobs.get() - jobs0}")
        val qArr = query.map(_.toArray).toArray
        val want = docs.map { case (id, ts) =>
            (K.maxsim(ts.map(_.toArray).toArray, qArr), id)
          }.sorted.take(5).map(_._2)
        assert(df.collect().map(_.getLong(0)).toSeq == want)
      }
    } finally AnnCatalog.unregisterMaxSim(tableDir)
  }

  test("single-root QUANTIZED graph: an ef pool past maxInList declines " +
       "to the exact plan") {
    import spark.implicits._
    val rng = new scala.util.Random(61)
    val rows = (0L until 500L).map(i => i -> Seq.fill(8)(rng.nextFloat() * 2 - 1))
    val tableDir = Files.createTempDirectory("graft-ann-qgraph").toString
    rows.toDF("id", "vec").write.mode("overwrite").parquet(tableDir)
    val graphDir = Files.createTempDirectory("graft-ann-qgraph-g").toString
    graft.index.VamanaGraph
      .build(spark.read.parquet(tableDir), "id", "vec",
        graft.index.VamanaConfig(bits = 8))
      .save(spark, graphDir)
    AnnCatalog.registerGraph(tableDir, graphDir, "id", "vec")
    try withRule {
      val q = Array.fill(8)(0.1f)
      def query() = spark.read.parquet(tableDir)
        .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
        .limit(10)
      // the default budget serves: the quantized beam keeps its whole
      // ef pool (64 ids) as candidates
      assert(AnnTopKRewrite.inServed(query().queryExecution.optimizedPlan.toString),
        "the quantized graph must serve under the default maxInList")
      withConfs("graft.ann.maxInList" -> "32") {
        val df = query()
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(!AnnTopKRewrite.inServed(optimized),
          s"a 64-id ef pool over maxInList=32 must decline:\n$optimized")
        val exact = withConfs("graft.ann.enable" -> "false")(
          query().as[(Long, Seq[Float])].collect().toSeq)
        assert(df.as[(Long, Seq[Float])].collect().toSeq == exact)
      }
    } finally AnnCatalog.unregisterGraph(tableDir)
  }

  test("tier order: one table with an l2 IVF index and a cosine graph — " +
       "l2 serves through IVF, cosine falls through to the graph; the " +
       "served batch faces resolve IVF first") {
    import spark.implicits._
    val rng = new scala.util.Random(67)
    val rows = (0L until 400L).map(i => i -> Seq.fill(8)(rng.nextFloat() * 2 - 1))
    val data = rows.map { case (i, v) => (i, v.toArray) }
    val tableDir = Files.createTempDirectory("graft-ann-tiers").toString
    rows.toDF("id", "vec").write.mode("overwrite").parquet(tableDir)
    val ivfDir = Files.createTempDirectory("graft-ann-tiers-ivf").toString
    IvfIndex.build(spark.read.parquet(tableDir), "id", "vec", ivfDir,
      IvfConfig(lists = 4))
    val graphDir = Files.createTempDirectory("graft-ann-tiers-g").toString
    graft.index.VamanaGraph
      .build(spark.read.parquet(tableDir), "id", "vec",
        graft.index.VamanaConfig(metric = "cosdist"))
      .save(spark, graphDir)
    AnnCatalog.register(tableDir, ivfDir, "id", "vec")
    AnnCatalog.registerGraph(tableDir, graphDir, "id", "vec")
    val q = data(17)._2
    def brute(d: (Array[Float], Array[Float]) => Double, k: Int) =
      data.map { case (id, v) => (d(v, q), id) }.sorted.take(k).map(_._2).toSeq
    try withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "40",
        "graft.ann.efSearch" -> "256", "graft.ann.cost.enable" -> "false") {
      assert(brute(K.l2, 10) != brute(K.cosdist, 10),
        "fixture must tell the two metrics apart")
      withRule {
        // the IVF serve runs its one pool job at planning; the graph
        // beams on the driver and runs none
        def served(dist: org.apache.spark.sql.Column): (Seq[Long], Long) = {
          val jobs0 = AnnTopKRewrite.planningJobs.get()
          val df = spark.read.parquet(tableDir).orderBy(dist).limit(10)
          assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString))
          (df.collect().map(_.getLong(0)).toSeq,
            AnnTopKRewrite.planningJobs.get() - jobs0)
        }
        val (l2Got, l2Jobs) =
          served(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
        assert(l2Jobs == 1, s"l2 must serve through IVF: $l2Jobs jobs")
        assert(l2Got == brute(K.l2, 10))
        val (cosGot, cosJobs) =
          served(GraftFunctions.vecCosdist(col("vec"), typedlit(q.toSeq)))
        assert(cosJobs == 0, s"cosine must serve through the graph: $cosJobs jobs")
        assert(cosGot == brute(K.cosdist, 10))
      }
      // the batch faces carry no metric: the first covering tier (IVF)
      // answers, in its own l2 metric
      val qdf = Seq((0L, q.toSeq)).toDF("qid", "center")
      val knn = AnnCatalog.servedSearchMany(spark, tableDir, qdf, "qid", "center", 5)
        .select(col("id"), col("rn").cast("long")).as[(Long, Long)].collect()
        .sortBy(_._2).map(_._1).toSeq
      assert(knn == brute(K.l2, 5), s"servedSearchMany must resolve IVF: $knn")
      val rdf = Seq((0L, q.toSeq, 1.2)).toDF("qid", "center", "radius")
      val inL2 = data.filter(r => K.l2(r._2, q) < 1.2).map(_._1).toSet
      assert(inL2 != data.filter(r => K.cosdist(r._2, q) < 1.2).map(_._1).toSet)
      val range = AnnCatalog.servedRangeMany(spark, tableDir, rdf, "qid",
          "center", "radius").as[(Long, Long, Double)].collect()
      assert(range.map(_._2).toSet == inL2, "servedRangeMany must resolve IVF")
      // with the IVF tier gone, both faces fall through to the graph
      AnnCatalog.unregister(tableDir)
      val knnG = AnnCatalog.servedSearchMany(spark, tableDir, qdf, "qid", "center", 5)
        .select(col("id"), col("rn").cast("long")).as[(Long, Long)].collect()
        .sortBy(_._2).map(_._1).toSeq
      assert(knnG == brute(K.cosdist, 5), s"servedSearchMany via graph: $knnG")
      val vecs = data.toMap
      val rangeG = AnnCatalog.servedRangeMany(spark, tableDir, rdf, "qid",
          "center", "radius").as[(Long, Long, Double)].collect()
      assert(rangeG.nonEmpty && rangeG.forall { case (_, id, d) =>
        math.abs(d - K.cosdist(vecs(id), q)) < 1e-6 && d < 1.2 },
        "servedRangeMany via graph must cut at cosine distances")
    } finally {
      AnnCatalog.unregister(tableDir)
      AnnCatalog.unregisterGraph(tableDir)
    }
  }
}
