package graft.plans

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import graft.functions.GraftFunctions
import graft.index.{IvfConfig, IvfIndex}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * Planner-served top-k KNN JOIN — the lateral "k nearest per query row"
 * (SURVEY §2.6 batch KNN-join; the reference's scan loop answers it one
 * query at a time, crates/vchordrq/src/search.rs:36). The windowed
 * rank-filter shape over a cross join between a bounded queries side and
 * a registered indexed table must be restricted to the batched index
 * faces' candidate union, keep the original window for exact rerank, and
 * decline on every shape it cannot serve exactly.
 */
class KnnJoinServeSpec extends SparkSpec {

  private val dim = 8

  private lazy val setup: (String, String) = {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    val rows = (0L until 500L).map(i => i -> Seq.fill(dim)(rng.nextFloat() * 2 - 1))
    val tableDir = Files.createTempDirectory("graft-kj-table").toString
    rows.toDF("id", "vec").write.mode("overwrite").parquet(tableDir)
    val indexDir = Files.createTempDirectory("graft-kj-index").toString
    IvfIndex.build(spark.read.parquet(tableDir), "id", "vec", indexDir, IvfConfig(lists = 8))
    (tableDir, indexDir)
  }

  /** Two-root partitioned copy (pt = id % 2), one index per root. */
  private lazy val partSetup: String = {
    import spark.implicits._
    val (tableDir, _) = setup
    val dst = Files.createTempDirectory("graft-kj-part").toString
    spark.read.parquet(tableDir)
      .withColumn("pt", (col("id") % 2).cast("int"))
      .write.partitionBy("pt").mode("overwrite").parquet(dst)
    (0 to 1).foreach { p =>
      val idir = Files.createTempDirectory(s"graft-kj-pidx$p").toString
      IvfIndex.build(spark.read.parquet(s"$dst/pt=$p"), "id", "vec", idir,
        IvfConfig(lists = 8))
      AnnCatalog.register(s"$dst/pt=$p", idir, "id", "vec")
    }
    dst
  }

  private def withRule[T](f: => T): T = {
    val uninstall = AnnTopKRewrite.install(spark)
    try f
    finally uninstall()
  }

  private def withConfs[T](kv: (String, String)*)(f: => T): T =
    graft.core.Confs.withConfs(spark, kv: _*)(f)

  private def data(tableDir: String): Array[(Long, Array[Float])] = {
    import spark.implicits._
    spark.read.parquet(tableDir).select("id", "vec").as[(Long, Seq[Float])]
      .collect().map { case (i, v) => (i, v.toArray) }
  }

  /** Brute-force per-query top-k over the rows `keep` passes: (qid, id, rn). */
  private def brute(tableDir: String, qs: Seq[(Long, Array[Float])], k: Int,
                    metric: String = "l2",
                    keep: ((Long, Array[Float])) => Boolean = _ => true)
      : Seq[(Long, Long, Long)] = {
    val fn = graft.ops.Knn.metricFn(metric)
    val rows = data(tableDir).filter(keep)
    qs.flatMap { case (qid, q) =>
      rows.map { case (id, v) => (fn(v, q), id) }.sorted.take(k)
        .zipWithIndex.map { case ((_, id), i) => (qid, id, (i + 1).toLong) }
    }
  }

  /** The DSL windowed KNN-join shape over `path` (its rows `pred`
    * passes) for literal queries. */
  private def kjDf(path: String, qs: Seq[(Long, Array[Float])], k: Int,
      pred: Option[Column] = None) = {
    import spark.implicits._
    val qdf = qs.map { case (qid, q) => (qid, q.toSeq) }.toDF("qid", "center")
    val e = pred.fold(spark.read.parquet(path))(spark.read.parquet(path).filter)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(GraftFunctions.vecL2(col("vec"), col("center")), col("id"))
    qdf.crossJoin(e)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("id"), col("rn").cast("long").as("rn"))
  }

  private def collectKj(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._3))

  test("windowed KNN join over a registered table is index-served and exact") {
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "20") {
        val byId = data(tableDir).toMap
        val qs = Seq(0L, 7L, 12L).map(i => i -> byId(i))
        val before = AnnTopKRewrite.planningJobs.get()
        val df = kjDf(tableDir, qs, 5)
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(optimized),
          s"expected candidate-id restriction:\n$optimized")
        // exactly two planning jobs: queries collect + one batched candidate job
        assert(AnnTopKRewrite.planningJobs.get() - before == 2)
        // physical scan carries the pushed In filter: the fixture's
        // build attests source completeness, so keepNulls=auto serves
        // the bare parquet-pushable IN
        val physical = df.queryExecution.executedPlan.toString
        assert(physical.contains("PushedFilters: [In(id"), physical)
        assert(collectKj(df) == brute(tableDir, qs, 5))
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("SQL spelling (subquery + WHERE rn <= k) is served and exact") {
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    GraftFunctions.registerAll(spark)
    try withRule {
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "20") {
        spark.read.parquet(tableDir).createOrReplaceTempView("kj_docs")
        val df = spark.sql(
          """SELECT qid, id, CAST(rn AS BIGINT) AS rn FROM (
            |  SELECT q.qid, e.id,
            |         row_number() OVER (PARTITION BY q.qid
            |           ORDER BY vec_l2(e.vec, q.center), e.id) AS rn
            |  FROM (SELECT id AS qid, vec AS center FROM kj_docs
            |        WHERE id IN (1, 3, 9)) q
            |  JOIN kj_docs e
            |) WHERE rn <= 4""".stripMargin)
        val optimized = df.queryExecution.optimizedPlan.toString
        // the queries-side user IN plus the serve's candidate restriction
        assert(AnnTopKRewrite.candInCount(optimized) >= 2,
          s"expected user IN + candidate IN:\n$optimized")
        val byId = data(tableDir).toMap
        val qs = Seq(1L, 3L, 9L).map(i => i -> byId(i))
        assert(collectKj(df) == brute(tableDir, qs, 4))
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("partitioned corpus serves through searchManyMulti and is exact") {
    val (tableDir, _) = setup
    val dst = partSetup
    withRule {
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "20",
          "graft.ann.cost.enable" -> "false") {
        val byId = data(tableDir).toMap
        val qs = Seq(2L, 5L).map(i => i -> byId(i))
        val before = AnnTopKRewrite.planningJobs.get()
        val df = kjDf(dst, qs, 6)
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(optimized),
          s"expected partitioned candidate restriction:\n$optimized")
        assert(AnnTopKRewrite.planningJobs.get() - before == 2)
        assert(collectKj(df) == brute(tableDir, qs, 6))
      }
    }
  }

  test("graph-registered corpus serves the same shape from driver beams") {
    import spark.implicits._
    val (tableDir, _) = setup
    val rows = data(tableDir)
    val gdst = Files.createTempDirectory("graft-kj-gpart").toString
    spark.read.parquet(tableDir)
      .withColumn("pt", (col("id") % 2).cast("int"))
      .write.partitionBy("pt").mode("overwrite").parquet(gdst)
    (0 to 1).foreach { p =>
      val gdir = Files.createTempDirectory(s"graft-kj-g$p").toString
      graft.index.VamanaGraph
        .build(spark.read.parquet(s"$gdst/pt=$p"), "id", "vec",
          graft.index.VamanaConfig())
        .save(spark, gdir)
      AnnCatalog.registerGraph(s"$gdst/pt=$p", gdir, "id", "vec")
    }
    withRule {
      withConfs("graft.ann.efSearch" -> "512",
          "graft.ann.cost.enable" -> "false") {
        val byId = rows.toMap
        val qs = Seq(1L, 8L).map(i => i -> byId(i))
        val before = AnnTopKRewrite.planningJobs.get()
        val df = kjDf(gdst, qs, 4)
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          s"expected graph-served candidate restriction:\n" +
          df.queryExecution.optimizedPlan)
        // exactly ONE planning job: the queries collect — beams run on
        // the driver (the serveGraphMulti economics)
        assert(AnnTopKRewrite.planningJobs.get() - before == 1)
        assert(collectKj(df) == brute(tableDir, qs, 4))
      }
    }
  }

  test("sharded-graph corpus serves the same shape through one batched " +
       "shard search") {
    import spark.implicits._
    val (tableDir, _) = setup
    val rows = data(tableDir)
    val sdir = Files.createTempDirectory("graft-kj-sharded").toString
    graft.index.ShardedVamana.build(spark.read.parquet(tableDir), "id", "vec",
      sdir, graft.index.VamanaConfig(), shards = 3)
    AnnCatalog.registerShardedGraph(tableDir, sdir, "id", "vec")
    try withRule {
      withConfs("graft.ann.efSearch" -> "512",
          "graft.ann.cost.enable" -> "false") {
        val byId = rows.toMap
        val qs = Seq(2L, 9L).map(i => i -> byId(i))
        val df = kjDf(tableDir, qs, 4)
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          s"expected sharded-graph candidate restriction:\n" +
          df.queryExecution.optimizedPlan)
        assert(collectKj(df) == brute(tableDir, qs, 4))
      }
    } finally AnnCatalog.unregisterShardedGraph(tableDir)
  }

  test("codes-only index serves via its entry's rerank table") {
    import spark.implicits._
    val (tableDir, _) = setup
    val novecDir = Files.createTempDirectory("graft-kj-novec").toString
    IvfIndex.load(spark, setup._2).dropVectors(novecDir)
    AnnCatalog.register(tableDir, novecDir, "id", "vec")
    try withRule {
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "20") {
        val byId = data(tableDir).toMap
        val qs = Seq(4L, 11L).map(i => i -> byId(i))
        val df = kjDf(tableDir, qs, 3)
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString))
        assert(collectKj(df) == brute(tableDir, qs, 3))
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("prefiltered indexed side escalates to k survivors per query and " +
       "stays exact") {
    import spark.implicits._
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      // base budgets are TIGHT (the default sqrt(lists) probes, refine 2):
      // the id % 7 predicate keeps ~1/7 of rows, so the first pool rounds
      // hold fewer than k survivors and the serve must escalate
      withConfs("graft.ann.refine" -> "2") {
        val byId = data(tableDir).toMap
        val qs = Seq(0L -> byId(3L), 1L -> byId(9L))
        val qdf = qs.map { case (qid, q) => (qid, q.toSeq) }.toDF("qid", "center")
        val e = spark.read.parquet(tableDir).filter(col("id") % 7 === 0)
        val wSpec = org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(GraftFunctions.vecL2(col("vec"), col("center")), col("id"))
        val before = AnnTopKRewrite.planningJobs.get()
        val df = qdf.crossJoin(e)
          .withColumn("rn", row_number().over(wSpec))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("id"), col("rn").cast("long").as("rn"))
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          s"expected escalated prefiltered serve:\n${df.queryExecution.optimizedPlan}")
        // escalation ran: more than the two quiet-path planning jobs
        assert(AnnTopKRewrite.planningJobs.get() - before > 2)
        val fn = graft.ops.Knn.metricFn("l2")
        val rows = data(tableDir).filter(_._1 % 7 == 0)
        val want = qs.flatMap { case (qid, q) =>
          rows.map { case (id, v) => (fn(v, q), id) }.sorted.take(5)
            .zipWithIndex.map { case ((_, id), i) => (qid, id, (i + 1).toLong) }
        }
        assert(collectKj(df) == want)
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("multi-root prefilter escalation: each root's pool covers it once " +
       "k*refine reaches that root's rows") {
    val (tableDir, _) = setup
    val dst = partSetup
    withRule {
      // every cell probed, and k*refine = 256 per (root, query) pool is at
      // least EACH root's 250 rows: every pool holds all of its root's
      // rows, so the first round covers the table even though the
      // predicate keeps only 6 rows, fewer than k
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "32",
          "graft.ann.cost.enable" -> "false") {
        val byId = data(tableDir).toMap
        val qs = Seq(0L -> byId(3L), 1L -> byId(11L))
        val before = AnnTopKRewrite.planningJobs.get()
        val df = kjDf(dst, qs, 8, Some(col("id") >= 494))
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          s"expected escalated multi-root serve:\n${df.queryExecution.optimizedPlan}")
        // the queries collect and one covering pool round: `id >= 494` is
        // key-only, so a round is its pool job alone, with no survivor fetch
        assert(AnnTopKRewrite.planningJobs.get() - before == 2)
        assert(collectKj(df) == brute(tableDir, qs, 8, keep = _._1 >= 494))
      }
    }
  }

  test("KNN-join prefilter cost: a key-only filter runs one Spark job per " +
       "pool round and no survivor fetch; a residual one adds one fetch") {
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      // default probes (3 of 8 cells) and refine 1: each prefilter below
      // widens over several rounds
      withConfs("graft.ann.refine" -> "1") {
        val byId = data(tableDir).toMap
        val qs = Seq(0L -> byId(3L), 1L -> byId(9L))
        // the first serve after registering loads the index and its row
        // count; keep those jobs out of the counts
        kjDf(tableDir, qs, 5).queryExecution.optimizedPlan
        // plan the prefiltered join (its planning jobs run here), check it
        // against brute force, and return (planning jobs, Spark jobs,
        // survivor fetches = the planned scans of the table)
        def cost(pred: Column, keep: ((Long, Array[Float])) => Boolean) = {
          val df = kjDf(tableDir, qs, 5, Some(pred))
          val pj = AnnTopKRewrite.planningJobs.get()
          val ((_, fetches), jobs) = graft.PlanProbes.jobsOf(spark)(
            graft.PlanProbes.scansOf(spark, tableDir)(df.queryExecution.optimizedPlan))
          val planning = AnnTopKRewrite.planningJobs.get() - pj
          assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
            s"expected a served prefiltered join:\n${df.queryExecution.optimizedPlan}")
          assert(collectKj(df) == brute(tableDir, qs, 5, keep = keep))
          (planning, jobs, fetches)
        }
        // key-only: the queries collect (a local relation, no Spark job),
        // then 3 pool rounds of one Spark job each and no survivor fetch
        val (pjKey, jobsKey, fetchKey) = cost(col("id") % 7 === 0, _._1 % 7 == 0)
        assert(fetchKey.isEmpty, s"a key-only prefilter fetched survivors: $fetchKey")
        assert(pjKey == 1 + 3, s"key-only: $pjKey planning jobs")
        assert(jobsKey == 3, s"key-only: $jobsKey Spark jobs for 3 pool rounds")
        // residual: 3 rounds, each a pool job plus one single-job survivor
        // fetch that reads the id and the residual's column
        val (pjRes, jobsRes, fetchRes) =
          cost(element_at(col("vec"), 1) > 0f, _._2(0) > 0f)
        assert(fetchRes.length == 3, s"residual: ${fetchRes.length} survivor fetches")
        fetchRes.foreach(cols => assert(cols == Set("id", "vec"), cols))
        assert(pjRes == 1 + 3 + 3, s"residual: $pjRes planning jobs")
        assert(jobsRes == 3 + 3, s"residual: $jobsRes Spark jobs")
        // mixed: the key-only conjunct runs in the pool, the residual is
        // fetched per round; the third round's pools hold every row that
        // passes `id % 7 = 0` at full probes, so it covers and fetches none
        val (pjMix, jobsMix, fetchMix) =
          cost(col("id") % 7 === 0 && element_at(col("vec"), 1) > 0f,
            r => r._1 % 7 == 0 && r._2(0) > 0f)
        assert(fetchMix.length == 2, s"mixed: ${fetchMix.length} survivor fetches")
        assert(pjMix == 1 + 3 + 2, s"mixed: $pjMix planning jobs")
        assert(jobsMix == 3 + 2, s"mixed: $jobsMix Spark jobs")
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("a codes-only partitioned corpus serves a prefiltered KNN join from " +
       "estimate-only pools; unfiltered, it has no rerank table and declines") {
    val (tableDir, _) = setup
    val dst = Files.createTempDirectory("graft-kj-novec-part").toString
    spark.read.parquet(tableDir)
      .withColumn("pt", (col("id") % 2).cast("int"))
      .write.partitionBy("pt").mode("overwrite").parquet(dst)
    val children = (0 to 1).map(p => s"$dst/pt=$p")
    children.foreach { child =>
      val idir = Files.createTempDirectory("graft-kj-novec-pidx").toString
      IvfIndex.build(spark.read.parquet(child), "id", "vec", idir,
        IvfConfig(lists = 8, storeVectors = false))
      AnnCatalog.register(child, idir, "id", "vec")
    }
    try withRule {
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "20",
          "graft.ann.cost.enable" -> "false") {
        val byId = data(tableDir).toMap
        val qs = Seq(0L -> byId(5L), 1L -> byId(12L))
        val df = kjDf(dst, qs, 4, Some(col("id") % 3 === 1))
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          s"expected a served codes-only prefiltered join:\n${df.queryExecution.optimizedPlan}")
        assert(collectKj(df) == brute(tableDir, qs, 4, keep = _._1 % 3 == 1))
        // the per-child entries share no table: the in-index rerank of the
        // unfiltered path has no vectors to read, so it keeps the exact plan
        assert(!AnnTopKRewrite.inServed(kjDf(dst, qs, 4).queryExecution.optimizedPlan.toString))
      }
    } finally children.foreach(AnnCatalog.unregister)
  }

  test("declines: kill switch, join condition, rank(), desc, " +
       "non-deterministic filter") {
    import spark.implicits._
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "20") {
        val byId = data(tableDir).toMap
        val qs = Seq(0L -> byId(0L))
        def served(df: org.apache.spark.sql.DataFrame): Boolean =
          AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString)
        // baseline: the shape serves
        assert(served(kjDf(tableDir, qs, 3)))
        // kill switch
        withConfs("graft.ann.knn.join.enable" -> "false") {
          assert(!served(kjDf(tableDir, qs, 3)))
        }
        val qdf = qs.map { case (qid, q) => (qid, q.toSeq) }.toDF("qid", "center")
        val e = spark.read.parquet(tableDir)
        val wSpec = org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(GraftFunctions.vecL2(col("vec"), col("center")), col("id"))
        // residual join condition breaks the per-query k-floor -> decline
        val cond = qdf.join(e, qdf("qid") =!= e("id"))
          .withColumn("rn", row_number().over(wSpec)).filter(col("rn") <= 3)
        assert(!served(cond))
        // rank() admits past-k ties -> decline
        val rk = qdf.crossJoin(e)
          .withColumn("rn", rank().over(wSpec)).filter(col("rn") <= 3)
        assert(!served(rk))
        // descending order is "k FURTHEST" -> decline
        val wDesc = org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(GraftFunctions.vecL2(col("vec"), col("center")).desc, col("id"))
        val furthest = qdf.crossJoin(e)
          .withColumn("rn", row_number().over(wDesc)).filter(col("rn") <= 3)
        assert(!served(furthest))
        // NON-deterministic indexed-side filter -> decline (escalation
        // cannot count survivors of a predicate that changes per run)
        val filt = qdf.crossJoin(e.filter(rand(7) < 0.999))
          .withColumn("rn", row_number().over(wSpec)).filter(col("rn") <= 3)
        assert(!served(filt))
        // partition keyed on the INDEXED side is a different operator
        val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(GraftFunctions.vecL2(col("vec"), col("center")), col("qid"))
        val perDoc = qdf.crossJoin(e)
          .withColumn("rn", row_number().over(wDoc)).filter(col("rn") <= 3)
        assert(!served(perDoc))
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("query sets past maxQueries serve in slices through the batched " +
       "candidate job") {
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "20",
          "graft.ann.knn.join.maxQueries" -> "3") {
        val byId = data(tableDir).toMap
        val qs = (0L until 8L).map(i => i -> byId(i))
        val before = AnnTopKRewrite.planningJobs.get()
        val df = kjDf(tableDir, qs, 4)
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          s"expected sliced serve:\n${df.queryExecution.optimizedPlan}")
        // one queries collect + ceil(8/3) = 3 per-slice candidate jobs
        assert(AnnTopKRewrite.planningJobs.get() - before == 4)
        assert(collectKj(df) == brute(tableDir, qs, 4))
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("a queries-side-only join condition filters query rows and serves") {
    import spark.implicits._
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "20") {
        val byId = data(tableDir).toMap
        val qs = (0L until 6L).map(i => i -> byId(i))
        val qdf = qs.map { case (qid, q) => (qid, q.toSeq) }.toDF("qid", "center")
        val e = spark.read.parquet(tableDir)
        val wSpec = org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(GraftFunctions.vecL2(col("vec"), col("center")), col("id"))
        // the ON condition references ONLY the queries side: it filters
        // query ROWS, never candidates, so the per-query k-floor holds.
        // (Catalyst usually pushes such conditions below the join before
        // this rule runs; the serve's own queries-side-condition path
        // covers plans that reach it with the condition still residual.)
        val df = qdf.join(e, qdf("qid") % 2 === 0)
          .withColumn("rn", row_number().over(wSpec))
          .filter(col("rn") <= 3)
          .select(col("qid"), col("id"), col("rn").cast("long").as("rn"))
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          s"expected queries-side-condition serve:\n${df.queryExecution.optimizedPlan}")
        assert(collectKj(df) == brute(tableDir, qs.filter(_._1 % 2 == 0), 3))
        // an INDEXED-side-only ON condition is pushed below the join by
        // the main optimizer and reaches this rule as a PREFILTER — the
        // escalation path must keep it exact (a MIXED condition's decline
        // is asserted in the declines test)
        val dfIdx = qdf.join(e, e("id") % 2 === 0)
          .withColumn("rn", row_number().over(wSpec))
          .filter(col("rn") <= 3)
          .select(col("qid"), col("id"), col("rn").cast("long").as("rn"))
        val fn = graft.ops.Knn.metricFn("l2")
        val evenRows = data(tableDir).filter(_._1 % 2 == 0)
        val wantIdx = qs.flatMap { case (qid, q) =>
          evenRows.map { case (id, v) => (fn(v, q), id) }.sorted.take(3)
            .zipWithIndex.map { case ((_, id), i) => (qid, id, (i + 1).toLong) }
        }
        assert(collectKj(dfIdx) == wantIdx)
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  test("declines: oversized query set and candidate overflow; null center") {
    import spark.implicits._
    val (tableDir, indexDir) = setup
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      withConfs("graft.ann.probes" -> "8", "graft.ann.refine" -> "20") {
        val byId = data(tableDir).toMap
        val qs = (0L until 4L).map(i => i -> byId(i))
        def served(df: org.apache.spark.sql.DataFrame): Boolean =
          AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString)
        // the HARD cap declines (slicing only stretches maxQueries; the
        // effective cap is max(maxQueriesTotal, maxQueries) so a raised
        // per-slice conf is never silently undercut — pin both here)
        withConfs("graft.ann.knn.join.maxQueriesTotal" -> "3",
            "graft.ann.knn.join.maxQueries" -> "3") {
          assert(!served(kjDf(tableDir, qs, 3)))
        }
        // a RAISED maxQueries alone lifts the hard cap too (migration
        // contract: pre-slicing configs keep serving)
        withConfs("graft.ann.knn.join.maxQueriesTotal" -> "3",
            "graft.ann.knn.join.maxQueries" -> "64") {
          assert(served(kjDf(tableDir, qs, 3)))
        }
        withConfs("graft.ann.maxInList" -> "7") {
          // 4 queries x k=3 distinct neighbors overflow a 7-id budget
          assert(!served(kjDf(tableDir, qs, 3)))
        }
        // a NULL center ranks its pairs by null dist NULLS FIRST --
        // semantics the candidate restriction cannot reproduce
        val qdf = Seq((0L, Some(byId(0L).toSeq)), (1L, None))
          .toDF("qid", "center")
        val e = spark.read.parquet(tableDir)
        val wSpec = org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(GraftFunctions.vecL2(col("vec"), col("center")), col("id"))
        val withNull = qdf.crossJoin(e)
          .withColumn("rn", row_number().over(wSpec)).filter(col("rn") <= 3)
        assert(!served(withNull))
      }
    } finally AnnCatalog.unregister(tableDir)
  }

  // ---- MAXSIM windowed join (strategy-3 ordering, round 17) ----------

  /** Multivector corpus: 60 docs x 3 tokens of dim 8, token index
    * registered for the maxsim routes. */
  private lazy val msSetup: String = {
    import spark.implicits._
    val rng = new scala.util.Random(67)
    val docs = (0L until 60L).map { d =>
      d -> Seq.fill(3)(Seq.fill(dim)(rng.nextFloat() * 2 - 1))
    }
    val tableDir = Files.createTempDirectory("graft-mskj-table").toString
    docs.toDF("doc", "tokens").write.mode("overwrite").parquet(tableDir)
    val toks = docs.flatMap { case (d, ts) =>
      ts.zipWithIndex.map { case (t, p) => (d, p, t) }
    }.toDF("doc", "pos", "v")
    val idir = Files.createTempDirectory("graft-mskj-idx").toString
    graft.ops.MaxSim.buildTokenIndex(toks, "doc", "pos", "v", idir,
      IvfConfig(metric = "negdot", lists = 4))
    AnnCatalog.registerMaxSim(tableDir, idir, "doc", "tokens")
    tableDir
  }

  /** Brute maxsim score: sum over query tokens of min negdot. */
  private def bruteMaxsim(tableDir: String,
      qs: Seq[(Long, Seq[Array[Float]])], k: Int): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    val docs = spark.read.parquet(tableDir)
      .as[(Long, Seq[Seq[Float]])].collect()
      .map { case (d, ts) => (d, ts.map(_.toArray)) }
    qs.flatMap { case (qid, qts) =>
      docs.map { case (d, ts) =>
        val score = qts.map(q => ts.map(t => K.negdot(t, q)).min).sum
        (score, d)
      }.sortBy(identity).take(k)
        .zipWithIndex.map { case ((_, d), i) => (qid, d, (i + 1).toLong) }
    }
  }

  /** The windowed maxsim KNN-join shape for literal token-set queries. */
  private def msKjDf(path: String, qs: Seq[(Long, Seq[Array[Float]])],
      k: Int) = {
    import spark.implicits._
    val qdf = qs.map { case (qid, ts) => (qid, ts.map(_.toSeq)) }
      .toDF("qid", "qtokens")
    val e = spark.read.parquet(path)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(GraftFunctions.vecMaxsim(col("tokens"), col("qtokens")),
        col("doc"))
    qdf.crossJoin(e)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("doc"), col("rn").cast("long").as("rn"))
  }

  private def qTokens(n: Int, seed: Int): Seq[(Long, Seq[Array[Float]])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i =>
      (i.toLong, Seq.fill(2)(Array.fill(dim)(rng.nextFloat() * 2 - 1))))
  }

  test("maxsim windowed join serves through the batched face, exactly") {
    val tableDir = msSetup
    withRule {
      withConfs("graft.ann.probes" -> "4",
          "graft.ann.maxsim.kPerToken" -> "256", "graft.ann.refine" -> "8",
          "graft.ann.cost.enable" -> "false") {
        val qs = qTokens(3, 71)
        val df = msKjDf(tableDir, qs, 5)
        val plan = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(plan),
          s"maxsim join was NOT served:\n$plan")
        assert(collectKj(df) == bruteMaxsim(tableDir, qs, 5)
          .sortBy(t => (t._1, t._3)))
      }
    }
  }

  test("maxsim join slices bulk query sets and stays exact") {
    val tableDir = msSetup
    withRule {
      withConfs("graft.ann.probes" -> "4",
          "graft.ann.maxsim.kPerToken" -> "256", "graft.ann.refine" -> "8",
          "graft.ann.cost.enable" -> "false",
          "graft.ann.knn.join.maxQueries" -> "2") {
        val qs = qTokens(5, 73) // 3 slices at sliceSize=2
        val jobs0 = AnnTopKRewrite.planningJobs.get()
        val df = msKjDf(tableDir, qs, 4)
        val plan = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(plan),
          s"sliced maxsim join was NOT served:\n$plan")
        // 1 queries-side collect + ceil(5/2)=3 per-slice candidate jobs
        assert(AnnTopKRewrite.planningJobs.get() - jobs0 >= 4)
        assert(collectKj(df) == bruteMaxsim(tableDir, qs, 4)
          .sortBy(t => (t._1, t._3)))
      }
    }
  }

  test("maxsim join planning runs only the batched face's Spark jobs per " +
       "slice (the candidate docs dedupe on the driver)") {
    val tableDir = msSetup
    withRule {
      withConfs("graft.ann.probes" -> "4",
          "graft.ann.maxsim.kPerToken" -> "256", "graft.ann.refine" -> "8",
          "graft.ann.cost.enable" -> "false",
          "graft.ann.knn.join.maxQueries" -> "2") {
        // the first serve after registering loads the index; keep its
        // jobs out of the counts
        msKjDf(tableDir, qTokens(2, 75), 4).queryExecution.optimizedPlan
        def jobs(n: Int): Int = {
          val df = msKjDf(tableDir, qTokens(n, 77), 4)
          val (plan, j) =
            graft.PlanProbes.jobsOf(spark)(df.queryExecution.optimizedPlan)
          assert(AnnTopKRewrite.inServed(plan.toString),
            s"maxsim join was NOT served:\n$plan")
          j
        }
        // per slice: the face's pool job, then its rescore (AQE runs the
        // shuffle map stage and the result stage as two jobs)
        assert(jobs(2) == 3, "one slice")
        assert(jobs(4) == 6, "two slices")
      }
    }
  }

  test("maxsim join declines: mixed condition, indexed partition key, " +
       "empty/null token sets, kill switch") {
    import spark.implicits._
    val tableDir = msSetup
    withRule {
      withConfs("graft.ann.probes" -> "4",
          "graft.ann.maxsim.kPerToken" -> "256", "graft.ann.refine" -> "8",
          "graft.ann.cost.enable" -> "false") {
        val qs = qTokens(2, 79)
        def served(df: org.apache.spark.sql.DataFrame): Boolean =
          AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString)
        assert(served(msKjDf(tableDir, qs, 3)))
        // kill switch shared with the scalar join serve
        withConfs("graft.ann.knn.join.enable" -> "false") {
          assert(!served(msKjDf(tableDir, qs, 3)))
        }
        val qdf = qs.map { case (qid, ts) => (qid, ts.map(_.toSeq)) }
          .toDF("qid", "qtokens")
        val e = spark.read.parquet(tableDir)
        val wSpec = org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(GraftFunctions.vecMaxsim(col("tokens"), col("qtokens")),
            col("doc"))
        // residual condition touching the INDEXED side -> decline (the
        // per-query k-floor breaks); the exact cross join still runs
        val mixed = qdf.join(e, qdf("qid") =!= e("doc"))
          .withColumn("rn", row_number().over(wSpec)).filter(col("rn") <= 3)
        assert(!served(mixed))
        // window partitioned by the INDEXED side is a different operator
        val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc")
          .orderBy(GraftFunctions.vecMaxsim(col("tokens"), col("qtokens")),
            col("doc"))
        val byDoc = qdf.crossJoin(e)
          .withColumn("rn", row_number().over(wDoc)).filter(col("rn") <= 3)
        assert(!served(byDoc))
        // an EMPTY token set scores 0.0 for every doc — a full-table tie
        // the candidate restriction cannot reproduce -> decline
        val withEmpty = (qs :+ (9L, Seq.empty[Array[Float]]))
          .map { case (qid, ts) => (qid, ts.map(_.toSeq)) }
          .toDF("qid", "qtokens")
        val emptyDf = withEmpty.crossJoin(e)
          .withColumn("rn", row_number().over(wSpec)).filter(col("rn") <= 3)
        assert(!served(emptyDf))
        // NULL token sets rank by null maxsim NULLS FIRST -> decline
        val withNull =
          (qs.map { case (qid, ts) => (qid, Some(ts.map(_.toSeq))) } :+
            ((9L, None)))
          .toDF("qid", "qtokens")
        val nullDf = withNull.crossJoin(e)
          .withColumn("rn", row_number().over(wSpec)).filter(col("rn") <= 3)
        assert(!served(nullDf))
      }
    }
  }

  test("maxsim join keeps NULL and EMPTY token docs at their exact window " +
       "ranks (vec_maxsim([], q) = 0.0 — a value, not null)") {
    import spark.implicits._
    val rng = new scala.util.Random(515)
    def tok(): Seq[Float] =
      Seq.tabulate(dim)(i => (if (i == 0) 1f else 0f) + rng.nextFloat() * 0.1f)
    val docs: Seq[(Long, Option[Seq[Seq[Float]]])] =
      (0L until 40L).map(d => d -> Option(Seq.fill(3)(tok()))) ++
        Seq(40L -> Option(Seq.empty[Seq[Float]]), 41L -> Option.empty)
    val tableDir = Files.createTempDirectory("graft-mskj-deg").toString
    docs.toDF("doc", "tokens").write.mode("overwrite").parquet(tableDir)
    val toks = docs.flatMap { case (d, ts) =>
      ts.getOrElse(Seq.empty).zipWithIndex.map { case (t, p) => (d, p, t) }
    }.toDF("doc", "pos", "v")
    val idir = Files.createTempDirectory("graft-mskj-deg-idx").toString
    graft.ops.MaxSim.buildTokenIndex(toks, "doc", "pos", "v", idir,
      IvfConfig(metric = "negdot", lists = 4))
    AnnCatalog.registerMaxSim(tableDir, idir, "doc", "tokens")
    try withRule {
      withConfs("graft.ann.probes" -> "4",
          "graft.ann.maxsim.kPerToken" -> "256", "graft.ann.refine" -> "8",
          "graft.ann.cost.enable" -> "false") {
        // query tokens along -e0: every real doc scores positive, so the
        // exact window ranks (null doc, empty doc) at rn 1-2 per query
        val qs: Seq[(Long, Seq[Array[Float]])] = Seq(0L, 1L).map(q =>
          q -> Seq.fill(2)(Array.tabulate(dim)(i => if (i == 0) -1f else 0f)))
        val df = msKjDf(tableDir, qs, 5)
        val plan = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(plan), s"not served:\n$plan")
        assert(plan.toLowerCase.contains("isnull") && plan.contains("size("),
          s"expected the null+empty keep in the maxsim join restriction:\n$plan")
        val real = docs.collect { case (d, Some(ts)) if ts.nonEmpty =>
          (qs.head._2.map(q => ts.map(t => K.negdot(t.toArray, q)).min).sum, d)
        }
        val top3 = real.sortBy(identity).take(3).map(_._2)
        val want = qs.flatMap { case (qid, _) =>
          Seq((qid, 41L, 1L), (qid, 40L, 2L)) ++
            top3.zipWithIndex.map { case (d, i) => (qid, d, (i + 3).toLong) }
        }.sortBy(t => (t._1, t._3))
        assert(collectKj(df) == want)
      }
    } finally AnnCatalog.unregisterMaxSim(tableDir)
  }

  test("NULL-vector rows on the INDEXED side keep their NULLS FIRST rank " +
       "in the served KNN join (restriction carries `OR vec IS NULL`)") {
    import spark.implicits._
    val rng = new scala.util.Random(173)
    val rows: Seq[(Long, Option[Seq[Float]])] =
      (0L until 300L).map(i => i -> Option(Seq.fill(dim)(rng.nextFloat() * 2 - 1))) ++
        (300L until 303L).map(i => i -> Option.empty[Seq[Float]])
    val tableDir = Files.createTempDirectory("graft-kj-nulls").toString
    rows.toDF("id", "vec").write.mode("overwrite").parquet(tableDir)
    val indexDir = Files.createTempDirectory("graft-kj-nulls-idx").toString
    IvfIndex.build(spark.read.parquet(tableDir), "id", "vec", indexDir,
      IvfConfig(lists = 4))
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    try withRule {
      withConfs("graft.ann.probes" -> "4", "graft.ann.refine" -> "20") {
        val nonNull = spark.read.parquet(tableDir).where("vec is not null")
          .select("id", "vec").as[(Long, Seq[Float])]
          .collect().map { case (i, v) => (i, v.toArray) }
        val byId = nonNull.toMap
        val qs = Seq(3L, 11L).map(i => i -> byId(i))
        val df = kjDf(tableDir, qs, 5)
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(AnnTopKRewrite.inServed(optimized), optimized)
        assert(optimized.toLowerCase.contains("isnull"),
          s"expected the null-ordering keep in the restriction:\n$optimized")
        // EXACT oracle including the nulls: the window's tiebreak is
        // (dist, id), so per query the three null rows rank 1..3 by id,
        // then the true top-2 non-null neighbors
        val fn = graft.ops.Knn.metricFn("l2")
        val want = qs.flatMap { case (qid, q) =>
          val nulls = Seq(300L, 301L, 302L).zipWithIndex
            .map { case (id, i) => (qid, id, (i + 1).toLong) }
          val best = nonNull.map { case (id, v) => (fn(v, q), id) }.sorted
            .take(2).zipWithIndex
            .map { case ((_, id), i) => (qid, id, (i + 4).toLong) }
          nulls ++ best
        }.sortBy(t => (t._1, t._3))
        assert(collectKj(df) == want)
      }
    } finally AnnCatalog.unregister(tableDir)
  }
}
