package graft.plans

import graft.{PlanProbes, SparkSpec}
import graft.core.{VectorKernels => K}
import graft.functions.GraftFunctions
import graft.index.{IvfConfig, IvfIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Project, Sort}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import java.nio.file.Files

/**
 * The served top-k tail: every index family's `ORDER BY dist LIMIT k`
 * serve ends in [[ServedTopK]], planned as [[ServedTopKExec]] (one bare
 * `ann.topk` job). Its rows must equal the Sort+Limit plan Spark would
 * run over the same candidate-restricted child, at the root and under a
 * count, an outer limit, a join and a union.
 */
class ServedTopKExecSpec extends SparkSpec {

  /** 500 rows (id, vec, tag) with an IVF index; 4 of them (ids 7, 77,
    * 177, 277) have a NULL vector when `nulls`. */
  private def fixture(nulls: Boolean): (String, String) = {
    import spark.implicits._
    val rng = new scala.util.Random(if (nulls) 92 else 91)
    val rows = (0L until 500L).map { i =>
      val v = Seq.fill(8)(rng.nextFloat() * 2 - 1)
      (i, if (nulls && Set(7L, 77L, 177L, 277L)(i)) null else v, s"t${i % 7}")
    }
    val tableDir = Files.createTempDirectory("graft-stk-table").toString
    rows.toDF("id", "vec", "tag").write.mode("overwrite").parquet(tableDir)
    val indexDir = Files.createTempDirectory("graft-stk-index").toString
    IvfIndex.build(spark.read.parquet(tableDir), "id", "vec", indexDir, IvfConfig(lists = 8))
    AnnCatalog.register(tableDir, indexDir, "id", "vec")
    (tableDir, indexDir)
  }
  private lazy val clean = fixture(nulls = false)
  private lazy val withNulls = fixture(nulls = true)

  private val q = Array.tabulate(8)(i => (i - 3.5f) / 8)
  private def l2 = GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq))

  private def served[T](f: => T): T = {
    val uninstall = AnnTopKRewrite.install(spark)
    try graft.core.Confs.withConfs(spark, "graft.ann.cost.enable" -> "false",
        "graft.ann.probes" -> "8")(f)
    finally uninstall()
  }

  private def has(p: SparkPlan, cls: Class[_]): Boolean = p.exists(cls.isInstance(_))

  /** The rows of the Sort+Limit(+Project) plan over the served plan's own
    * restricted child: what Spark would run for the same candidates. It
    * plans with the rule off: Spark's own rewrites drop the served
    * Filter's stamp, and the rule would serve its own output again. */
  private def sortLimitOf(df: DataFrame): Seq[Row] = {
    val s = df.queryExecution.optimizedPlan.collectFirst { case s: ServedTopK => s }
      .getOrElse(fail(s"not served:\n${df.queryExecution.optimizedPlan}"))
    graft.core.Confs.withConfs(spark, "graft.ann.enable" -> "false") {
      val ref = ColumnBridge.ofRows(spark, GlobalLimit(Literal(s.k), LocalLimit(Literal(s.k),
        Project(s.projectList, Sort(s.order, global = true, s.child)))))
      assert(has(ref.queryExecution.executedPlan, classOf[TakeOrderedAndProjectExec]),
        ref.queryExecution.executedPlan)
      ref.collect().toSeq
    }
  }

  /** Same rows; NULL-key ties may come in any order, so the ranks are
    * compared by key and the rows as a set. */
  private def sameRows(got: Seq[Row], want: Seq[Row], key: Row => Any): Unit = {
    assert(got.map(key) == want.map(key), s"got $got\nwant $want")
    assert(got.toSet == want.toSet, s"got $got\nwant $want")
  }

  test("(a) served IVF, graph and MaxSim top-k plan as ServedTopKExec; declined " +
       "and disabled plans keep TakeOrderedAndProjectExec") {
    import spark.implicits._
    val (tableDir, _) = clean
    served {
      def plan() = spark.read.parquet(tableDir).orderBy(l2).limit(10).select("id")
        .queryExecution.executedPlan
      assert(has(plan(), classOf[ServedTopKExec]), plan())
      graft.core.Confs.withConfs(spark, "graft.ann.enable" -> "false") {
        assert(has(plan(), classOf[TakeOrderedAndProjectExec]))
        assert(!has(plan(), classOf[ServedTopKExec]))
      }
      // the cost model declines when k·refine covers every row
      graft.core.Confs.withConfs(spark, "graft.ann.cost.enable" -> "true",
          "graft.ann.refine" -> "100") {
        assert(has(plan(), classOf[TakeOrderedAndProjectExec]), plan())
      }
    }
    // graph tier over an unregistered-IVF copy of the table
    val gTable = Files.createTempDirectory("graft-stk-gtable").toString
    spark.read.parquet(tableDir).write.mode("overwrite").parquet(gTable)
    val gDir = Files.createTempDirectory("graft-stk-graph").toString
    graft.index.VamanaGraph.build(spark.read.parquet(gTable), "id", "vec",
      graft.index.VamanaConfig()).save(spark, gDir)
    AnnCatalog.registerGraph(gTable, gDir, "id", "vec")
    try served {
      val df = spark.read.parquet(gTable).orderBy(l2).limit(10).select("id")
      assert(has(df.queryExecution.executedPlan, classOf[ServedTopKExec]))
      assert(df.collect().toSeq == sortLimitOf(df))
    } finally AnnCatalog.unregisterGraph(gTable)
    // MaxSim token index
    val rng = new scala.util.Random(55)
    def tok(): Seq[Float] = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    val docs = (0L until 100L).map(i => i -> Seq(tok(), tok()))
    val msTable = Files.createTempDirectory("graft-stk-ms").toString
    docs.toDF("doc", "tokens").write.mode("overwrite").parquet(msTable)
    val msDir = Files.createTempDirectory("graft-stk-msidx").toString
    graft.ops.MaxSim.buildTokenIndex(docs.flatMap { case (id, ts) =>
        ts.zipWithIndex.map { case (t, p) => (id, p, t) } }.toDF("doc", "pos", "v"),
      "doc", "pos", "v", msDir,
      IvfConfig(metric = "negdot", lists = 4, residual = false))
    AnnCatalog.registerMaxSim(msTable, msDir, "doc", "tokens")
    try served {
      graft.core.Confs.withConfs(spark, "graft.ann.maxsim.kPerToken" -> "200") {
        val df = spark.read.parquet(msTable)
          .orderBy(GraftFunctions.vecMaxsim(col("tokens"), typedlit(docs(37)._2))).limit(5)
        assert(has(df.queryExecution.executedPlan, classOf[ServedTopKExec]))
        assert(df.collect().toSeq == sortLimitOf(df))
      }
    } finally AnnCatalog.unregisterMaxSim(msTable)
  }

  test("(b) rows equal the Sort+Limit plan: computed projection, NULL vectors " +
       "ranked first, key-only prefilter, fewer candidates than k") {
    val (tableDir, _) = clean
    val (nullDir, _) = withNulls
    served {
      GraftFunctions.registerAll(spark)
      spark.read.parquet(tableDir).createOrReplaceTempView("stk_tbl")
      val qSql = q.map(_.toString).mkString("array(", "F, ", "F)")
      val computed = spark.sql(
        s"""SELECT id, round(vec_l2(vec, $qSql), 3) AS d FROM (
           |  SELECT id, vec FROM stk_tbl ORDER BY vec_l2(vec, $qSql) LIMIT 10)""".stripMargin)
      val s = computed.queryExecution.optimizedPlan.collectFirst { case s: ServedTopK => s }
      assert(s.exists(_.projectList.exists(_.isInstanceOf[Alias])), computed.queryExecution.optimizedPlan)
      val got = computed.collect().toSeq
      assert(got == sortLimitOf(computed))
      val data = spark.read.parquet(tableDir).select("id", "vec").collect()
        .map(r => (K.l2(r.getSeq[Float](1).toArray, q), r.getLong(0))).sorted
      assert(got.map(_.getLong(0)) == data.take(10).map(_._2).toSeq)
      spark.catalog.dropTempView("stk_tbl")

      graft.core.Confs.withConfs(spark, "graft.ann.topk.keepNulls" -> "true") {
        val rows = spark.read.parquet(nullDir).orderBy(l2).limit(10)
          .select(col("id"), l2.as("d")).collect().toSeq
        assert(rows.take(4).forall(_.isNullAt(1)) && rows.drop(4).forall(!_.isNullAt(1)), rows)
        assert(rows.take(4).map(_.getLong(0)).toSet == Set(7L, 77L, 177L, 277L))
        val plain = spark.read.parquet(nullDir).orderBy(l2).limit(10)
        assert(has(plain.queryExecution.executedPlan, classOf[ServedTopKExec]))
        sameRows(plain.collect().toSeq, sortLimitOf(plain),
          r => Option(r.getSeq[Float](1)).map(v => K.l2(v.toArray, q)))
      }

      val keyOnly = spark.read.parquet(tableDir).filter(col("id") % 3 === 0)
        .orderBy(l2).limit(10).select("id", "tag")
      assert(keyOnly.collect().toSeq == sortLimitOf(keyOnly))
      assert(keyOnly.collect().forall(_.getLong(0) % 3 == 0))

      val few = spark.read.parquet(tableDir).filter(col("id") >= 495)
        .orderBy(l2).limit(10).select("id")
      val fewRows = few.collect().toSeq
      assert(fewRows.map(_.getLong(0)).sorted == (495L until 500L))
      assert(fewRows == sortLimitOf(few))
    }
  }

  test("(c) count, an outer limit, a join and a union over a served top-k " +
       "equal the exact plan") {
    val (tableDir, _) = clean
    def topk(k: Int) = spark.read.parquet(tableDir).orderBy(l2).limit(k).select("id", "vec")
    val tags = spark.read.parquet(tableDir).select("id", "tag")
    def shapes(): Seq[(String, () => Seq[Row])] = Seq(
      "count" -> (() => Seq(Row(topk(10).count()))),
      "limit" -> (() => topk(10).limit(3).select("id").collect().toSeq),
      "join" -> (() => topk(10).join(tags, "id").select("id", "tag").orderBy("id")
        .collect().toSeq),
      "union" -> (() => topk(4).select("id").union(topk(6).select("id")).orderBy("id")
        .collect().toSeq))
    val exact = graft.core.Confs.withConfs(spark, "graft.ann.enable" -> "false") {
      shapes().map { case (n, f) => n -> f() }
    }
    served {
      assert(topk(10).join(tags, "id").queryExecution.optimizedPlan
        .exists(_.isInstanceOf[ServedTopK]))
      shapes().zip(exact).foreach { case ((n, f), (_, want)) =>
        assert(f() == want, s"$n differs from the exact plan")
      }
    }
  }

  test("(d) a served collect runs one Spark job, `ann.topk`; a filtered IVF " +
       "query's planning jobs carry their step names") {
    val (tableDir, _) = clean
    served {
      val df = spark.read.parquet(tableDir).orderBy(l2).limit(10).select("id")
      df.queryExecution.executedPlan
      val (_, descs) = PlanProbes.jobDescsOf(spark)(df.collect())
      assert(descs == Seq("ann.topk"))

      val filtered = spark.read.parquet(tableDir)
        .filter(col("id") % 3 === 0 && element_at(col("vec"), 1) > 0f)
        .orderBy(l2).limit(10).select("id")
      val (_, all) = PlanProbes.jobDescsOf(spark) {
        filtered.queryExecution.executedPlan
        filtered.collect()
      }
      assert(all.contains("ivf.pool") && all.contains("ann.survivors"), all)
      assert(all.last == "ann.topk" && all.count(_ == "ann.topk") == 1, all)
    }
  }

  test("(e) the served scan reads the same columns as the Sort+Limit serve did") {
    val (tableDir, _) = clean
    served {
      def readOf(df: => DataFrame): Seq[Set[String]] =
        PlanProbes.scansOf(spark, tableDir)(df.queryExecution.executedPlan)._2
      assert(readOf(spark.read.parquet(tableDir).orderBy(l2).limit(10).select("id")) ==
        Seq(Set("id", "vec")))
      assert(readOf(spark.read.parquet(tableDir).orderBy(l2).limit(10)) ==
        Seq(Set("id", "vec", "tag")))
      assert(readOf(spark.read.parquet(tableDir).orderBy(l2).limit(10)
        .select(col("id"), col("tag"), round(l2, 3).as("d"))) == Seq(Set("id", "vec", "tag")))
    }
  }
}
