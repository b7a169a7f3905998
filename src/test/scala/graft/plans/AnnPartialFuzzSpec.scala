package graft.plans

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import graft.functions.GraftFunctions
import graft.index.{IvfConfig, IvfIndex}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * Seeded SOUNDNESS fuzz for the partial-index implication prover: four
 * partial indexes with different predicate shapes (range, equality-set,
 * upper bound, two-sided) are registered on one table, then random
 * query predicates — comparisons, INs, conjunctions, with and without
 * non-x conjuncts — run `ORDER BY metric LIMIT k` with the rule
 * active. The prover may DECLINE true implications (it is deliberately
 * incomplete, like predicate_implied_by), but if it ACCEPTS one, the
 * served rows must equal brute force over the query predicate's true
 * population — an unsound acceptance surfaces as missing rows here.
 */
class AnnPartialFuzzSpec extends SparkSpec {

  private lazy val fixture: (String, Seq[(Long, Seq[Float], Int)]) = {
    import spark.implicits._
    val rng = new scala.util.Random(6607)
    val rows = (0L until 600L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1), (i % 12).toInt))
    val tableDir = Files.createTempDirectory("graft-pfuzz-table").toString
    rows.toDF("id", "vec", "x").write.mode("overwrite").parquet(tableDir)
    val partials = Seq(
      ("x > 5", (x: Int) => x > 5),
      ("x IN (2, 3, 4)", (x: Int) => Set(2, 3, 4)(x)),
      ("x <= 7", (x: Int) => x <= 7),
      ("x > 1 AND x < 10", (x: Int) => x > 1 && x < 10))
    partials.foreach { case (sql, pred) =>
      val d = Files.createTempDirectory("graft-pfuzz-idx").toString
      IvfIndex.build(
        rows.filter(r => pred(r._3)).toDF("id", "vec", "x"),
        "id", "vec", d, IvfConfig(lists = 4))
      AnnCatalog.registerPartial(tableDir, d, "id", "vec", sql)
    }
    (tableDir, rows)
  }

  test("35 seeded query predicates: any implication the prover accepts " +
       "yields brute-exact rows; declines fall back to the exact plan") {
    val (tableDir, rows) = fixture
    val rng = new scala.util.Random(9199)
    val uninstall = AnnTopKRewrite.install(spark)
    try graft.core.Confs.withConfs(spark, "graft.ann.probes" -> "4",
        "graft.ann.refine" -> "50", "graft.ann.cost.enable" -> "false") {
      var served = 0
      var declined = 0
      def atom(): (Column, Int => Boolean) = rng.nextInt(5) match {
        case 0 => val c = rng.nextInt(12); (col("x") > c, x => x > c)
        case 1 => val c = rng.nextInt(12); (col("x") >= c, x => x >= c)
        case 2 => val c = rng.nextInt(12); (col("x") < c, x => x < c)
        case 3 => val c = rng.nextInt(12); (col("x") === c, x => x == c)
        case _ =>
          val s = Seq.fill(1 + rng.nextInt(3))(rng.nextInt(12)).distinct
          (col("x").isin(s.map(Integer.valueOf): _*), x => s.contains(x))
      }
      (1 to 35).foreach { trial =>
        val (c1, p1) = atom()
        val (predCol, predX) =
          if (rng.nextBoolean()) (c1, p1)
          else { val (c2, p2) = atom(); (c1 && c2, (x: Int) => p1(x) && p2(x)) }
        // sometimes add a non-x conjunct (prefilter escalation territory)
        val (finalCol, finalPred): (Column, ((Long, Int)) => Boolean) =
          if (rng.nextInt(3) == 0) {
            val cut = 100 + rng.nextInt(400)
            (predCol && col("id") < cut,
              { case (id, x) => predX(x) && id < cut })
          } else (predCol, { case (_, x) => predX(x) })
        val k = 1 + rng.nextInt(8)
        val q = Array.fill(8)(rng.nextFloat() * 2 - 1)
        val df = spark.read.parquet(tableDir)
          .filter(finalCol)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(k).select("id")
        val planStr = df.queryExecution.optimizedPlan.toString
        if (AnnTopKRewrite.inServed(planStr)) served += 1 else declined += 1
        val got = df.collect().map(_.getLong(0)).toSeq
        val want = rows.filter(r => finalPred((r._1, r._3)))
          .map { case (id, v, _) => (K.l2(v.toArray, q), id) }
          .sorted.take(k).map(_._2).toSeq
        assert(got == want,
          s"trial $trial (k=$k): got=$got want=$want\npred=$finalCol\n$planStr")
      }
      info(s"partial-implication shapes: $served served, $declined declined — all exact")
      // the prover must accept SOMETHING across 35 shapes over 4 indexes
      assert(served > 0 && served + declined == 35)
    } finally {
      uninstall()
      // partials unregister by (table, indexDir); drop them all
      AnnCatalog.lookupPartials(Seq(tableDir)).foreach(pe =>
        AnnCatalog.unregisterPartial(tableDir, pe.entry.indexDir))
    }
  }
}
