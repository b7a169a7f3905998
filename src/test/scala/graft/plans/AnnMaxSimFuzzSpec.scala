package graft.plans

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * Seeded MAXSIM-shape fuzz: random (query-token-count, k, table-form,
 * budget) `ORDER BY @# LIMIT k` shapes over single-table and
 * partitioned token indexes, compared against driver-side brute maxsim.
 * kPerToken covers every token row and probes every cell, so serves run
 * in the exact regime; strangled budgets must decline to the exact plan
 * with identical rows either way.
 */
class AnnMaxSimFuzzSpec extends SparkSpec {

  private lazy val fixture: (String, String, Seq[(Long, Seq[Seq[Float]])]) = {
    import spark.implicits._
    val rng = new scala.util.Random(887)
    def tok(): Seq[Float] = Seq.fill(8)(rng.nextFloat() * 2 - 1)
    val docs = (0L until 160L).map(i =>
      i -> Seq.fill(2 + (i % 2).toInt)(tok()))
    def buildFor(sel: Long => Boolean, tableDir: String, idxDir: String,
                 tag: String): Unit = {
      val part = docs.filter { case (id, _) => sel(id) }
      part.toDF("doc", "tokens").write.mode("overwrite").parquet(tableDir)
      val toks = part.flatMap { case (id, ts) =>
        ts.zipWithIndex.map { case (t, p) => (id, p, t) }
      }.toDF("doc", "pos", "v")
      graft.ops.MaxSim.buildTokenIndex(toks, "doc", "pos", "v", idxDir,
        graft.index.IvfConfig(metric = "negdot", lists = 4, residual = false))
    }
    val flatDir = Files.createTempDirectory("graft-msfuzz-flat").toString
    val flatIdx = Files.createTempDirectory("graft-msfuzz-flatidx").toString
    buildFor(_ => true, flatDir, flatIdx, "flat")
    AnnCatalog.registerMaxSim(flatDir, flatIdx, "doc", "tokens")
    val partDir = Files.createTempDirectory("graft-msfuzz-part").toString
    (0 to 1).foreach { p =>
      val d = Files.createTempDirectory(s"graft-msfuzz-pidx$p").toString
      buildFor(id => id % 2 == p, s"$partDir/part=$p", d, s"p$p")
      AnnCatalog.registerMaxSim(s"$partDir/part=$p", d, "doc", "tokens")
    }
    (flatDir, partDir, docs)
  }

  test("20 seeded maxsim shapes: rows == brute maxsim across single and " +
       "partitioned serves, and under forced declines") {
    val (flatDir, partDir, docs) = fixture
    val rng = new scala.util.Random(7373)
    val uninstall = AnnTopKRewrite.install(spark)
    try {
      var served = 0
      var declined = 0
      (1 to 20).foreach { trial =>
        val dir = if (rng.nextBoolean()) flatDir else partDir
        val k = 1 + rng.nextInt(8)
        val nq = 1 + rng.nextInt(3)
        val query = Seq.fill(nq)(Seq.fill(8)(rng.nextFloat() * 2 - 1))
        // strangle either the IN budget or the driver pool sometimes
        val (budgetKey, budgetVal) = rng.nextInt(5) match {
          case 0 => ("graft.ann.maxInList", "2")
          case 1 => ("graft.ann.maxsim.maxPoolTuples", "3")
          case _ => ("graft.ann.maxInList", "8192")
        }
        graft.core.Confs.withConfs(spark, "graft.ann.probes" -> "4",
            "graft.ann.refine" -> "50",
            "graft.ann.maxsim.kPerToken" -> "600",
            "graft.ann.cost.enable" -> "false",
            budgetKey -> budgetVal) {
          val df = spark.read.parquet(dir)
            .orderBy(GraftFunctions.vecMaxsim(col("tokens"), typedlit(query)))
            .limit(k).select("doc")
          val planStr = df.queryExecution.optimizedPlan.toString
          if (AnnTopKRewrite.inServed(planStr)) served += 1 else declined += 1
          val got = df.collect().map(_.getLong(0)).toSeq
          val qArr = query.map(_.toArray).toArray
          val want = docs
            .map { case (id, ts) => (K.maxsim(ts.map(_.toArray).toArray, qArr), id) }
            .sorted.take(k).map(_._2).toSeq
          assert(got == want,
            s"trial $trial (dir=${dir.takeRight(6)}, k=$k, nq=$nq, " +
            s"$budgetKey=$budgetVal):\n got=$got\nwant=$want\n$planStr")
        }
      }
      info(s"maxsim shapes: $served served, $declined declined — all exact")
      assert(served > 0 && served + declined == 20)
    } finally {
      uninstall()
      AnnCatalog.unregisterMaxSim(flatDir)
      (0 to 1).foreach(p => AnnCatalog.unregisterMaxSim(s"$partDir/part=$p"))
    }
  }
}
