package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, typedlit}

/**
 * Shared many-root planning fixture: an R-child partitioned table
 * (rowsPerRoot x 8-dim rows per child, deterministic seed) with one
 * lists=4 index per child, cached in tmpdir across runs, and a timed
 * optimizer pass producing the served plan. ONE implementation so the
 * standing bench key (`ScaleProbe`'s `_scale_manyroot8_plan`) and the
 * batched-face keys cannot silently measure different things (the
 * width sweep's figures are in COVERAGE.md).
 */
object ManyRootFixture {

  /** Ensure the R-child table + per-child indexes exist on disk (cached
    * in tmpdir across runs); returns (tableDir, per-child index dirs).
    * Shared by [[planRuns]] and the batched-face bench keys so every
    * many-root number measures the SAME fixture. */
  def ensureFixture(spark: SparkSession, roots: Int, rowsPerRoot: Int = 2000,
                    lists: Int = 4): (String, Seq[String]) = {
    import spark.implicits._
    val base =
      s"${sys.props("java.io.tmpdir")}/graft-manyroot-$roots-$rowsPerRoot-l$lists"
    val tableDir = s"$base-table"
    val fresh = !java.nio.file.Files.exists(java.nio.file.Paths.get(tableDir))
    if (fresh) {
      val rng = new scala.util.Random(181)
      (0 until roots).foreach { p =>
        (0L until rowsPerRoot.toLong)
          .map(i => (p.toLong * rowsPerRoot + i, Seq.fill(8)(rng.nextFloat() * 2 - 1)))
          .toDF("id", "vec")
          .write.mode("overwrite").parquet(s"$tableDir/part=$p")
      }
    }
    val idxDirs = (0 until roots).map { p =>
      val d = s"$base-idx$p"
      if (fresh || !java.nio.file.Files.exists(java.nio.file.Paths.get(d, "CURRENT")))
        graft.index.IvfIndex.build(spark.read.parquet(s"$tableDir/part=$p"),
          "id", "vec", d, graft.index.IvfConfig(lists = lists))
      d
    }
    (tableDir, idxDirs)
  }

  /** Warm once (index loads, cover memo, codegen), then time `runs`
    * optimizer passes over the whole-table top-k query; children are
    * registered in [[graft.plans.AnnCatalog]] for the duration and
    * always unregistered. Returns the per-run seconds. */
  def planRuns(spark: SparkSession, roots: Int, rowsPerRoot: Int = 2000,
               runs: Int = 3, lists: Int = 4): Seq[Double] = {
    import spark.implicits._
    val (tableDir, idxDirs) = ensureFixture(spark, roots, rowsPerRoot, lists)
    (0 until roots).foreach { p =>
      graft.plans.AnnCatalog.register(s"$tableDir/part=$p", idxDirs(p), "id", "vec")
    }
    // a rule the caller registered stays (install leaves it in place)
    val uninstall = graft.plans.AnnTopKRewrite.install(spark)
    try graft.core.Confs.withConfs(spark, "graft.ann.cost.enable" -> "false") {
      val q = Array.fill(8)(0.15f)
      def planOnce(): Double = {
        val df = spark.read.parquet(tableDir)
          .orderBy(graft.functions.GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(10).select("id")
        val t = System.nanoTime()
        val plan = df.queryExecution.optimizedPlan
        val sec = (System.nanoTime() - t) / 1e9
        require(graft.plans.AnnTopKRewrite.inServed(plan.toString), s"$roots-root query not served")
        sec
      }
      planOnce() // warm
      (1 to runs).map(_ => planOnce())
    } finally {
      uninstall()
      (0 until roots).foreach(p =>
        graft.plans.AnnCatalog.unregister(s"$tableDir/part=$p"))
    }
  }
}
