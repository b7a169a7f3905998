package graft.plans

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * Seeded GRAPH-serve fuzz: random (k, query, ef, table-form) ORDER BY
 * metric LIMIT shapes over single and partitioned driver-tier Vamana
 * graphs, compared against driver-side brute force. With ef spanning
 * the whole (small) corpus the beam is exhaustive, so serves run in the
 * exact regime — any mismatch is serve plumbing, not beam slack; tiny
 * ef trials only assert the k-row shape and that declined plans stay
 * exact. Deterministic: fixed seeds, fixed fixture.
 */
class AnnGraphFuzzSpec extends SparkSpec {

  private lazy val fixture: (String, String) = {
    import spark.implicits._
    val rng = new scala.util.Random(4451)
    def rows(n: Int, off: Long) =
      (0L until n.toLong).map(i => (off + i, Seq.fill(8)(rng.nextFloat() * 2 - 1)))
    val flatDir = Files.createTempDirectory("graft-gfuzz-flat").toString
    rows(250, 0).toDF("id", "vec").write.mode("overwrite").parquet(flatDir)
    val gd = Files.createTempDirectory("graft-gfuzz-flatg").toString
    graft.index.VamanaGraph
      .build(spark.read.parquet(flatDir), "id", "vec", graft.index.VamanaConfig())
      .save(spark, gd)
    AnnCatalog.registerGraph(flatDir, gd, "id", "vec")
    val partDir = Files.createTempDirectory("graft-gfuzz-part").toString
    (0 to 1).foreach { p =>
      rows(120, 1000L + p * 120L).toDF("id", "vec")
        .write.mode("overwrite").parquet(s"$partDir/part=$p")
      val d = Files.createTempDirectory(s"graft-gfuzz-pg$p").toString
      graft.index.VamanaGraph
        .build(spark.read.parquet(s"$partDir/part=$p"), "id", "vec",
          graft.index.VamanaConfig())
        .save(spark, d)
      AnnCatalog.registerGraph(s"$partDir/part=$p", d, "id", "vec")
    }
    (flatDir, partDir)
  }

  test("25 seeded graph shapes: exhaustive-ef serves are brute-exact; " +
       "small-ef serves still emit k valid rows through the exact Sort") {
    import spark.implicits._
    val (flatDir, partDir) = fixture
    val rng = new scala.util.Random(6006)
    val uninstall = AnnTopKRewrite.install(spark)
    try graft.core.Confs.withConfs(spark, "graft.ann.cost.enable" -> "false") {
      var exhaustive = 0
      (1 to 25).foreach { trial =>
        val dir = if (rng.nextBoolean()) flatDir else partDir
        val k = 1 + rng.nextInt(10)
        val q = Array.fill(8)(rng.nextFloat() * 2 - 1)
        val bigEf = rng.nextInt(3) > 0 // 2/3 exhaustive, 1/3 tight beams
        val ef = if (bigEf) 400 else 8 + rng.nextInt(24)
        graft.core.Confs.withConfs(spark, "graft.ann.efSearch" -> ef.toString) {
          val df = spark.read.parquet(dir)
            .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
            .limit(k).select("id")
          val planStr = df.queryExecution.optimizedPlan.toString
          assert(AnnTopKRewrite.inServed(planStr),
            s"trial $trial: graph shape must serve\n$planStr")
          val got = df.collect().map(_.getLong(0)).toSeq
          val data = spark.read.parquet(dir).select("id", "vec")
            .as[(Long, Seq[Float])].collect()
          val want = data.map { case (id, v) => (K.l2(v.toArray, q), id) }
            .sorted.take(k).map(_._2).toSeq
          if (bigEf) {
            exhaustive += 1
            assert(got == want,
              s"trial $trial (k=$k, ef=$ef): got=$got want=$want\n$planStr")
          } else {
            // tight beam: k rows, all real ids, exactly ordered among
            // the surfaced set (the plan's own Sort reranks true dists)
            assert(got.length == k && got.toSet.subsetOf(data.map(_._1).toSet))
            val gotDists = got.map(id =>
              K.l2(data.find(_._1 == id).get._2.toArray, q))
            assert(gotDists == gotDists.sorted,
              s"trial $trial: surfaced rows must be exactly ordered")
          }
        }
      }
      info(s"graph shapes: $exhaustive exhaustive-exact of 25 — all pass")
      assert(exhaustive > 0)
    } finally {
      uninstall()
      AnnCatalog.unregisterGraph(flatDir)
      (0 to 1).foreach(p => AnnCatalog.unregisterGraph(s"$partDir/part=$p"))
    }
  }
}
