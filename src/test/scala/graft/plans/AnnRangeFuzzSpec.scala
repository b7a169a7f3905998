package graft.plans

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import graft.functions.GraftFunctions
import graft.index.{IvfConfig, IvfIndex}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * Seeded RANGE-shape fuzz: random (center, radius-by-rank, conjunct,
 * table-form, budget) sphere filters — standalone and under ORDER BY
 * metric LIMIT k — executed with the rule active and compared against
 * driver-side brute force. Radii are picked as the exact distance of a
 * random RANK (plus half the gap to the next), so selectivity sweeps
 * from needle to broad and the strict-< cutoff can never sit on a row.
 * The invariant is the range serve's whole contract: candidates are a
 * SUPERSET pre-exact-filter, overflow declines to the exact plan, and
 * either way the qualifying set is exact.
 */
class AnnRangeFuzzSpec extends SparkSpec {

  private lazy val fixture: (String, String) = {
    import spark.implicits._
    val rng = new scala.util.Random(2027)
    def rows(n: Int, off: Long) =
      (0L until n.toLong).map(i => (off + i, Seq.fill(8)(rng.nextFloat() * 2 - 1)))
    val flatDir = Files.createTempDirectory("graft-rfuzz-flat").toString
    rows(300, 0).toDF("id", "vec").write.mode("overwrite").parquet(flatDir)
    val flatIdx = Files.createTempDirectory("graft-rfuzz-flatidx").toString
    IvfIndex.build(spark.read.parquet(flatDir), "id", "vec", flatIdx,
      IvfConfig(lists = 4))
    AnnCatalog.register(flatDir, flatIdx, "id", "vec")
    val partDir = Files.createTempDirectory("graft-rfuzz-part").toString
    (0 to 2).foreach { p =>
      rows(150, 1000L + p * 150L).toDF("id", "vec")
        .write.mode("overwrite").parquet(s"$partDir/part=$p")
      val d = Files.createTempDirectory(s"graft-rfuzz-pidx$p").toString
      IvfIndex.build(spark.read.parquet(s"$partDir/part=$p"), "id", "vec", d,
        IvfConfig(lists = 4))
      AnnCatalog.register(s"$partDir/part=$p", d, "id", "vec")
    }
    (flatDir, partDir)
  }

  private def tableRows(dir: String): Array[(Long, Array[Float])] = {
    import spark.implicits._
    spark.read.parquet(dir).select("id", "vec").as[(Long, Seq[Float])]
      .collect().map { case (id, v) => (id, v.toArray) }
  }

  test("30 seeded sphere shapes: qualifying sets exact across serve and " +
       "decline, standalone and under ORDER BY LIMIT") {
    val (flatDir, partDir) = fixture
    val rng = new scala.util.Random(5151)
    val uninstall = AnnTopKRewrite.install(spark)
    try {
      var served = 0
      var declined = 0
      (1 to 30).foreach { trial =>
        val dir = if (rng.nextBoolean()) flatDir else partDir
        val data = tableRows(dir)
        val q = Array.fill(8)(rng.nextFloat() * 2 - 1)
        val ds = data.map { case (id, v) => (K.l2(v, q), id) }.sortBy(_._1)
        // radius at a random rank, split into the gap to the next rank
        val rank = 1 + rng.nextInt(data.length - 2)
        val radius = (ds(rank - 1)._1 + ds(rank)._1) / 2.0
        val wantIds = ds.take(rank).map(_._2).toSet
        val withOrder = rng.nextBoolean()
        val k = 1 + rng.nextInt(math.min(rank, 12))
        val budget = if (rng.nextInt(4) == 0) "5" else "8192"
        graft.core.Confs.withConfs(spark,
            "graft.ann.cost.enable" -> "false",
            "graft.ann.maxInList" -> budget) {
          val base = spark.read.parquet(dir)
            .filter(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq))
              < lit(radius))
          val df =
            if (withOrder)
              base.orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
                .limit(k).select("id")
            else base.select("id")
          val planStr = df.queryExecution.optimizedPlan.toString
          if (AnnTopKRewrite.inServed(planStr)) served += 1 else declined += 1
          val got = df.collect().map(_.getLong(0))
          if (withOrder) {
            val want = ds.take(rank).take(k).map(_._2).toSeq
            assert(got.toSeq == want,
              s"trial $trial ordered (rank=$rank, k=$k, budget=$budget): " +
              s"got=${got.toSeq} want=$want\n$planStr")
          } else {
            assert(got.toSet == wantIds && got.length == wantIds.size,
              s"trial $trial standalone (rank=$rank, budget=$budget): " +
              s"got ${got.length} rows want ${wantIds.size}\n$planStr")
          }
        }
      }
      info(s"sphere shapes: $served served, $declined declined — all exact")
      assert(served > 0 && served + declined == 30)
    } finally {
      uninstall()
      AnnCatalog.unregister(flatDir)
      (0 to 2).foreach(p => AnnCatalog.unregister(s"$partDir/part=$p"))
    }
  }
}
