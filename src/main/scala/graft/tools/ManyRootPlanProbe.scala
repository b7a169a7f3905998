package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * Many-root planning-latency anchor for the partitioned-table serve
 * (COVERAGE planner narrative; reference per-partition indexes,
 * tests/vchordrq/partition.slt): a date-partitioned corpus with R
 * children, one index per child, measures how long the OPTIMIZER takes
 * to produce the served plan (optimizedPlan materialization — the pool
 * job runs inside it) as R grows. Fixture + timing logic live in
 * [[ManyRootFixture]], shared with `ScaleProbe`'s standing bench key.
 *
 * Round-11 baseline (per-root union-of-frames pool, one job): 0.44 s at
 * 4 roots, 0.55 at 8, 1.16 at 16, 3.09 at 32 — linear in R from
 * Catalyst analyzing R union branches + R per-index reads. The flat
 * multi-root read (IvfIndex.multiEstimateCandidates: ONE relation over
 * every root's probed cluster dirs) is what this probe grades —
 * round-12 measured 0.11/0.10/0.09/0.23/0.59/1.08 s at
 * 4/8/16/32/128/256 roots. Round 13 replaced the per-plan dir
 * existence walk + spark.read re-listing with cached per-root file
 * listings feeding a StaticFileIndex relation: 0.11/0.11/0.09/0.09/
 * 0.17/0.29 s at the same widths (lists=4), and at the realistic
 * lists=64 width 0.35 s at 64 roots (512 probed dirs/plan, was 1.30)
 * and 0.85 s at 256 roots (2048 dirs) — the planning side is ~0.12 s
 * flat; the remainder is the pool job reading the probed cells.
 *
 *   java -Xmx16g -cp target/scala-2.13/classes:/opt/spark/jars/'*' \
 *     graft.tools.ManyRootPlanProbe 4,8,16,32,128
 */
object ManyRootPlanProbe {
  def main(args: Array[String]): Unit = {
    val widths = (if (args.nonEmpty) args(0) else "4,8,16,32,128")
      .split(",").map(_.trim.toInt)
    val rowsPerRoot = sys.env.getOrElse("SPARK_GRAFT_ROOT_ROWS", "2000").toInt
    // per-child index width: real date-partitioned children carry
    // hundreds of cells, and the flat read lists R x probes(lists) dirs
    // per plan — SPARK_GRAFT_ROOT_LISTS grades that dir-listing cost
    val lists = sys.env.getOrElse("SPARK_GRAFT_ROOT_LISTS", "4").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def say(s: String): Unit = System.err.println(s"[manyroot] $s")
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    widths.foreach { r =>
      val times = ManyRootFixture.planRuns(spark, r, rowsPerRoot, lists = lists)
      val best = times.min
      out(s"plan_roots_$r") = best
      say(f"roots=$r%3d planning ${best}%.3f s (runs: ${times.map(t => f"$t%.3f").mkString(", ")})")
    }
    val json = out.map { case (k, v) => s""""$k":${math.round(v * 1000) / 1000.0}""" }
      .mkString("{", ",", "}")
    println(json)
    spark.stop()
  }
}
