package graft.tools

import org.apache.spark.sql.SparkSession
import graft.index.{IvfIndex, IvfConfig}

/** Prints the physical plan of the ANN estimate scan so partition
  * pruning (PartitionFilters on cluster_id) and column pruning
  * (ReadSchema without vec) stay verifiable after refactors. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rng = new scala.util.Random(1)
    val df = (0L until 2000L).map(i => (i, Seq.fill(16)(rng.nextFloat()))).toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("graft-audit").toString
    val idx = IvfIndex.build(df, "id", "vec", dir, IvfConfig(lists = 16))
    val q = Array.fill(16)(0.5f)
    val res = idx.search(q, 5, probes = 4)
    res.collect()
    // re-run and capture the executed estimate plan via explain of the
    // same shape the search builds internally
    spark.sparkContext.setLogLevel("ERROR")
    println("=== estimate-scan plan (codes path, probe filter) ===")
    val est = spark.read.parquet(s"$dir/gen-0")
      .select("cluster_id", "id", "cmeta", "codes")
      .filter(IvfIndex.inCells(idx.probe(q, 4)))
    est.explain("formatted")
    spark.stop()
  }
}
