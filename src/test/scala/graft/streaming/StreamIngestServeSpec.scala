package graft.streaming

import graft.SparkSpec
import graft.functions.GraftFunctions
import graft.index.{IvfConfig, IvfIndex}
import graft.plans.{AnnCatalog, AnnTopKRewrite}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/**
 * The production serving pattern end-to-end: continuous streaming ingest
 * into one child of a PARTITIONED corpus while the planner keeps serving
 * whole-table `ORDER BY metric LIMIT k` reads. Each micro-batch
 * delta-appends into the CATALOG's live index instance (mutations bump
 * -> the flat read's listing caches refresh), a compaction cycle flips
 * the generation mid-stream (pointer-keyed caches refresh), and rows are
 * written index-FIRST, table-second — index-ahead-of-table is the safe
 * ordering (surplus candidate ids are dropped by the table filter;
 * table-ahead-of-index would lose rows, which is the register() caller
 * contract, not a serve bug).
 */
class StreamIngestServeSpec extends SparkSpec {

  test("micro-batch ingest into one child: whole-table planner serves " +
       "reflect every batch, across delta appends AND a compaction flip") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(77)
    // base corpus far from the probe query (all components in [1, 1.5])
    def far() = Seq.fill(8)(rng.nextFloat() * 0.5f + 1.0f)
    val tableDir =
      java.nio.file.Files.createTempDirectory("graft-sis-table").toString
    val idxDirs = (0 to 1).map { p =>
      (0L until 200L).map(i => (p * 1000L + i, far()))
        .toDF("id", "vec")
        .write.mode("overwrite").parquet(s"$tableDir/part=$p")
      val d = java.nio.file.Files
        .createTempDirectory(s"graft-sis-idx$p").toString
      IvfIndex.build(spark.read.parquet(s"$tableDir/part=$p"), "id", "vec",
        d, IvfConfig(lists = 4))
      AnnCatalog.register(s"$tableDir/part=$p", d, "id", "vec")
      d
    }
    val rule = AnnTopKRewrite(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    // ingest through the CATALOG's instance — the one the serves use
    val entry = AnnCatalog.resolve(spark, Seq(s"$tableDir/part=0"), Nil,
      Seq(AnnCatalog.Kind.Ivf)).get.entries.head
    val liveIdx = AnnCatalog.index(spark, entry)
    val input = MemoryStream[(Long, Seq[Float])]
    val query = StreamOps.indexIngest(input.toDF().toDF("id", "vec"),
      "id", "vec", liveIdx, compactEvery = 2)
    try graft.core.Confs.withConfs(spark, "graft.ann.probes" -> "4",
        "graft.ann.refine" -> "50", "graft.ann.cost.enable" -> "false") {
      val q = Array.fill(8)(0.0f)
      def servedTop(k: Int): Seq[Long] = {
        val df = spark.read.parquet(tableDir)
          .orderBy(GraftFunctions.vecL2(col("vec"), typedlit(q.toSeq)))
          .limit(k).select("id")
        assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
          "whole-table read must stay planner-served throughout ingest")
        df.collect().map(_.getLong(0)).toSeq
      }
      def ingestAndLand(rows: (Long, Seq[Float])*): Unit = {
        input.addData(rows: _*)
        query.processAllAvailable() // index first...
        rows.map { case (id, v) => (id, v) }.toDF("id", "vec")
          .withColumn("part", lit(0))
          .write.mode("append").partitionBy("part")
          .parquet(tableDir) // ...then the table
      }
      servedTop(3) // baseline serve over the pre-ingest corpus
      // batch 0: two near-query rows -> must surface immediately
      ingestAndLand(9000L -> Seq.fill(8)(0.02f), 9001L -> Seq.fill(8)(0.03f))
      assert(servedTop(2) == Seq(9000L, 9001L),
        "first delta batch missing from the next whole-table serve")
      // batch 1, then batch 2 triggers compactEvery=2 -> generation flip
      ingestAndLand(9002L -> Seq.fill(8)(0.01f))
      assert(servedTop(3) == Seq(9002L, 9000L, 9001L))
      ingestAndLand(9003L -> Seq.fill(8)(0.005f))
      assert(servedTop(4) == Seq(9003L, 9002L, 9000L, 9001L),
        "rows must survive the mid-stream compaction generation flip")
    } finally {
      query.stop()
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filter(r => !(r eq rule))
      (0 to 1).foreach(p => AnnCatalog.unregister(s"$tableDir/part=$p"))
    }
  }
}
