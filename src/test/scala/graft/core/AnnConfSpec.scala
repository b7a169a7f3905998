package graft.core

import graft.SparkSpec

/**
 * [[AnnConf]] is the one home of every `graft.ann.*` key and default:
 * the README's session-conf table must list each key with the row
 * [[AnnConf.markdownRows]] generates (paste the rows this spec prints
 * when a key is added or a default moves), and each key keeps its
 * malformed-value handling.
 */
class AnnConfSpec extends SparkSpec {

  test("README conf table lists every AnnConf key with its default") {
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    val lines = try readme.getLines().toSet finally readme.close()
    val missing = AnnConf.markdownRows.filterNot(lines.contains)
    assert(missing.isEmpty,
      s"README.md conf table is out of date; expected rows:\n" +
        AnnConf.markdownRows.mkString("\n"))
    assert(AnnConf.all.map(_.name).distinct.size == AnnConf.all.size)
  }

  test("malformed values: budget keys fall back to their default, the " +
       "rest fail loudly, keepNulls reads anything else as auto") {
    Confs.withConfs(spark, AnnConf.BatchMaxPoolTuples.name -> "lots",
        AnnConf.MaxsimMaxPoolTuples.name -> "",
        AnnConf.MaxInList.name -> "many",
        AnnConf.TopkKeepNulls.name -> "sometimes") {
      val c = AnnConf(spark)
      assert(c.batchMaxPoolTuples == 4000000L)
      assert(c.maxsimMaxPoolTuples == 4000000L)
      assert(c.keepNulls == "sometimes")
      intercept[NumberFormatException](c.maxInList)
    }
    // a snapshot reads each key once: later session changes do not leak
    // into a planner pass already under way
    val c = AnnConf(spark)
    assert(c.refine == 8 && c.probesFor(16) == 4 && c.probesFor(17) == 5)
    Confs.withConfs(spark, AnnConf.Refine.name -> "3",
        AnnConf.Probes.name -> "2") {
      assert(c.refine == 8)
      assert(AnnConf(spark).refine == 3 && AnnConf(spark).probesFor(64) == 2)
    }
  }

  test("lenient budget keys: unset and malformed read the default, a set " +
       "value is read") {
    val k = AnnConf.FlatDirectCollectMax
    val prev = spark.conf.getOption(k.name)
    spark.conf.unset(k.name)
    try {
      assert(AnnConf(spark).flatDirectCollectMax == 4000000L)
      Confs.withConfs(spark, k.name -> "12x") {
        assert(AnnConf(spark).flatDirectCollectMax == 4000000L)
      }
      Confs.withConfs(spark, k.name -> "12") {
        assert(AnnConf(spark).flatDirectCollectMax == 12L)
      }
    } finally prev.foreach(spark.conf.set(k.name, _))
  }
}
