package graft.queries

import graft.SparkSpec

class LabelCentroidsSpec extends SparkSpec {

  test("labelCentroids takes its dimensionality from the data: a 32-dim table") {
    import spark.implicits._
    val rng = new scala.util.Random(32)
    val rows = (0 until 60).map(i => (i % 3, Seq.fill(32)(rng.nextFloat())))
    val got = GraftQueries.labelCentroids(rows.toDF("label", "embedding"))
    assert(got.length == 3 && got.forall(_.length == 32))
    (0 until 3).foreach { l =>
      val members = rows.filter(_._1 == l).map(_._2)
      (0 until 32).foreach { j =>
        val want = (members.map(_(j).toDouble).sum / members.length).toFloat
        assert(math.abs(got(l)(j) - want) <= 1e-6f, s"label $l dim $j: ${got(l)(j)} vs $want")
      }
    }
  }

  test("labelCentroids fails loudly on ragged embedding lengths") {
    import spark.implicits._
    val within = Seq((0, Seq.fill(32)(1f)), (0, Seq.fill(16)(1f))).toDF("label", "embedding")
    intercept[IllegalArgumentException](GraftQueries.labelCentroids(within))
    val across = Seq((0, Seq.fill(32)(1f)), (1, Seq.fill(16)(1f))).toDF("label", "embedding")
    intercept[IllegalArgumentException](GraftQueries.labelCentroids(across))
  }
}
