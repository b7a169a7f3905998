package graft.index

import graft.SparkSpec
import graft.core.{VectorKernels => K}

/**
 * Batched multi-graph search ([[VamanaGraph.searchManyMulti]]): B
 * queries x R driver-resident graphs, output equal to brute force over
 * the union corpus at full-beam budgets — exact tier, quantized +
 * rerank-in-table, colliding-id fold, and loud refusals.
 */
class GraphSearchManyMultiSpec extends SparkSpec {

  private def corpus(n: Int, off: Long, seed: Int): Array[(Long, Array[Float])] = {
    val rng = new scala.util.Random(seed)
    Array.tabulate(n)(i => (off + i, Array.fill(8)(rng.nextFloat() * 2 - 1)))
  }

  private def build(rows: Array[(Long, Array[Float])], bits: Int = 0): VamanaGraph =
    VamanaGraph.build(rows.map(_._1), rows.map(_._2),
      VamanaConfig(bits = bits))

  private def brute(all: Seq[(Long, Array[Float])], q: Array[Float],
                    k: Int): Seq[(Long, Double)] =
    all.map { case (id, v) => (K.l2(v, q), id) }
      .groupBy(_._2).valuesIterator.map(_.min).toSeq // fold per id
      .sorted.take(k).map(t => (t._2, t._1))

  test("full-beam batch == brute over the union corpus (exact tier, " +
       "zero rerank jobs)") {
    import spark.implicits._
    val parts = Seq(corpus(120, 0, 1), corpus(120, 1000, 2), corpus(120, 2000, 3))
    val graphs = parts.map(build(_))
    val all = parts.flatten
    val rng = new scala.util.Random(17)
    val queries = Array.tabulate(4)(i =>
      (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1)))
    val got = VamanaGraph.searchManyMulti(spark, graphs, queries, k = 7,
        ef = 256)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4)).toMap
    queries.foreach { case (qid, q) =>
      val want = brute(all, q, 7)
      assert(got(qid).map(_._2).toSeq == want.map(_._1),
        s"qid=$qid ids diverged: got=${got(qid).toSeq} want=$want")
      got(qid).map(_._3).zip(want.map(_._2)).foreach { case (d, w) =>
        assert(math.abs(d - w) < 1e-6, s"qid=$qid $d vs $w")
      }
    }
  }

  test("colliding ids across graphs fold to one slot with the best distance") {
    import spark.implicits._
    val q = Array.fill(8)(0.5f)
    val far = Array.tabulate(30)(i =>
      ((10 + i).toLong, Array.fill(8)(3.0f + (i % 5) * 0.5f)))
    val a = (5L, Array.fill(8)(0.5f)) +: far
    val b = (5L, Array.fill(8)(0.6f)) +: far.map { case (i, v) => (i + 100, v) }
    val graphs = Seq(build(a), build(b))
    val got = VamanaGraph.searchManyMulti(spark, graphs, Array(0L -> q),
        k = 3, ef = 128)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(got.map(_._2).count(_ == 5L) == 1,
      s"id 5 must occupy exactly one slot: ${got.toSeq}")
    assert(got.head._2 == 5L && got.head._3 < 1e-6,
      s"the folded slot must carry the best (graph A) distance: ${got.toSeq}")
  }

  test("quantized graphs rerank-in-TABLE exactly in ONE join for the " +
       "whole batch; estimates refused without opt-in") {
    import spark.implicits._
    val parts = Seq(corpus(100, 0, 31), corpus(100, 1000, 32))
    val all = parts.flatten
    val src = all.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")
    val graphs = parts.map(build(_, bits = 8))
    val queries = Array.tabulate(3)(i =>
      (i.toLong, Array.fill(8)(0.1f * (i + 1))))
    val e = intercept[IllegalArgumentException](
      VamanaGraph.searchManyMulti(spark, graphs, queries, k = 5))
    assert(e.getMessage.contains("rerankTable"), e.getMessage)
    // allowEstimates runs (estimate distances, ids unchecked here)
    assert(VamanaGraph.searchManyMulti(spark, graphs, queries, k = 5,
      allowEstimates = true).count() > 0)
    val got = VamanaGraph.searchManyMulti(spark, graphs, queries, k = 5,
        ef = 256, rerankTable = Some((src, "id", "vec")))
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4)).toMap
    queries.foreach { case (qid, q) =>
      val want = brute(all, q, 5)
      assert(got(qid).map(_._2).toSeq == want.map(_._1),
        s"qid=$qid: got=${got(qid).toSeq} want=$want")
      got(qid).map(_._3).zip(want.map(_._2)).foreach { case (d, w) =>
        assert(math.abs(d - w) < 1e-9, s"qid=$qid $d vs $w")
      }
    }
  }

  test("pool budget refuses loudly instead of collecting unbounded") {
    val g = build(corpus(40, 0, 51))
    graft.core.Confs.withConfs(spark, "graft.ann.batch.maxPoolTuples" -> "5") {
      val e = intercept[IllegalArgumentException](
        VamanaGraph.searchManyMulti(spark, Seq(g),
          Array(0L -> Array.fill(8)(0.1f), 1L -> Array.fill(8)(0.2f)), 3))
      assert(e.getMessage.contains("maxPoolTuples"), e.getMessage)
    }
  }

  test("broadcast byte budget refuses loudly and names the conf") {
    val g = build(corpus(40, 0, 52))
    assert(g.approxBytes > 0)
    graft.core.Confs.withConfs(spark,
        "graft.ann.graph.batch.maxBroadcastBytes" -> "1024") {
      val e = intercept[IllegalArgumentException](
        VamanaGraph.searchManyMulti(spark, Seq(g),
          Array(0L -> Array.fill(8)(0.1f)), 3))
      assert(e.getMessage.contains("maxBroadcastBytes"), e.getMessage)
    }
  }

  test("rerank-table rows duplicating an id fold to ONE slot with the " +
       "best distance") {
    import spark.implicits._
    val q = Array.fill(8)(0.5f)
    val far = Array.tabulate(30)(i =>
      ((10 + i).toLong, Array.fill(8)(3.0f + (i % 5) * 0.5f)))
    val rows = (5L, Array.fill(8)(0.5f)) +: far
    val g = build(rows, bits = 8)
    // the SOURCE table carries id 5 twice with different vectors
    // (append-without-delete): the fold must keep its best distance in
    // one slot, not let both rows occupy two of the k
    val src = ((5L, Array.fill(8)(0.6f).toSeq) +:
        rows.map { case (id, v) => (id, v.toSeq) }.toSeq)
      .toDF("id", "vec")
    val got = VamanaGraph.searchManyMulti(spark, Seq(g), Array(0L -> q),
        k = 3, ef = 128, rerankTable = Some((src, "id", "vec")))
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(got.map(_._2).count(_ == 5L) == 1,
      s"id 5 must occupy exactly one slot: ${got.toSeq}")
    assert(got.head._2 == 5L && got.head._3 < 1e-6,
      s"the folded slot must carry the best of its duplicate rows: ${got.toSeq}")
  }

  test("rerank-table rows with a NULL vector score nothing: top-k and " +
       "range equal brute force over the non-null rows") {
    import spark.implicits._
    val rows = corpus(100, 0, 61)
    val g = build(rows, bits = 8)
    val q = Array.fill(8)(0.2f)
    val near = brute(rows.toSeq, q, 2).map(_._1)
    // the SOURCE table adds a NULL-vector row for the nearest candidate
    // and a second, closer row for the next one
    val extra = Seq((near(0), null: Array[Float]), (near(1), q))
    val src = (rows.toSeq ++ extra).map { case (id, v) => (id, Option(v).map(_.toSeq)) }
      .toDF("id", "vec")
    val nonNull = rows.toSeq ++ extra.filter(_._2 != null)
    val want = brute(nonNull, q, 5)
    val got = VamanaGraph.searchManyMulti(spark, Seq(g), Array(0L -> q),
        k = 5, ef = 256, rerankTable = Some((src, "id", "vec")))
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(got.map(_._2).toSeq == want.map(_._1), s"top-k: ${got.toSeq} want=$want")
    got.map(_._3).zip(want.map(_._2)).foreach { case (d, w) =>
      assert(math.abs(d - w) < 1e-9, s"top-k $d vs $w")
    }
    val r = brute(nonNull, q, 12).last._2
    val wantIn = brute(nonNull, q, nonNull.length).filter(_._2 < r).toMap
    val gotIn = VamanaGraph.rangeSearchManyMulti(spark, Seq(g),
        Array((0L, q, r)), ef = 256, rerankTable = Some((src, "id", "vec")))
      .as[(Long, Long, Double)].collect()
    assert(gotIn.map(_._2).sorted.toSeq == wantIn.keys.toSeq.sorted,
      s"range: ${gotIn.toSeq} want=$wantIn")
    gotIn.foreach { case (_, id, d) =>
      assert(math.abs(d - wantIn(id)) < 1e-9, s"range id $id: $d vs ${wantIn(id)}")
    }
  }

  test("metric mixes and duplicate qids refuse loudly") {
    val a = build(corpus(40, 0, 41))
    val bRows = corpus(40, 100, 42)
    val b = VamanaGraph.build(bRows.map(_._1), bRows.map(_._2),
      VamanaConfig(metric = "negdot"))
    val e = intercept[IllegalArgumentException](
      VamanaGraph.searchManyMulti(spark, Seq(a, b),
        Array(0L -> Array.fill(8)(0.1f)), 3))
    assert(e.getMessage.contains("metric"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      VamanaGraph.searchManyMulti(spark, Seq(a),
        Array(0L -> Array.fill(8)(0.1f), 0L -> Array.fill(8)(0.2f)), 3))
    assert(e2.getMessage.contains("duplicate qids"), e2.getMessage)
  }
}
