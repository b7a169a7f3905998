package graft.index

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import java.nio.file.Files

/**
 * Graph-index behavior — mirrors the reference's vchordg test shape
 * (tests/vchordg/: build+query smoke, recall floor, vacuum).
 */
class VamanaGraphSpec extends SparkSpec {

  private lazy val data: Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(77)
    (0L until 1000L).map(i => i -> Array.fill(16)(rng.nextFloat() * 2 - 1))
  }

  private def brute(q: Array[Float], k: Int): Seq[Long] =
    data.map { case (id, v) => (K.l2(v, q), id) }.sortBy(identity).take(k).map(_._2)

  private lazy val graph = VamanaGraph.build(
    data.map(_._1).toArray, data.map(_._2).toArray, VamanaConfig(m = 24))

  test("degree cap respected; graph connected enough to search") {
    val (maxDeg, avgDeg) = graph.degreeStats
    assert(maxDeg <= 24, s"max degree $maxDeg")
    assert(avgDeg > 2.0, s"avg degree $avgDeg")
  }

  test("beam-search recall >= 0.9 over 20 queries (ef=64)") {
    val rng = new scala.util.Random(3)
    val recalls = (0 until 20).map { _ =>
      val q = Array.fill(16)(rng.nextFloat() * 2 - 1)
      val got = graph.search(q, 10).map(_._1).toSet
      val want = brute(q, 10).toSet
      got.intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall $mean")
  }

  test("build is deterministic") {
    val g2 = VamanaGraph.build(
      data.map(_._1).toArray, data.map(_._2).toArray, VamanaConfig(m = 24))
    assert(graph.adj.zip(g2.adj).forall { case (a, b) => a.sameElements(b) })
    assert(graph.medoid == g2.medoid)
  }

  test("save/load round-trips and searches identically") {
    val dir = Files.createTempDirectory("graft-vamana").toString
    graph.save(spark, dir)
    val loaded = VamanaGraph.load(spark, dir)
    val q = data.head._2
    assert(loaded.search(q, 5).toSeq == graph.search(q, 5).toSeq)
    assert(loaded.cfg == graph.cfg)
  }

  test("searchBatch over broadcast graph matches local search") {
    import spark.implicits._
    val queries = data.take(5).map { case (id, v) => (id, v) }.toArray
    val got = VamanaGraph.searchManyMulti(spark, Seq(graph), queries, 3)
      .select("qid", "id", "rn").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    queries.foreach { case (qid, q) =>
      assert(got(qid) == graph.search(q, 3).map(_._1).toSeq, s"query $qid")
    }
  }

  test("self is its own nearest neighbor for most points") {
    val rng = new scala.util.Random(8)
    val hits = (0 until 50).count { _ =>
      val (id, v) = data(rng.nextInt(data.size))
      graph.search(v, 1).headOption.exists(_._1 == id)
    }
    assert(hits >= 45, s"$hits/50 self-hits")
  }

  test("delete + rebuild removes vertices (vacuum semantics)") {
    val dead = (0L until 100L).toSet
    val g2 = VamanaGraph.deleteAndRebuild(graph, dead)
    assert(g2.ids.length == 900)
    val q = data(5)._2 // vec of a deleted id
    assert(g2.search(q, 10).forall { case (id, _) => !dead.contains(id) })
  }

  test("in-place vacuum relinks through dead vertices (exact graph)") {
    val dead = (0L until 100L).toSet
    val g2 = VamanaGraph.vacuum(graph, dead)
    assert(g2.ids.length == 900)
    assert(graph.ids.length == 1000, "original graph untouched")
    // no dead vertex survives in ids or adjacency, degree cap holds
    assert(g2.ids.forall(id => !dead.contains(id)))
    assert(g2.adj.forall(_.forall(n => n >= 0 && n < 900)))
    assert(g2.degreeStats._1 <= 24)
    assert(g2.search(data(5)._2, 10).forall { case (id, _) => !dead.contains(id) })
    // relink preserves search quality on the surviving corpus
    val live = data.filterNot { case (id, _) => dead.contains(id) }
    def bruteLive(q: Array[Float], k: Int): Seq[Long] =
      live.map { case (id, v) => (K.l2(v, q), id) }.sortBy(identity).take(k).map(_._2)
    val rng = new scala.util.Random(21)
    val recalls = (0 until 20).map { _ =>
      val q = Array.fill(16)(rng.nextFloat() * 2 - 1)
      val got = g2.search(q, 10).map(_._1).toSet
      val want = bruteLive(q, 10).toSet
      got.intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.85, s"mean recall after vacuum $mean")
    // dead medoid: vacuum must still produce a searchable graph
    val g3 = VamanaGraph.vacuum(graph, Set(graph.ids(graph.medoid)))
    assert(g3.ids.length == 999)
    assert(g3.search(data(5)._2, 5).nonEmpty)
  }

  test("quantized graph vacuums in place (delete on the memory-efficient tier)") {
    val qg = VamanaGraph.build(
      data.map(_._1).toArray, data.map(_._2).toArray, VamanaConfig(m = 24, bits = 8))
    val dead = (0L until 1000L by 7L).toSet
    val g2 = VamanaGraph.vacuum(qg, dead)
    assert(g2.quantized && g2.ids.length == 1000 - dead.size)
    assert(g2.ids.forall(id => !dead.contains(id)))
    assert(g2.degreeStats._1 <= 24)
    // code-estimate beam over the vacuumed graph still reaches the live
    // true neighbors (rerank restores exactness in searchManyMulti)
    val live = data.filterNot { case (id, _) => dead.contains(id) }
    def bruteLive(q: Array[Float], k: Int): Seq[Long] =
      live.map { case (id, v) => (K.l2(v, q), id) }.sortBy(identity).take(k).map(_._2)
    val rng = new scala.util.Random(31)
    val recalls = (0 until 20).map { _ =>
      val q = Array.fill(16)(rng.nextFloat() * 2 - 1)
      val got = g2.search(q, 10, ef = 64).map(_._1).toSet
      got.intersect(bruteLive(q, 10).toSet).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean code-estimate recall after quantized vacuum $mean")
    // deleteAndRebuild still refuses the quantized tier, pointing here
    val e = intercept[IllegalArgumentException](VamanaGraph.deleteAndRebuild(qg, dead))
    assert(e.getMessage.contains("vacuum"))
  }

  test("DataFrame build collects at most maxRows and fails loudly past the cap") {
    import spark.implicits._
    val df = data.take(50).map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")
    val e = intercept[IllegalArgumentException](
      VamanaGraph.build(df, "id", "vec", maxRows = 10))
    assert(e.getMessage.contains("driver-build cap") &&
      e.getMessage.contains("IVF"), e.getMessage)
    // under the cap builds normally
    assert(VamanaGraph.build(df, "id", "vec", maxRows = 50).ids.length == 50)
  }

  test("quantized searchBatch without rerank table fails loudly (no silent estimates)") {
    val qg = VamanaGraph.build(
      data.map(_._1).toArray, data.map(_._2).toArray, VamanaConfig(m = 24, bits = 8))
    val q = Array(0L -> Array.fill(16)(0.1f))
    val e = intercept[IllegalArgumentException] {
      VamanaGraph.searchManyMulti(spark, Seq(qg), q, 5)
    }
    assert(e.getMessage.contains("code-ESTIMATE"))
    assert(e.getMessage.contains("rerankTable"))
    assert(VamanaGraph.searchManyMulti(spark, Seq(qg), q, 5,
      allowEstimates = true).count() == 5)
  }

  test("quantized vertices (bits=2): >=4x smaller broadcast, recall floor via rerank") {
    import spark.implicits._
    val qg = VamanaGraph.build(
      data.map(_._1).toArray, data.map(_._2).toArray, VamanaConfig(m = 24, bits = 2))
    assert(qg.quantized && qg.vecs.isEmpty)
    // broadcast economics: 2-bit codes + 16B metadata vs 4*dim bytes —
    // 3.2x at this fixture's dim=16 (the fixed metadata dominates small
    // dims; at dim=64 the same math gives 8x)
    assert(qg.vertexBytes * 3 < graph.vertexBytes,
      s"quantized ${qg.vertexBytes}B vs f32 ${graph.vertexBytes}B")
    // estimate-then-rerank through the source table restores exact
    // distances; recall floor holds at the G2 level
    val src = data.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")
    val rng = new scala.util.Random(3)
    val queries = Array.tabulate(20)(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    val got = VamanaGraph.searchManyMulti(spark, Seq(qg), queries, 10, ef = 64,
        rerankTable = Some((src, "id", "vec")))
      .select("qid", "id", "dist").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toMap).toMap
    val recalls = queries.map { case (qid, q) =>
      val want = brute(q, 10).toSet
      val gotIds = got.getOrElse(qid, Map.empty).keySet
      // reranked distances are EXACT (match the brute kernel bit-for-bit)
      gotIds.foreach { id =>
        val v = data(id.toInt)._2
        assert(got(qid)(id) == K.l2(v, q), s"dist mismatch for $id")
      }
      gotIds.intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.85, s"mean recall $mean (quantized beam + exact rerank)")
    // quantized save/load round-trip searches identically
    val dir = Files.createTempDirectory("graft-vamana-q").toString
    qg.save(spark, dir)
    val loaded = VamanaGraph.load(spark, dir)
    val q0 = data.head._2
    assert(loaded.search(q0, 5).toSeq == qg.search(q0, 5).toSeq)
    assert(loaded.cfg.bits == 2)
  }

  test("bits=1 vertices: smallest broadcast tier, recall floor via rerank, odd-dim load") {
    import spark.implicits._
    val g1 = VamanaGraph.build(
      data.map(_._1).toArray, data.map(_._2).toArray, VamanaConfig(m = 24, bits = 1))
    assert(g1.quantized && g1.vecs.isEmpty)
    val g2 = VamanaGraph.build(
      data.map(_._1).toArray, data.map(_._2).toArray, VamanaConfig(m = 24, bits = 2))
    // the reference's most-compressed tier: strictly below bits=2
    assert(g1.vertexBytes < g2.vertexBytes,
      s"bits=1 ${g1.vertexBytes}B vs bits=2 ${g2.vertexBytes}B")
    // sign-only estimates are coarse: wider beam, modest recall floor,
    // rerank restores exact distances (reference bits=1 has the same
    // trade — maximum compression, estimate quality bought back by ef)
    val src = data.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")
    val rng = new scala.util.Random(17)
    val queries = Array.tabulate(20)(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    val got = VamanaGraph.searchManyMulti(spark, Seq(g1), queries, 10, ef = 128,
        rerankTable = Some((src, "id", "vec")))
      .select("qid", "id", "dist").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toMap).toMap
    val recalls = queries.map { case (qid, q) =>
      val want = brute(q, 10).toSet
      val gotIds = got.getOrElse(qid, Map.empty).keySet
      gotIds.foreach { id =>
        val v = data(id.toInt)._2
        assert(got(qid)(id) == K.l2(v, q), s"dist mismatch for $id")
      }
      gotIds.intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall $mean (1-bit beam + exact rerank)")
    // save/load with dim NOT a multiple of 8: byte length is padded, so
    // the loader must recover dim=12 from cmeta (normOfLattice^2), not
    // from codes.length * 8 (= 16)
    val odd = (0L until 300L).map(i => i -> Array.fill(12)(rng.nextFloat() * 2 - 1))
    val og = VamanaGraph.build(odd.map(_._1).toArray, odd.map(_._2).toArray,
      VamanaConfig(m = 16, bits = 1))
    val dir = Files.createTempDirectory("graft-vamana-b1").toString
    og.save(spark, dir)
    val loaded = VamanaGraph.load(spark, dir)
    assert(loaded.cfg.bits == 1)
    assert(loaded.codes.head.dim == 12, s"dim ${loaded.codes.head.dim}")
    val q0 = odd.head._2
    assert(loaded.search(q0, 5).toSeq == og.search(q0, 5).toSeq)
  }

  test("incremental insert links new vertices without rebuilding (G3)") {
    val (seed, rest) = data.splitAt(700)
    val g0 = VamanaGraph.build(
      seed.map(_._1).toArray, seed.map(_._2).toArray, VamanaConfig(m = 24))
    val g1 = g0.insertAll(rest.map { case (id, v) => (id, v) }.toArray)
    assert(g1.ids.length == 1000)
    assert(g0.ids.length == 700, "original graph untouched")
    // degree invariant survives the insert path
    assert(g1.degreeStats._1 <= 24)
    // inserted vertices are searchable with healthy recall
    val rng = new scala.util.Random(12)
    val recalls = (0 until 20).map { _ =>
      val q = Array.fill(16)(rng.nextFloat() * 2 - 1)
      val got = g1.search(q, 10).map(_._1).toSet
      val want = brute(q, 10).toSet
      got.intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.85, s"mean recall after insert $mean")
    // inserted ids find themselves
    val hits = rest.take(50).count { case (id, v) =>
      g1.search(v, 1).headOption.exists(_._1 == id)
    }
    assert(hits >= 45, s"$hits/50 self-hits among inserted")
    // duplicate insert rejected
    assertThrows[IllegalArgumentException](g1.insertAll(Array(data.head)))
  }

  test("quantized save/load at a dim the bit width does not divide " +
       "(dim=10, bits=2): searches identically after reload") {
    // byte-length dim recovery is ambiguous here ((10+3)/4 = 3 bytes =
    // 12-dim's length); dim is persisted in config since round 6
    val rng = new scala.util.Random(11)
    val d10 = (0L until 300L).map(i => i -> Array.fill(10)(rng.nextFloat()))
    val g = VamanaGraph.build(d10.map(_._1).toArray, d10.map(_._2).toArray,
      VamanaConfig(m = 12, bits = 2))
    val dir = Files.createTempDirectory("graft-vam-d10").toString
    g.save(spark, dir)
    val loaded = VamanaGraph.load(spark, dir)
    val q = Array.fill(10)(0.4f)
    assert(loaded.search(q, 5).toSeq == g.search(q, 5).toSeq)
    assert(loaded.codes(0).dim == 10)
  }

  test("empty graph (issue_427): all-NULL build serves empty, first insert " +
       "bootstraps, vacuum-to-empty re-bootstraps") {
    import spark.implicits._
    // DataFrame build over an all-NULL vector column — the reference's
    // CREATE INDEX ... USING vchordg on such a table succeeds
    val allNull = (0L until 50L).map(i => (i, null: Seq[Float])).toDF("id", "vec")
    val g0 = VamanaGraph.build(allNull, "id", "vec", VamanaConfig(m = 8))
    assert(g0.ids.isEmpty && !g0.quantized)
    assert(g0.search(Array.fill(16)(0.1f), 5).isEmpty)
    assert(g0.degreeStats == ((0, 0.0)))
    // first insert = initial build; results match brute force
    val g1 = g0.insertAll(data.take(200).toArray)
    val q = Array.fill(16)(0.2f)
    val want = data.take(200).map { case (id, v) => (K.l2(v, q), id) }
      .sortBy(identity).take(5).map(_._2)
    assert(g1.search(q, 5, ef = 200).map(_._1).toSeq == want)
    // vacuuming every vertex leaves a servable empty graph
    val g2 = VamanaGraph.vacuum(g1, data.take(200).map(_._1).toSet)
    assert(g2.ids.isEmpty && g2.search(q, 5).isEmpty)
    assert(g2.insertAll(data.take(100).toArray).search(q, 3).nonEmpty)
    // quantized tier: empty build keeps the codes store, bootstrap works
    val q0 = VamanaGraph.build(Array.empty[Long], Array.empty[Array[Float]],
      VamanaConfig(m = 8, bits = 2))
    assert(q0.ids.isEmpty && q0.quantized && q0.search(q, 5).isEmpty)
    val q1 = q0.insertAll(data.take(100).toArray)
    assert(q1.quantized && q1.search(q, 3).nonEmpty)
  }

  // ---- strategy-2 range search (vchordg sphere operators) ------------

  private def bruteRange(q: Array[Float], r: Double): Seq[(Long, Double)] =
    data.map { case (id, v) => (id, K.l2(v, q)) }.filter(_._2 < r)
      .sortBy(t => (t._2, t._1))

  test("rangeSearch at saturating ef matches brute strict-< membership") {
    val rng = new scala.util.Random(29)
    (0 until 8).foreach { i =>
      val q = Array.fill(16)(rng.nextFloat() * 2 - 1)
      val r = 0.8 + 0.2 * i // spheres from a handful of hits to hundreds
      val got = graph.rangeSearch(q, r, ef = data.size)
      val want = bruteRange(q, r)
      assert(got.map(_._1).toSeq == want.map(_._1), s"sphere $i r=$r")
      got.zip(want).foreach { case ((_, gd), (_, wd)) =>
        assert(math.abs(gd - wd) < 1e-9)
      }
    }
    // a radius exactly AT a stored distance is excluded (strict <, the
    // reference's take_while(dist < radius))
    val q0 = data.head._2
    val dExact = graph.rangeSearch(q0, 2.0, ef = data.size)
      .map(_._2).headOption.getOrElse(0.0)
    if (dExact > 0.0)
      assert(!graph.rangeSearch(q0, dExact, ef = data.size)
        .exists(_._2 >= dExact))
  }

  test("rangeSearch at default ef is best-effort: a subset, high recall") {
    val rng = new scala.util.Random(31)
    val recalls = (0 until 10).map { _ =>
      val q = Array.fill(16)(rng.nextFloat() * 2 - 1)
      val r = 1.5
      val got = graph.rangeSearch(q, r).map(_._1).toSet
      val want = bruteRange(q, r).map(_._1).toSet
      assert(got.subsetOf(want), "best-effort must never invent a hit")
      if (want.isEmpty) 1.0 else got.size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean range recall $mean at default ef")
  }

  test("quantized rangeSearch refuses silent estimates; manyMulti reranks exactly") {
    val qg = VamanaGraph.build(
      data.map(_._1).toArray, data.map(_._2).toArray,
      VamanaConfig(m = 24, bits = 8))
    val e = intercept[IllegalArgumentException] {
      qg.rangeSearch(Array.fill(16)(0.1f), 1.0)
    }
    assert(e.getMessage.contains("rerankTable"))
    // ε-bounded candidate walk + one exact pass = exact membership at
    // saturating ef
    val s = spark
    import s.implicits._
    val src = data.toDF("id", "vec")
    val rng = new scala.util.Random(37)
    val queries = Array.tabulate(3)(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1), 1.4 + 0.2 * i))
    val got = VamanaGraph.rangeSearchManyMulti(spark, Seq(qg), queries,
        ef = data.size, rerankTable = Some((src, "id", "vec")))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))
        .sortBy(t => (t._2, t._1)).toSeq).toMap
    queries.foreach { case (qid, q, r) =>
      val want = bruteRange(q, r)
      assert(got.getOrElse(qid, Nil).map(_._1) == want.map(_._1),
        s"qid $qid")
    }
  }

  test("rangeSearchManyMulti over two graphs folds the partitioned union") {
    val s = spark
    import s.implicits._
    val (evens, odds) = data.partition(_._1 % 2 == 0)
    val g0 = VamanaGraph.build(evens.map(_._1).toArray,
      evens.map(_._2).toArray, VamanaConfig(m = 24))
    val g1 = VamanaGraph.build(odds.map(_._1).toArray,
      odds.map(_._2).toArray, VamanaConfig(m = 24))
    val rng = new scala.util.Random(43)
    val queries = Array.tabulate(3)(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1), 1.6))
    val got = VamanaGraph.rangeSearchManyMulti(spark, Seq(g0, g1), queries,
        ef = data.size)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    queries.foreach { case (qid, q, r) =>
      val want = bruteRange(q, r).map(_._1).sorted
      assert(got.getOrElse(qid, Nil) == want, s"qid $qid")
    }
  }
}
