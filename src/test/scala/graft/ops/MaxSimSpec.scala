package graft.ops

import graft.SparkSpec
import graft.core.{VectorKernels => K}

/**
 * Distributed MaxSim vs the scalar kernel — mirrors the reference's
 * multivector golden-ordering test shape (reference:
 * tests/vchordrq/multivector.slt:28-52: unit-circle token vectors, exact
 * expected id ordering).
 */
class MaxSimSpec extends SparkSpec {

  // 200 docs, 3 unit-circle dim-2 token vectors each (multivector.slt shape)
  private def tok(docId: Long, salt: Long): Array[Float] = {
    val angle = 2 * math.Pi * ((docId + salt) % 200L).toDouble / 200.0
    Array(math.cos(angle).toFloat, math.sin(angle).toFloat)
  }
  private lazy val docs: Seq[(Long, Array[Array[Float]])] =
    (0L until 200L).map(i => i -> Array(tok(i, 0), tok(i, 22), tok(i, 77)))

  private val query: Array[Array[Float]] = Array(tok(137L, 0), tok(137L, 22))

  test("aggregator matches scalar kernel on every doc, any partitioning") {
    import spark.implicits._
    val exploded = docs.flatMap { case (id, toks) => toks.map(t => (id, t.toSeq)) }
      .toDF("doc", "v").repartition(7)
    val got = MaxSim.score(exploded, "doc", "v", query)
      .as[(Long, Double)].collect().toMap
    docs.foreach { case (id, toks) =>
      assert(got(id) == K.maxsim(toks, query), s"doc $id")
    }
  }

  test("approximate MaxSim via token index recovers the exact top docs") {
    import spark.implicits._
    val tokens = docs.flatMap { case (id, toks) =>
      toks.zipWithIndex.map { case (t, p) => (id, p, t.toSeq) }
    }.toDF("doc", "pos", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft-maxsim-idx").toString
    val idx = MaxSim.buildTokenIndex(tokens, "doc", "pos", "v", dir,
      graft.index.IvfConfig(metric = "negdot", lists = 8, residual = false))
    // maxsim_refine semantics: exact rescoring of the k x refine = 40
    // candidate docs makes the top-k EXACT (scores and ordering) when the
    // candidate pool covers the true top docs
    val exactPairs = docs.map { case (id, toks) => (K.maxsim(toks, query), id) }
      .sorted.take(10)
    val refined = MaxSim.maxsimManyMulti(Seq(idx), Array(0L -> query), 10,
        kPerToken = 200, probes = Seq(8), refine = 4)
      .as[(Long, Long, Double)].collect().toSeq.map(t => (t._2, t._3))
    assert(refined == exactPairs.map { case (s, id) => (id, s) },
      s"refined=$refined exact=$exactPairs")
  }

  test("packKey/unpackDoc round-trip (u16 position payload)") {
    assert(MaxSim.unpackDoc(MaxSim.packKey(123456L, 65535)) == 123456L)
    assert((MaxSim.packKey(7L, 3) & 0xffffL) == 3L)
    assertThrows[IllegalArgumentException](MaxSim.packKey(1L, 65536))
  }

  test("topK orders by ascending score with doc tie-break") {
    import spark.implicits._
    val exploded = docs.flatMap { case (id, toks) => toks.map(t => (id, t.toSeq)) }
      .toDF("doc", "v")
    val got = MaxSim.topK(exploded, "doc", "v", query, 18)
      .select("doc").as[Long].collect().toSeq
    val want = docs.map { case (id, toks) => (K.maxsim(toks, query), id) }
      .sorted.take(18).map(_._2)
    assert(got == want) // golden exact ordering, multivector.slt-style
  }

  test("coalesceDocRanges: exact adjacency merge, widest-gap separators " +
       "under the cap, every doc covered") {
    // adjacent docs merge exactly — no cap pressure
    assert(MaxSim.coalesceDocRanges(Seq(5L, 6L, 7L, 20L, 21L, 40L)) ==
      Seq((5L, 7L), (20L, 21L), (40L, 40L)))
    // order/dup insensitive
    assert(MaxSim.coalesceDocRanges(Seq(7L, 5L, 6L, 7L)) == Seq((5L, 7L)))
    // past the cap: the widest gaps survive as separators
    val r = MaxSim.coalesceDocRanges(Seq(1L, 2L, 100L, 200L, 5000L), maxRanges = 2)
    assert(r == Seq((1L, 200L), (5000L, 5000L)), r.toString)
    // 500 scattered docs, cap 64: ≤ 64 spans, every doc inside some span
    val docs500 = (0 until 500).map(i => (i * 7919L) % 1000000L)
    val spans = MaxSim.coalesceDocRanges(docs500)
    assert(spans.length <= MaxSim.maxRescoreRanges)
    assert(docs500.forall(d => spans.exists(s => d >= s._1 && d <= s._2)),
      "doc escaped every span")
    // spans are sorted + disjoint (well-formed pushdown predicate)
    assert(spans == spans.sortBy(_._1))
    assert(spans.sliding(2).forall {
      case Seq((_, b), (c, _)) => c > b
      case _ => true
    })
  }
}
