package graft.ops

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import graft.index.IvfConfig
import java.nio.file.Files

/**
 * Batched multi-root MaxSim ([[MaxSim.maxsimManyMulti]]): B query docs x
 * R per-child token indexes in two flat jobs, output equal to the brute
 * per-doc sum-min over the union corpus in the full-coverage regime —
 * across storage tiers, a doc whose tokens SPLIT across roots, the
 * single-root (R = 1) face, and loud refusals.
 */
class MaxSimManyMultiSpec extends SparkSpec {

  /** (doc, pos, tok) rows: `nDocs` docs x `perDoc` tokens, dim 8. */
  private def tokens(nDocs: Int, perDoc: Int, docOff: Long,
                     seed: Int): Seq[(Long, Int, Seq[Float])] = {
    val rng = new scala.util.Random(seed)
    for {
      d <- 0L until nDocs.toLong
      p <- 0 until perDoc
    } yield (docOff + d, p, Seq.fill(8)(rng.nextFloat() * 2 - 1))
  }

  private def buildIdx(rows: Seq[(Long, Int, Seq[Float])],
                       cfg: IvfConfig = IvfConfig(metric = "negdot", lists = 4))
      : graft.index.IvfIndex = {
    import spark.implicits._
    MaxSim.buildTokenIndex(rows.toDF("doc", "pos", "v"), "doc", "pos", "v",
      Files.createTempDirectory("graft-msmm").toString, cfg)
  }

  /** Brute maxsim over the TIER store (f16 roundtrips token vectors). */
  private def brute(all: Seq[(Long, Int, Seq[Float])],
                    q: Array[Array[Float]], f16: Boolean): Map[Long, Double] =
    all.groupBy(_._1).view.mapValues { rows =>
      val toks = rows.map { r =>
        val a = r._3.toArray
        if (f16) graft.core.Half.decodeBytes(graft.core.Half.encodeBytes(a))
        else a
      }
      q.map(qt => toks.map(t => K.negdot(t, qt)).min).sum
    }.toMap

  private def queriesB(n: Int, tokCount: Int, seed: Int): Array[(Long, Array[Array[Float]])] = {
    val rng = new scala.util.Random(seed)
    Array.tabulate(n)(i =>
      (i.toLong, Array.fill(tokCount)(Array.fill(8)(rng.nextFloat() * 2 - 1))))
  }

  test("full-coverage batch == brute sum-min over the union corpus; " +
       "exactly two jobs per batch") {
    import spark.implicits._
    val parts = Seq(tokens(6, 8, 0, 1), tokens(6, 8, 100, 2))
    val idxs = parts.map(buildIdx(_))
    val all = parts.flatten
    val qs = queriesB(3, 4, 17)
    // full coverage: probes = lists, kPerToken >= all token rows per root,
    // docsPerRoot >= docs per root
    MaxSim.maxsimManyMulti(idxs, qs.take(1), k = 6, kPerToken = 64,
      probes = Seq(4, 4), refine = 8).collect() // warm
    val j0 = spark.sparkContext.statusTracker.getJobIdsForGroup(null).maxOption.getOrElse(-1)
    MaxSim.maxsimManyMulti(idxs, qs.take(1), k = 6, kPerToken = 64,
      probes = Seq(4, 4), refine = 8).collect()
    val j1 = spark.sparkContext.statusTracker.getJobIdsForGroup(null).maxOption.getOrElse(-1)
    val got = MaxSim.maxsimManyMulti(idxs, qs, k = 6, kPerToken = 64,
        probes = Seq(4, 4), refine = 8)
      .as[(Long, Long, Double)].collect()
    val j2 = spark.sparkContext.statusTracker.getJobIdsForGroup(null).maxOption.getOrElse(-1)
    // two flat passes; AQE materializes the rescore's shuffle map stage
    // as its own job, so the scheduler count is 3 — what matters is that
    // it does NOT grow with batch size (B=1 and B=3 cost the same)
    assert(j2 - j1 == j1 - j0,
      s"job count must not grow with batch size: ${j1 - j0} at B=1 vs " +
      s"${j2 - j1} at B=3")
    val byQ = got.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    qs.foreach { case (qid, q) =>
      val want = brute(all, q, f16 = false).toSeq
        .map { case (d, s) => (s, d) }.sorted.take(6)
        .map { case (s, d) => (d, s) }
      val g = byQ(qid)
      assert(g.map(_._1) == want.map(_._1),
        s"qid=$qid docs diverged: got=$g want=$want")
      g.map(_._2).zip(want.map(_._2)).foreach { case (s, w) =>
        assert(math.abs(s - w) < 1e-9, s"qid=$qid score $s vs $w")
      }
    }
  }

  test("f16 token storage reranks exactly within the tier's store") {
    import spark.implicits._
    val cfg = IvfConfig(metric = "negdot", lists = 4, storage = "f16")
    val parts = Seq(tokens(5, 6, 0, 5), tokens(5, 6, 50, 6))
    val idxs = parts.map(buildIdx(_, cfg))
    val all = parts.flatten
    val qs = queriesB(2, 3, 23)
    val got = MaxSim.maxsimManyMulti(idxs, qs, k = 5, kPerToken = 64,
        probes = Seq(4, 4), refine = 8)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    qs.foreach { case (qid, q) =>
      val want = brute(all, q, f16 = true).toSeq
        .map { case (d, s) => (s, d) }.sorted.take(5)
        .map { case (s, d) => (d, s) }
      assert(got(qid).map(_._1) == want.map(_._1), s"qid=$qid ids diverged")
      got(qid).map(_._2).zip(want.map(_._2)).foreach { case (s, w) =>
        assert(math.abs(s - w) < 1e-6, s"qid=$qid $s vs $w")
      }
    }
  }

  test("a doc whose tokens SPLIT across roots scores its true whole-doc " +
       "maxsim (cross-root min folds through the shared (query, doc) key)") {
    import spark.implicits._
    // doc 7's tokens: positions 0-3 in root A, 4-7 in root B — the true
    // min for a query token may live in either half
    val splitA = tokens(1, 8, 7, 41).filter(_._2 < 4)
    val splitB = tokens(1, 8, 7, 41).filter(_._2 >= 4)
    val a = tokens(4, 8, 0, 42) ++ splitA
    val b = tokens(4, 8, 100, 43) ++ splitB
    val idxs = Seq(buildIdx(a), buildIdx(b))
    val qs = queriesB(2, 3, 47)
    val got = MaxSim.maxsimManyMulti(idxs, qs, k = 9, kPerToken = 64,
        probes = Seq(4, 4), refine = 16)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toMap).toMap
    val all = a ++ b
    qs.foreach { case (qid, q) =>
      val want = brute(all, q, f16 = false)
      assert(math.abs(got(qid)(7L) - want(7L)) < 1e-9,
        s"split doc 7 must score over BOTH halves: got=${got(qid)(7L)} " +
        s"want=${want(7L)}")
    }
  }

  test("a split doc selected by only ONE root's estimates still rescores " +
       "over ALL its tokens — whole-doc, never a token-subset score") {
    import spark.implicits._
    // planted: query token 0 matches doc 7's ROOT-A half exactly, token 1
    // matches its ROOT-B half exactly; root B also holds a filler doc F
    // that monopolizes root B's docsPerRoot=1 estimate slot. A
    // (root, doc)-gated rescore would score doc 7 over its A-half only
    // (t1's min lost -> score ~-1 instead of -2) and filler F (-1.8)
    // would wrongly win the top-1.
    def axis(i: Int, scale: Float): Seq[Float] =
      Seq.tabulate(8)(j => if (j == i) scale else 0.0f)
    val t0 = axis(1, 1.0f).toArray
    val t1 = axis(2, 1.0f).toArray
    val a: Seq[(Long, Int, Seq[Float])] =
      Seq((7L, 0, t0.toSeq), (7L, 1, axis(3, 10f)), (7L, 2, axis(3, 11f)),
          (7L, 3, axis(3, 12f))) ++
      (0 until 3).flatMap(d => (0 until 4).map(p =>
        ((20 + d).toLong, p, axis(4, 10f + d + p))))
    val b: Seq[(Long, Int, Seq[Float])] =
      Seq((7L, 4, t1.toSeq), (7L, 5, axis(5, 10f)), (7L, 6, axis(5, 11f)),
          (7L, 7, axis(5, 12f)),
          (100L, 0, axis(1, 0.9f)), (100L, 1, axis(2, 0.9f))) ++
      (0 until 3).flatMap(d => (0 until 4).map(p =>
        ((30 + d).toLong, p, axis(6, 10f + d + p))))
    val idxs = Seq(buildIdx(a), buildIdx(b))
    // k=1, refine=1 -> docsPerRoot=1: root B's slot goes to filler 100
    val got = MaxSim.maxsimManyMulti(idxs, Array(0L -> Array(t0, t1)),
        k = 1, kPerToken = 64, probes = Seq(4, 4), refine = 1)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 1 && got.head._2 == 7L,
      s"doc 7 (true maxsim -2.0) must beat filler 100 (-1.8): ${got.toSeq}")
    assert(math.abs(got.head._3 - (-2.0)) < 1e-6,
      s"doc 7 must score over BOTH halves (whole-doc -2.0, not the " +
      s"A-subset -1.0): ${got.toSeq}")
  }

  test("parity with single-root approxTopK (R = 1)") {
    import spark.implicits._
    val rows = tokens(8, 6, 0, 61)
    val idx = buildIdx(rows)
    val q = queriesB(1, 4, 67).head._2
    // lists = probes = 4 and kPerToken = 64 >= 48 token rows: every token
    // is retrieved, so the R = 1 face must answer the brute top-5 exactly
    val one = brute(rows, q, f16 = false).toSeq.sortBy(t => (t._2, t._1)).take(5)
    val batch = MaxSim.maxsimManyMulti(Seq(idx), Array(0L -> q), k = 5,
        kPerToken = 64, probes = Seq(4), refine = 8)
      .as[(Long, Long, Double)].collect().map(t => (t._2, t._3)).toSeq
    assert(batch.map(_._1) == one.map(_._1),
      s"batch != brute: $batch vs $one")
    batch.map(_._2).zip(one.map(_._2)).foreach { case (s, w) =>
      assert(math.abs(s - w) < 1e-9, s"$s vs $w")
    }
  }

  test("codes-only token children rerank-in-TABLE brute-exactly; without " +
       "a rerank table they refuse loudly naming the contract") {
    import spark.implicits._
    val cfg = IvfConfig(metric = "negdot", lists = 4, storeVectors = false)
    val parts = Seq(tokens(5, 6, 0, 81), tokens(5, 6, 50, 82))
    val idxs = parts.map(buildIdx(_, cfg))
    val all = parts.flatten
    val qs = queriesB(2, 3, 83)
    // no stored vectors, no source table -> the exact phase is impossible
    val e = intercept[IllegalArgumentException](
      MaxSim.maxsimManyMulti(idxs, qs, k = 5, kPerToken = 64,
        probes = Seq(4, 4)))
    assert(e.getMessage.contains("rerankTable"), e.getMessage)
    val src = all.toDF("doc", "pos", "v")
    val got = MaxSim.maxsimManyMulti(idxs, qs, k = 5, kPerToken = 64,
        probes = Seq(4, 4), refine = 8, rerankTable = Some((src, "doc", "v")))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    qs.foreach { case (qid, q) =>
      val want = brute(all, q, f16 = false).toSeq
        .map { case (d, s) => (s, d) }.sorted.take(5)
        .map { case (s, d) => (d, s) }
      assert(got(qid).map(_._1) == want.map(_._1),
        s"qid=$qid ids diverged: got=${got(qid)} want=$want")
      got(qid).map(_._2).zip(want.map(_._2)).foreach { case (s, w) =>
        assert(math.abs(s - w) < 1e-9, s"qid=$qid $s vs $w")
      }
    }
  }

  test("storage-MIXED children (f32 + f16) serve through the rerank table " +
       "with original-precision scores") {
    import spark.implicits._
    val parts = Seq(tokens(5, 6, 0, 75), tokens(5, 6, 50, 76))
    val mixed = Seq(buildIdx(parts(0)),
      buildIdx(parts(1), IvfConfig(metric = "negdot", lists = 4, storage = "f16")))
    val all = parts.flatten
    val qs = queriesB(1, 3, 77)
    val src = all.toDF("doc", "pos", "v")
    val got = MaxSim.maxsimManyMulti(mixed, qs, k = 5, kPerToken = 64,
        probes = Seq(4, 4), refine = 8, rerankTable = Some((src, "doc", "v")))
      .as[(Long, Long, Double)].collect().map(t => (t._2, t._3)).toSeq
    // rescore reads the ORIGINAL table: full f32 precision on both roots
    val want = brute(all, qs.head._2, f16 = false).toSeq
      .map { case (d, s) => (s, d) }.sorted.take(5)
      .map { case (s, d) => (d, s) }
    assert(got.map(_._1) == want.map(_._1), s"got=$got want=$want")
    got.map(_._2).zip(want.map(_._2)).foreach { case (s, w) =>
      assert(math.abs(s - w) < 1e-9, s"$s vs $w")
    }
  }

  test("budget, heterogeneity, and duplicate qids refuse loudly") {
    val idxs = Seq(buildIdx(tokens(3, 4, 0, 71)))
    graft.core.Confs.withConfs(spark, "graft.ann.maxsim.maxPoolTuples" -> "10") {
      val e = intercept[IllegalArgumentException](
        MaxSim.maxsimManyMulti(idxs, queriesB(2, 4, 73), k = 3, kPerToken = 64))
      assert(e.getMessage.contains("maxPoolTuples"), e.getMessage)
    }
    // storage-mixed WITHOUT a rerank table: the refusal names the contract
    val mixed = Seq(buildIdx(tokens(3, 4, 0, 75)),
      buildIdx(tokens(3, 4, 50, 76),
        IvfConfig(metric = "negdot", lists = 4, storage = "f16")))
    val e2 = intercept[IllegalArgumentException](
      MaxSim.maxsimManyMulti(mixed, queriesB(1, 3, 77), k = 3))
    assert(e2.getMessage.contains("rerankTable"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      MaxSim.maxsimManyMulti(idxs,
        Array(0L -> queriesB(1, 3, 78).head._2, 0L -> queriesB(1, 3, 79).head._2),
        k = 3))
    assert(e3.getMessage.contains("duplicate qids"), e3.getMessage)
  }
}
