package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class DedupSpec extends SparkSpec {

  /** Synthetic corpus with planted near-dups: doc i and i+100 share most
    * of their tokens for i < 20. */
  private lazy val docs: Seq[(Long, String)] = {
    val rng = new scala.util.Random(11)
    val vocab = Vector("spark", "scan", "join", "sort", "hash", "merge", "row",
      "batch", "query", "filter", "group", "window", "stream", "key", "value")
    def mk(n: Int): String = Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 100L).map(i => i -> mk(30))
    val nearDups = (0L until 20L).map { i =>
      val words = base(i.toInt)._2.split(' ')
      words(words.length - 1) = "changed" // 1-token mutation
      (100L + i) -> words.mkString(" ")
    }
    base ++ nearDups
  }

  test("minhash LSH candidates cover all high-jaccard pairs (no misses >= 0.6)") {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val sh = Dedup.shingles(df, "doc_id", "text", 3).cache()
    val exact = Dedup.jaccardPairs(sh, 0.6)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture must contain planted near-dups")
    val cand = Dedup.minhashCandidates(sh)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(cand),
      s"missed pairs: ${exact.diff(cand).take(5)}")
  }

  test("minhashDedup output equals exact jaccard for detected pairs") {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.minhashDedup(df, "doc_id", "text", 0.6)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val exact = Dedup.jaccardPairs(Dedup.shingles(df, "doc_id", "text", 3), 0.6)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(got == exact) // no false positives; fixture pairs all found
  }

  test("simhash finds planted 1-token mutations") {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val pairs = Dedup.simhashDedup(df, "doc_id", "text", 3)
      .select("da", "db").as[(Long, Long)].collect().toSet
    // a 1-of-30-token mutation flips few simhash bits; expect most planted
    // pairs recovered
    val planted = (0L until 20L).map(i => (i, i + 100L)).toSet
    assert(pairs.intersect(planted).size >= 10, s"found ${pairs.intersect(planted).size}")
  }

  test("exact dup groups") {
    import spark.implicits._
    val df = (docs ++ Seq(500L -> docs.head._2)).toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(df, "doc_id", org.apache.spark.sql.functions.md5(
      org.apache.spark.sql.functions.col("text").cast("binary")))
    val g = groups.select("keep_id", "n").as[(Long, Long)].collect()
    assert(g.toSeq == Seq((0L, 2L)))
  }

  test("exact-dup collapse is lossless: minhash output unchanged by duplicate copies") {
    import spark.implicits._
    // corpus with exact-duplicate groups layered on the near-dup fixture:
    // collapse must reproduce the uncollapsed pipeline's pair set exactly
    val withDups = docs ++ Seq(
      300L -> docs(0)._2, 301L -> docs(0)._2,       // a 3-member group with doc 0
      310L -> docs(105)._2)                           // duplicate of a near-dup doc
    val df = withDups.toDF("doc_id", "text")
    val got = Dedup.minhashDedup(df, "doc_id", "text", 0.6)
      .select("da", "db", "jac").as[(Long, Long, Double)].collect().toSet
    // ground truth: exhaustive jaccard over ALL pairs (no LSH) at threshold
    val exact = Dedup.jaccardPairs(Dedup.shingles(df, "doc_id", "text", 3), 0.6)
      .select("da", "db", "jac").as[(Long, Long, Double)].collect().toSet
    assert(got.map(p => (p._1, p._2)) == exact.map(p => (p._1, p._2)))
    // values transfer exactly too (within-group pairs are exactly 1.0)
    assert(got == exact)
    assert(got.contains((0L, 300L, 1.0)) && got.contains((300L, 301L, 1.0)))
  }

  test("minhashDedup threshold: Jaccard exactly at threshold kept bit-identically, just below dropped") {
    import spark.implicits._
    // distinct tokens make the shingle counts closed-form: trigrams over
    // a shared k-token prefix are the only shared shingles
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val a = toks("a", 22)                       // 20 shingles
    val b = a.take(20) ++ toks("b", 2)          // 20 shingles, 18 shared
    val c = toks("c", 21)                       // 19 shingles
    val d = c.take(19) ++ toks("d", 2)          // 19 shingles, 17 shared
    val atJac = 18.0 / (20 + 20 - 18)
    val belowJac = 17.0 / (19 + 19 - 17)
    assert(belowJac < atJac)
    val corpus = Seq(1L -> a, 2L -> b, 3L -> c, 4L -> d)
      .map { case (i, t) => i -> t.mkString(" ") } ++
      docs.map { case (i, t) => (1000L + i, t) }
    val df = corpus.toDF("doc_id", "text")
    val sh = Dedup.shingles(df, "doc_id", "text", 3)
    val cand = Dedup.minhashCandidates(sh)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)) && cand.contains((3L, 4L)),
      "both crafted pairs must be LSH candidates, so only the verify decides")
    val got = Dedup.minhashDedup(df, "doc_id", "text", atJac)
      .select("da", "db", "jac").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val exact = Dedup.jaccardPairs(sh, 0.0)
      .select("da", "db", "jac").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(exact((1L, 2L)) == atJac && exact((3L, 4L)) == belowJac)
    assert(got.contains((1L, 2L)), "a pair exactly at the threshold is kept")
    assert(java.lang.Double.doubleToRawLongBits(got((1L, 2L))) ==
      java.lang.Double.doubleToRawLongBits(exact((1L, 2L))))
    assert(!got.contains((3L, 4L)), "a pair just below the threshold is dropped")
    // threshold 0: exactly the exhaustive operator's pairs among the LSH
    // candidates — every kept pair shares a shingle
    val zero = Dedup.minhashDedup(df, "doc_id", "text", 0.0)
      .select("da", "db", "jac").as[(Long, Long, Double)].collect().toSet
    val want = exact.iterator.collect {
      case (k, j) if cand.contains(k) => (k._1, k._2, j) }.toSet
    assert(zero.nonEmpty && zero == want)
    assert(zero.forall(_._3 > 0))
  }

  test("minhashDedup pins no cached relation across calls") {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    Dedup.minhashDedup(df, "doc_id", "text", 0.6).count()
    Dedup.minhashDedup(df, "doc_id", "text", 0.6).count()
    val after = sc.getPersistentRDDs.size
    assert(after == before, s"persistent RDDs $before -> $after")
  }

  test("minhashDedup runs at most 12 Spark jobs on the fixture") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val sc = spark.sparkContext
    val marker = "minhashDedup job-count marker"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        descs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    Dedup.minhashDedup(df, "doc_id", "text", 0.6).collect() // warm
    sc.addSparkListener(listener)
    try {
      Dedup.minhashDedup(df, "doc_id", "text", 0.6).collect()
      // the listener bus is FIFO: once the marker job's start arrives,
      // every job the operator ran has been counted
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!descs.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(descs.contains(marker), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    val jobs = descs.size - 1
    assert(jobs <= 12, s"minhashDedup ran $jobs Spark jobs")
  }

  test("simhash collapse is lossless and banding survives duplicates") {
    import spark.implicits._
    val withDups = docs ++ Seq(300L -> docs(0)._2, 301L -> docs(0)._2)
    val df = withDups.toDF("doc_id", "text")
    val got = Dedup.simhashDedup(df, "doc_id", "text", 3)
      .select("da", "db", "hamming").as[(Long, Long, Int)].collect().toSet
    // brute-force ground truth over fingerprints (blocking is lossless <= 3)
    val sigs = withDups.map { case (id, t) => (id, Dedup.simhash64(t)) }
    val want = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs if ida < idb
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ida, idb, h)).toSet
    assert(got == want)
  }

  test("monster bucket of identical docs completes bounded (star-pair cap)") {
    import spark.implicits._
    val text = "the same page scraped ten thousand times over and over again"
    val big = (0L until 10000L).map(i => i -> text) ++ docs.map { case (i, t) => (20000L + i, t) }
    val df = big.toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashDedup(df, "doc_id", "text", 0.6, maxBucket = 64)
      .filter(org.apache.spark.sql.functions.col("da") < 10000L)
      .select("da", "db").as[(Long, Long)].collect()
    val secs = (System.nanoTime() - t0) / 1e9
    // star expansion: 9,999 pairs all anchored at the group min, not 5*10^7
    assert(pairs.length == 9999, s"got ${pairs.length}")
    assert(pairs.forall(_._1 == 0L))
    assert(secs < 60, s"took ${secs}s")
    // connected-component semantics preserved: every copy reaches id 0
    assert(pairs.map(_._2).toSet == (1L until 10000L).toSet)
  }

  test("jaccard stop-shingle capping drops only boilerplate buckets") {
    import spark.implicits._
    // every doc shares one boilerplate header; pairs driven only by it
    // disappear under the df-cap, genuinely similar pairs survive
    val boiler = "copyright footer legal text here"
    val corpus = (0L until 30L).map(i => i -> s"$boiler unique${i} content${i} word${i} tail${i}") ++
      Seq(100L -> s"$boiler shared body of the pair alpha beta gamma",
          101L -> s"$boiler shared body of the pair alpha beta delta")
    val df = corpus.toDF("doc_id", "text")
    val sh = Dedup.shingles(df, "doc_id", "text", 3)
    val uncapped = Dedup.jaccardPairs(sh, 0.2).select("da", "db").as[(Long, Long)].collect().toSet
    val capped = Dedup.jaccardPairs(sh, 0.2, maxShingleFreq = 10)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((0L, 1L)), "boilerplate alone pairs everything uncapped")
    assert(!capped.contains((0L, 1L)), "df-cap must kill the boilerplate bucket")
    assert(capped.contains((100L, 101L)), "true near-dup must survive the cap")
    assert(capped.subsetOf(uncapped))
  }

  test("embedding brute path is gated at bruteCap rows") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val vecs = (0L until 40L).map(i => i -> Seq.fill(8)(rng.nextFloat()))
    val df = vecs.toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDup(df, "vec_id", "embedding", 0.1, bruteCap = 10).collect()
    }
    assert(e.getMessage.contains("lshBits"))
  }

  test("embedding LSH near-dup finds identical vectors") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val vecs = (0L until 50L).map(i => i -> Seq.fill(16)(rng.nextFloat() * 2 - 1))
    val withDup = vecs ++ Seq(100L -> vecs.head._2)
    val df = withDup.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDup(df, "vec_id", "embedding", 0.01)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(exact == Set((0L, 100L)))
    val lsh = Dedup.embeddingNearDup(df, "vec_id", "embedding", 0.01, lshBits = 8, lshTables = 4)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(lsh == Set((0L, 100L)))
  }

  test("components: min-reachable-id labels over stars, chains, and isolates") {
    import spark.implicits._
    // two components: a star {1,5,9} anchored at 1, and a CHAIN
    // 10-11-12-13-14 (propagation must walk the diameter), plus a
    // disjoint pair {20,21}
    val pairs = Seq((1L, 5L), (1L, 9L), (10L, 11L), (11L, 12L), (12L, 13L),
      (13L, 14L), (20L, 21L)).toDF("da", "db")
    val want = Map(1L -> 1L, 5L -> 1L, 9L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      20L -> 20L, 21L -> 20L)
    // default: the pair set fits the driver budget -> union-find path
    val got = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(got == want)
    // distributed propagation path (budget disabled): identical labels
    spark.conf.set("graft.dedup.components.maxDriverPairs", "0")
    try {
      val gotDist = Dedup.components(pairs).as[(Long, Long)].collect().toMap
      assert(gotDist == want)
      // non-convergence fails loudly instead of emitting wrong labels
      val e = intercept[IllegalArgumentException] {
        Dedup.components(pairs, maxIters = 1).collect()
      }
      assert(e.getMessage.contains("converge"))
    } finally spark.conf.unset("graft.dedup.components.maxDriverPairs")
  }

  test("dedupe keeps each cluster's min id and all isolates") {
    import spark.implicits._
    val docs = Seq((1L, "x"), (5L, "x"), (9L, "x"), (20L, "y"), (21L, "y"),
      (30L, "alone")).toDF("doc_id", "text")
    val pairs = Seq((1L, 5L), (1L, 9L), (20L, 21L)).toDF("da", "db")
    val kept = Dedup.dedupe(docs, "doc_id", pairs)
      .select($"doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 20L, 30L))
  }

  test("LSH recall model: closed form pins the operating points and auto-sizing") {
    // fnr = (1 - (1-p)^bits)^tables, p = acos(1 - tau)/pi. tau=0.5 =>
    // theta=60deg, p=1/3: the bench operating point (4 bits x 16 tables)
    // keeps ~97% of boundary pairs; the old 8-table default silently
    // missed ~17% of them — the reason auto-sizing exists.
    assert(Dedup.lshFalseNegativeRate(0.5, 4, 16) < 0.04)
    assert(Dedup.lshFalseNegativeRate(0.5, 4, 8) > 0.15)
    // monotone: more tables reduce misses, larger tau increases them
    assert(Dedup.lshFalseNegativeRate(0.5, 4, 16) <
           Dedup.lshFalseNegativeRate(0.5, 4, 8))
    assert(Dedup.lshFalseNegativeRate(0.3, 4, 8) <
           Dedup.lshFalseNegativeRate(0.5, 4, 8))
    // auto-size: smallest table count reaching the target boundary recall
    assert(Dedup.lshTablesFor(0.5, 4, targetRecall = 0.95) == 14)
    assert(Dedup.lshFalseNegativeRate(0.5, 4, 14) <= 0.05)
    assert(Dedup.lshFalseNegativeRate(0.5, 4, 13) > 0.05)
    // unreachable recall fails loudly instead of emitting 10^6 tables
    val e = intercept[IllegalArgumentException] {
      Dedup.lshTablesFor(1.9, 48, targetRecall = 0.999)
    }
    assert(e.getMessage.contains("fewer bits"))
  }

  test("LSH recall model matches measured candidate recall on planted pairs") {
    import spark.implicits._
    // 300 pairs at EXACTLY 60 degrees (cosdist 0.5): v = u/2 + w*sqrt(3)/2
    // with w unit-orthogonal to u. Recall is counted over the planted
    // pairs only; the formula predicts per-pair survival probability.
    val rng = new scala.util.Random(17)
    val dim = 16
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val rows = (0 until 300).flatMap { i =>
      val u = unit()
      val r = unit()
      val proj = (0 until dim).map(j => u(j) * r(j)).sum
      val w0 = (0 until dim).map(j => r(j) - proj * u(j)).toArray
      val wn = math.sqrt(w0.map(x => x * x).sum)
      val w = w0.map(_ / wn)
      val v = (0 until dim).map(j => 0.5 * u(j) + math.sqrt(3.0) / 2.0 * w(j))
      Seq((2L * i, u.toSeq.map(_.toFloat)), (2L * i + 1, v.map(_.toFloat)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val bits = 6; val tables = 4
    val got = Dedup.embeddingNearDup(df, "vec_id", "embedding", 0.51,
        lshBits = bits, lshTables = tables)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val found = (0 until 300).count(i => got.contains((2L * i, 2L * i + 1)))
    val measured = found / 300.0
    val predicted = 1.0 - Dedup.lshFalseNegativeRate(0.5, bits, tables)
    assert(math.abs(measured - predicted) < 0.12,
      f"measured recall $measured%.3f vs predicted $predicted%.3f " +
      s"(bits=$bits tables=$tables)")
  }

  test("pipeline computes pairs once: labels and cleaned table ride the shared set") {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val pipe = Dedup.pipeline(df, "doc_id",
      d => Dedup.minhashDedup(d, "doc_id", "text", 0.6))
    try {
      val pairs = pipe.pairs.select("da", "db").as[(Long, Long)].collect().toSet
      // pairs/labels/cleaned are mutually consistent: every pair's two ids
      // share a label; cleaned keeps exactly one id (the min) per cluster
      val labels = pipe.labels.as[(Long, Long)].collect().toMap
      pairs.foreach { case (a, b) => assert(labels(a) == labels(b), s"($a,$b)") }
      val kept = pipe.cleaned.select(col("doc_id").cast("long")).as[Long].collect().toSet
      val reps = labels.values.toSet
      labels.foreach { case (id, rep) =>
        assert(kept.contains(id) == (id == rep), s"id $id rep $rep") }
      assert(reps.forall(kept.contains))
      // matches the separately-computed reference pipeline
      val wantKept = Dedup.dedupe(df, "doc_id",
          Dedup.minhashDedup(df, "doc_id", "text", 0.6))
        .select(col("doc_id").cast("long")).as[Long].collect().toSet
      assert(kept == wantKept)
    } finally pipe.unpersist()
  }

  test("Pipeline.unpersist releases pairs cache AND labels checkpoint blocks") {
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    // distributed-components path pinned: the checkpoint-block contract
    // this test guards only exists there (the driver union-find path
    // emits a local relation with no executor storage to release)
    spark.conf.set("graft.dedup.components.maxDriverPairs", "0")
    try {
      val pipe = Dedup.pipeline(df, "doc_id",
        d => Dedup.minhashDedup(d, "doc_id", "text", 0.6))
      pipe.cleaned.count() // materialize all stages
      val lvls = ColumnBridge.checkpointLeafLevels(pipe.labels)
      assert(lvls.nonEmpty && lvls.forall(_ != StorageLevel.NONE),
        s"labels checkpoint must be pinned while in use: $lvls")
      assert(pipe.pairs.storageLevel != StorageLevel.NONE)
      pipe.unpersist()
      assert(pipe.pairs.storageLevel == StorageLevel.NONE, "pairs cache released")
      assert(ColumnBridge.checkpointLeafLevels(pipe.labels)
          .forall(_ == StorageLevel.NONE),
        "labels checkpoint blocks must be released by unpersist")
    } finally spark.conf.unset("graft.dedup.components.maxDriverPairs")
    // driver union-find path: no pinned storage at any point, and
    // unpersist is a safe no-op on the local-relation labels
    val pipe2 = Dedup.pipeline(df, "doc_id",
      d => Dedup.minhashDedup(d, "doc_id", "text", 0.6))
    pipe2.cleaned.count()
    assert(ColumnBridge.checkpointLeafLevels(pipe2.labels).isEmpty,
      "driver-path labels carry no checkpoint leaves")
    pipe2.unpersist()
    assert(pipe2.pairs.storageLevel == StorageLevel.NONE)
  }

  test("embedding LSH monster bucket completes bounded (star-pair cap)") {
    import spark.implicits._
    // 10k identical embeddings: every table puts them all in ONE bucket.
    // Star cap => O(n) pairs anchored at the min id, not 5*10^7, and the
    // candidate shuffle carries ids only (vectors fetched per-pair after).
    val v = Seq.fill(16)(0.25f)
    val rng = new scala.util.Random(9)
    val rows = (0L until 10000L).map(i => i -> v) ++
      (0L until 50L).map(i => (20000L + i) -> Seq.fill(16)(rng.nextFloat() * 2 - 1))
    val df = rows.toDF("vec_id", "embedding")
    val t0 = System.nanoTime()
    val pairs = Dedup.embeddingNearDup(df, "vec_id", "embedding", 0.01,
        lshBits = 8, lshTables = 4, maxBucket = 64)
      .filter(org.apache.spark.sql.functions.col("da") < 10000L)
      .select("da", "db").as[(Long, Long)].collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(pairs.length == 9999, s"got ${pairs.length}")
    assert(pairs.forall(_._1 == 0L)) // star anchored at bucket min
    assert(pairs.map(_._2).toSet == (1L until 10000L).toSet) // connectivity
    assert(secs < 60, s"took ${secs}s")
  }

  test("minhashDedupAgainst: cross-side pairs only, exact-dup collapse spans sides") {
    import spark.implicits._
    // new side: docs 0-9; ref side: 100-109. 0 is an exact copy of 100,
    // 1 a near-dup of 101; 2 and 3 are near-dups OF EACH OTHER (same
    // side — must NOT pair); the rest are noise.
    val rng = new scala.util.Random(31)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "mu", "nu")
    def mk(): String = Seq.fill(30)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val shared = mk()
    val near = shared.split(' ').updated(3, "changed").mkString(" ")
    val sameSide = mk()
    val newDocs = Seq(0L -> shared, 1L -> near, 2L -> sameSide,
      3L -> sameSide.split(' ').updated(5, "flip").mkString(" ")) ++
      (4L until 10L).map(_ -> mk())
    val refDocs = Seq(100L -> shared, 101L -> shared) ++
      (102L until 110L).map(_ -> mk())
    val got = Dedup.minhashDedupAgainst(
        newDocs.toDF("doc_id", "text"), "doc_id", "text",
        refDocs.toDF("doc_id", "text"), "doc_id", "text", 0.4)
      .select("da", "db", "jac").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // brute cross reference
    def shSet(t: String) = Dedup.sortedShingleSet(t.split(' ').map(Dedup.hash64), 3)
    val want = (for {
      (na, ta) <- newDocs; (rb, tb) <- refDocs
      j = Dedup.jaccardSorted(shSet(ta), shSet(tb)) if j >= 0.4
    } yield (na, rb) -> j).toMap
    assert(want.keySet.contains((0L, 100L)) && want.keySet.contains((0L, 101L)),
      "fixture must plant exact cross dups (incl. a ref-side dup group)")
    assert(got.keySet == want.keySet, s"got ${got.keySet} want ${want.keySet}")
    got.foreach { case (k, j) => assert(math.abs(j - want(k)) < 1e-12) }
    assert(got((0L, 100L)) == 1.0)
    assert(!got.keySet.exists { case (a, b) => a >= 100L || b < 100L },
      "pairs must cross sides only")
  }

  test("minhashDedupAgainstIngest matches the batch operator; loud ref cap") {
    import spark.implicits._
    val rng = new scala.util.Random(37)
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu",
      "hen", "ibis", "jay", "kit", "lark")
    def mk(): String = Seq.fill(25)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val shared = mk()
    val newDocs = Seq(0L -> shared,
      1L -> shared.split(' ').updated(2, "mut").mkString(" ")) ++
      (2L until 12L).map(_ -> mk())
    val refDocs = Seq(100L -> shared, 101L -> shared) ++
      (102L until 112L).map(_ -> mk())
    val nd = newDocs.toDF("doc_id", "text")
    val rd = refDocs.toDF("doc_id", "text")
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.select("da", "db", "jac").as[(Long, Long, Double)].collect().toSet
    val batch = norm(Dedup.minhashDedupAgainst(nd, "doc_id", "text",
      rd, "doc_id", "text", 0.4))
    val ingest = norm(Dedup.minhashDedupAgainstIngest(nd, "doc_id", "text",
      rd, "doc_id", "text", 0.4))
    assert(batch.nonEmpty && ingest == batch,
      s"ingest $ingest must equal batch $batch")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashDedupAgainstIngest(nd, "doc_id", "text",
        rd, "doc_id", "text", 0.4, maxRefDocs = 3)
    }
    assert(e.getMessage.contains("distinct"))
  }

  test("minhashDedupAgainst: bipartite monster bucket degrades to bounded stars") {
    import spark.implicits._
    val t = "alpha beta gamma delta eps zeta eta theta"
    val newDocs = (0L until 20L).map(i => i -> (t + s" tail$i"))
    val refDocs = (100L until 120L).map(i => i -> (t + s" tail$i"))
    val pairs = Dedup.minhashDedupAgainst(
        newDocs.toDF("doc_id", "text"), "doc_id", "text",
        refDocs.toDF("doc_id", "text"), "doc_id", "text", 0.5,
        maxBucket = 4)
      .select("da", "db").as[(Long, Long)].collect().toSet
    // every doc keeps at least one cross candidate via the star anchors
    assert(pairs.nonEmpty)
    assert(pairs.size < 20 * 20, "exhaustive cross listing must be given up")
    val newCovered = pairs.map(_._1)
    val refCovered = pairs.map(_._2)
    assert(newCovered.size >= 10 && refCovered.size >= 10,
      s"stars must cover both sides: $pairs")
  }

  test("semDedup equals brute pairs restricted to same-cluster, misses cross-cluster") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    // two well-separated blobs + jitter; centroids at the blob centers
    val c0 = Array.fill(16)(1.0f)
    val c1 = Array.tabulate(16)(i => if (i % 2 == 0) -1.0f else 1.0f)
    def jit(c: Array[Float]) = c.map(x => x + (rng.nextFloat() - 0.5f) * 0.2f).toSeq
    val rows = (0L until 40L).map(i => i -> jit(if (i % 2 == 0) c0 else c1))
    val df = rows.toDF("vec_id", "embedding")
    val eps = 0.02
    val got = Dedup.semDedup(df, "vec_id", "embedding", eps, Array(c0, c1))
      .select("cluster", "da", "db").as[(Int, Long, Long)].collect().toSet
    // brute reference: same-parity ids are same-cluster (blob geometry)
    val vecs = rows.map { case (id, v) => id -> v.toArray }.toMap
    import graft.core.{VectorKernels => K}
    val want = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L
      if a % 2 == b % 2 && K.cosdist(vecs(a), vecs(b)) < eps
    } yield ((a % 2).toInt, a, b)).toSet
    assert(want.nonEmpty, "fixture must plant same-cluster pairs")
    assert(got == want)
    // a cross-cluster pair below eps would be missed BY DESIGN — assert
    // the fixture has none so the equality above is a complete statement
    assert(!(0L until 40L).exists(a => (a + 1 until 40L).exists(b =>
      a % 2 != b % 2 && K.cosdist(vecs(a), vecs(b)) < eps)))
  }

  test("semDedup assignment ties break to the lowest centroid index") {
    import spark.implicits._
    val v = Seq.fill(8)(0.5f)
    val df = Seq((7L, v), (9L, v)).toDF("vec_id", "embedding")
    // both centroids identical: every distance ties; cluster must be 0
    val c = Array.fill(8)(0.25f)
    val got = Dedup.semDedup(df, "vec_id", "embedding", 0.5, Array(c, c))
      .select("cluster", "da", "db").as[(Int, Long, Long)].collect()
    assert(got.toSeq == Seq((0, 7L, 9L)))
  }

  test("semDedup fails loudly past maxCluster; semDedupAuto trains and runs") {
    import spark.implicits._
    val df = (0L until 50L).map(i => i -> Seq.fill(8)(0.3f + i * 1e-4f))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.semDedup(df, "vec_id", "embedding", 0.1,
        Array(Array.fill(8)(0.3f)), maxCluster = 10)
    }
    assert(e.getMessage.contains("more centroids"))
    // auto path: k-means centroids, everything lands in some cluster and
    // the near-identical fixture is fully paired within it
    val auto = Dedup.semDedupAuto(df, "vec_id", "embedding", 0.1, k = 4)
      .select("da", "db").as[(Long, Long)].collect()
    assert(auto.length > 0)
  }
}
