package graft.index

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import java.nio.file.Files

/**
 * Sharded graph tier: executor-side builds (no driver collect), exact
 * top-k via per-shard beams + global merge, routed insert, per-shard
 * vacuum, quantized shards + exact rerank.
 */
class ShardedVamanaSpec extends SparkSpec {

  private lazy val data: Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(41)
    (0L until 1200L).map(i => i -> Array.fill(16)(rng.nextFloat() * 2 - 1))
  }

  private def brute(q: Array[Float], k: Int): Seq[Long] =
    data.map { case (id, v) => (K.l2(v, q), id) }.sortBy(identity).take(k).map(_._2)

  private def df = {
    val s = spark
    import s.implicits._
    data.toDF("id", "vec")
  }

  private lazy val dir = {
    val d = Files.createTempDirectory("sharded-vamana").toString
    ShardedVamana.build(df, "id", "vec", d, VamanaConfig(m = 24), shards = 4)
    d
  }

  test("sharded search matches brute-force top-k on every query") {
    val s = spark
    import s.implicits._
    val h = ShardedVamana.load(spark, dir)
    try {
      val rng = new scala.util.Random(9)
      val queries = Array.tabulate(6)(i =>
        i.toLong -> Array.fill(16)(rng.nextFloat() * 2 - 1))
      val res = h.search(spark, queries, 10)
      // cross-tier searchMany contract: rn is LongType on EVERY tier
      // (IVF/graph emit (i+1).toLong) — the sharded tier once leaked
      // IntegerType and flipped servedSearchMany's schema by
      // registration (round-16 ADVICE)
      assert(res.schema("rn").dataType ==
        org.apache.spark.sql.types.LongType)
      val got = res
        .select("qid", "id", "rn").as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
      queries.foreach { case (qid, q) =>
        assert(got(qid) == brute(q, 10), s"qid $qid")
      }
    } finally h.unpersist()
  }

  test("per-shard cap fails loudly") {
    val e = intercept[org.apache.spark.SparkException] {
      ShardedVamana.build(df, "id", "vec",
        Files.createTempDirectory("sv-cap").toString,
        VamanaConfig(), shards = 2, maxShardRows = 100)
    }
    assert(e.getMessage.contains("per-shard cap"))
  }

  test("insertAll routes to hash shards; new vectors searchable; vacuum removes") {
    val s = spark
    import s.implicits._
    val h0 = ShardedVamana.load(spark, dir)
    val rng = new scala.util.Random(5)
    val extra = Array.tabulate(40)(i =>
      (5000L + i) -> Array.fill(16)(rng.nextFloat() * 2 - 1))
    val h1 = h0.insertAll(spark, extra)
    try {
      // self-queries: each inserted vector must be its own top-1
      val qs = extra.take(8).map { case (id, v) => id -> v }
      val top1 = h1.search(spark, qs, 1)
        .select("qid", "id").as[(Long, Long)].collect().toMap
      qs.foreach { case (qid, _) => assert(top1(qid) == qid, s"insert $qid") }
      // vacuum the inserted ids back out
      val h2 = h1.vacuum(spark, extra.map(_._1).toSet)
      try {
        val gone = h2.search(spark, qs, 1)
          .select("qid", "id").as[(Long, Long)].collect().toMap
        qs.foreach { case (qid, _) => assert(gone(qid) != qid, s"vacuum $qid") }
        // survivors still exact
        val q = Array.fill(16)(0.25f)
        val got = h2.search(spark, Array(0L -> q), 10)
          .select("id").as[Long].collect().toSeq
        assert(got == brute(q, 10))
      } finally h2.unpersist()
    } finally h1.unpersist()
  }

  test("quantized shards + rerank table recover exact top-k") {
    val s = spark
    import s.implicits._
    val d = Files.createTempDirectory("sv-quant").toString
    ShardedVamana.build(df, "id", "vec", d,
      VamanaConfig(m = 24, bits = 8), shards = 4)
    val h = ShardedVamana.load(spark, d)
    try {
      assert(h.cfg.bits == 8)
      val rng = new scala.util.Random(13)
      val queries = Array.tabulate(4)(i =>
        i.toLong -> Array.fill(16)(rng.nextFloat() * 2 - 1))
      val got = h.search(spark, queries, 10, ef = 96,
          rerankTable = Some((df, "id", "vec")))
        .select("qid", "id", "rn").as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
      queries.foreach { case (qid, q) =>
        assert(got(qid) == brute(q, 10), s"qid $qid")
      }
    } finally h.unpersist()
  }

  test("rerank-table rows: a NULL vector scores nothing and a duplicated " +
       "id keeps its best distance, top-k and range") {
    val s = spark
    import s.implicits._
    val h = ShardedVamana.load(spark, dir)
    try {
      val q = Array.fill(16)(0.1f)
      val near = brute(q, 2)
      // a NULL-vector row for the nearest candidate, and a second,
      // closer row for the next one
      val extra = Seq((near(0), null: Array[Float]), (near(1), q))
      val src = (data ++ extra).map { case (id, v) => (id, Option(v).map(_.toSeq)) }
        .toDF("id", "vec")
      val want = (data ++ extra.filter(_._2 != null))
        .map { case (id, v) => (K.l2(v, q), id) }
        .groupBy(_._2).valuesIterator.map(_.min).toSeq.sorted.take(10)
      val got = h.search(spark, Array(0L -> q), 10,
          rerankTable = Some((src, "id", "vec")))
        .select("id", "dist", "rn").as[(Long, Double, Long)].collect().sortBy(_._3)
      assert(got.map(_._1).toSeq == want.map(_._2), s"got=${got.toSeq} want=$want")
      got.map(_._2).zip(want.map(_._1)).foreach { case (d, w) =>
        assert(math.abs(d - w) < 1e-5, s"$d vs $w")
      }
      // the range face under the same table: each id once, at its best
      val r = want.last._1
      val wantIn = want.filter(_._1 < r).map(t => (t._2, t._1)).toMap
      val gotIn = h.rangeSearch(spark, Array((0L, q, r)), ef = 1200,
          rerankTable = Some((src, "id", "vec")))
        .select("id", "dist").as[(Long, Double)].collect()
      assert(gotIn.map(_._1).sorted.toSeq == wantIn.keys.toSeq.sorted,
        s"range got=${gotIn.toSeq} want=$wantIn")
      gotIn.foreach { case (id, d) => assert(math.abs(d - wantIn(id)) < 1e-5, s"$id: $d") }
    } finally h.unpersist()
  }

  test("bits=1 sharded tier: odd-dim load (cmeta dim recovery) + rerank recall floor") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(23)
    // dim 12 is not a multiple of 8: codes bytes are padded, the loader
    // must recover dim from cmeta (normOfLattice^2 = dim at bits=1)
    val odd = (0L until 400L).map(i => i -> Seq.fill(12)(rng.nextFloat() * 2 - 1))
    val odf = odd.toDF("id", "vec")
    val d = Files.createTempDirectory("sv-b1").toString
    ShardedVamana.build(odf, "id", "vec", d,
      VamanaConfig(m = 16, bits = 1), shards = 4)
    val h = ShardedVamana.load(spark, d)
    try {
      assert(h.cfg.bits == 1)
      val queries = Array.tabulate(5)(i =>
        i.toLong -> Array.fill(12)(rng.nextFloat() * 2 - 1))
      val got = h.search(spark, queries, 10, ef = 128,
          rerankTable = Some((odf, "id", "vec")))
        .select("qid", "id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def bruteOdd(q: Array[Float], k: Int): Set[Long] =
        odd.map { case (id, v) => (K.l2(v.toArray, q), id) }
          .sorted.take(k).map(_._2).toSet
      val recalls = queries.map { case (qid, q) =>
        got.getOrElse(qid, Set.empty).intersect(bruteOdd(q, 10)).size / 10.0 }
      val mean = recalls.sum / recalls.length
      assert(mean >= 0.6, s"sharded 1-bit mean recall $mean")
    } finally h.unpersist()
  }

  test("quantized search without rerank table fails loudly (no silent estimates)") {
    val d = Files.createTempDirectory("sv-quant-guard").toString
    ShardedVamana.build(df, "id", "vec", d,
      VamanaConfig(m = 24, bits = 8), shards = 4)
    val h = ShardedVamana.load(spark, d)
    try {
      val q = Array(0L -> Array.fill(16)(0.1f))
      val e = intercept[IllegalArgumentException] { h.search(spark, q, 5) }
      assert(e.getMessage.contains("code-ESTIMATE"))
      assert(e.getMessage.contains("rerankTable"))
      // the explicit opt-in still works
      assert(h.search(spark, q, 5, allowEstimates = true).count() == 5)
    } finally h.unpersist()
  }

  test("insert into a shard emptied by vacuum seeds a fresh shard graph") {
    val s = spark
    import s.implicits._
    val d = Files.createTempDirectory("sv-reseed").toString
    ShardedVamana.build(df, "id", "vec", d, VamanaConfig(m = 24), shards = 4)
    val h0 = ShardedVamana.load(spark, d)
    // vacuum EVERYTHING: every shard drops from the resident RDD
    val h1 = h0.vacuum(spark, data.map(_._1).toSet)
    val empty = h1.search(spark, Array(0L -> Array.fill(16)(0.1f)), 5)
    assert(empty.count() == 0, "fully-vacuumed handle must return nothing")
    // inserts now route to shards with NO resident graph — they must seed
    // fresh shard graphs, not vanish
    val rng = new scala.util.Random(21)
    val fresh = Array.tabulate(30)(i =>
      (7000L + i) -> Array.fill(16)(rng.nextFloat() * 2 - 1))
    val h2 = h1.insertAll(spark, fresh)
    try {
      val got = h2.search(spark, fresh.take(5), 1)
        .select("qid", "id").as[(Long, Long)].collect().toMap
      fresh.take(5).foreach { case (qid, _) => assert(got(qid) == qid) }
    } finally h2.unpersist()
  }

  test("save round-trips the post-insert graph") {
    val s = spark
    import s.implicits._
    val d = Files.createTempDirectory("sv-save").toString
    ShardedVamana.build(df, "id", "vec", d, VamanaConfig(m = 24), shards = 4)
    val h0 = ShardedVamana.load(spark, d)
    val extra = Array(9001L -> Array.fill(16)(0.9f))
    val h1 = h0.insertAll(spark, extra)
    h1.save(spark, d)
    // save must also work to a FRESH dir (snapshot-to-new-location)
    val d2 = Files.createTempDirectory("sv-save-fresh").toString
    h1.save(spark, d2)
    h1.unpersist()
    Seq(d, d2).foreach { dd =>
      val h2 = ShardedVamana.load(spark, dd)
      try {
        val top1 = h2.search(spark, Array(0L -> Array.fill(16)(0.9f)), 1)
          .select("id").as[Long].collect()
        assert(top1.headOption.contains(9001L), s"dir $dd")
      } finally h2.unpersist()
    }
  }

  test("quantized sharded load at a dim the bit width does not divide " +
       "(dim=10, bits=2): search works after load") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val rows = (0L until 200L).map(i => (i, Seq.fill(10)(rng.nextFloat())))
    val d = Files.createTempDirectory("sv-d10").toString
    ShardedVamana.build(rows.toDF("id", "vec"), "id", "vec", d,
      VamanaConfig(m = 8, bits = 2), shards = 3)
    val h = ShardedVamana.load(spark, d)
    try {
      val q = rows(5)._2.toArray
      val got = h.search(spark, Array(0L -> q), 1,
          rerankTable = Some((rows.toDF("id", "vec"), "id", "vec")))
        .select("id").as[Long].collect()
      assert(got.headOption.contains(5L))
    } finally h.unpersist()
  }

  test("empty sharded build (issue_427): all-NULL column loads as zero " +
       "shards, first insert seeds, snapshot round-trips") {
    import spark.implicits._
    val allNull = (0L until 40L).map(i => (i, null: Seq[Float])).toDF("id", "vec")
    val d = Files.createTempDirectory("sv-empty").toString
    ShardedVamana.build(allNull, "id", "vec", d, VamanaConfig(m = 8), shards = 4)
    val h0 = ShardedVamana.load(spark, d)
    try {
      assert(h0.totalVertices == 0L)
      assert(h0.search(spark, Array(0L -> Array.fill(16)(0.5f)), 3).isEmpty)
      // first inserts seed fresh shard graphs (the `fresh` path)
      val rows = (0L until 60L).map { i =>
        val rng = new scala.util.Random(i)
        i -> Array.fill(16)(rng.nextFloat())
      }.toArray
      val h1 = h0.insertAll(spark, rows)
      try {
        assert(h1.totalVertices == 60L)
        val got = h1.search(spark, Array(0L -> rows(7)._2), 1)
          .select("id").as[Long].collect()
        assert(got.headOption.contains(7L))
        h1.save(spark, d)
        val h2 = ShardedVamana.load(spark, d)
        try assert(h2.totalVertices == 60L) finally h2.unpersist()
      } finally h1.unpersist()
    } finally h0.unpersist()
  }

  private def bruteRange(q: Array[Float], r: Double): Seq[Long] =
    data.map { case (id, v) => (id, K.l2(v, q)) }.filter(_._2 < r)
      .map(_._1).sorted

  test("sharded rangeSearch at saturating ef matches brute strict-<") {
    val s = spark
    import s.implicits._
    val h = ShardedVamana.load(spark, dir)
    try {
      val rng = new scala.util.Random(53)
      val queries = Array.tabulate(4)(i =>
        (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1), 1.3 + 0.2 * i))
      val got = h.rangeSearch(spark, queries, ef = data.size)
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      queries.foreach { case (qid, q, r) =>
        assert(got.getOrElse(qid, Nil) == bruteRange(q, r), s"qid $qid")
      }
    } finally h.unpersist()
  }

  test("quantized sharded rangeSearch refuses silent estimates; rerank is exact") {
    val s = spark
    import s.implicits._
    val d = Files.createTempDirectory("sv-quant-range").toString
    ShardedVamana.build(df, "id", "vec", d,
      VamanaConfig(m = 24, bits = 8), shards = 4)
    val h = ShardedVamana.load(spark, d)
    try {
      val q = Array.fill(16)(0.1f)
      val e = intercept[IllegalArgumentException] {
        h.rangeSearch(spark, Array((0L, q, 1.0))).collect()
      }
      assert(e.getMessage.contains("rerankTable"))
      val rng = new scala.util.Random(59)
      val queries = Array.tabulate(3)(i =>
        (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1), 1.5))
      val got = h.rangeSearch(spark, queries, ef = data.size,
          rerankTable = Some((df, "id", "vec")))
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      queries.foreach { case (qid, qv, r) =>
        assert(got.getOrElse(qid, Nil) == bruteRange(qv, r), s"qid $qid")
      }
    } finally h.unpersist()
  }
}
