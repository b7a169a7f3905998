package graft.index

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import java.nio.file.Files

/**
 * Insert/compact/delete/reindex/external-build lifecycle — mirrors the
 * reference's vacuum.slt, reindex.slt, external_build.slt and
 * external_build_sql_inject.slt validation cases.
 */
class IvfLifecycleSpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("graft-ivf-life").toString

  private lazy val rows: Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(5)
    (0L until 500L).map(i => i -> Seq.fill(8)(rng.nextFloat() * 2 - 1))
  }

  private def brute(data: Seq[(Long, Seq[Float])], q: Array[Float], k: Int): Seq[Long] =
    data.map { case (id, v) => (K.l2(v.toArray, q), id) }.sorted.take(k).map(_._2)

  test("appendDelta makes new rows searchable; compact folds them in") {
    import spark.implicits._
    val (initial, extra) = rows.splitAt(400)
    val idx = IvfIndex.build(initial.toDF("id", "vec"), "id", "vec", freshDir(),
      IvfConfig(lists = 8))
    val q = Array.fill(8)(0.1f)
    idx.appendDelta(extra.toDF("id", "vec"), "id", "vec")
    val withDelta = idx.searchExact(q, 10).select("id").as[Long].collect().toSeq
    assert(withDelta == brute(rows, q, 10), "delta rows must be visible")
    idx.compact()
    val afterCompact = idx.searchExact(q, 10).select("id").as[Long].collect().toSeq
    assert(afterCompact == withDelta, "compaction must not change results")
    assert(idx.prewarm() == 500L)
  }

  test("partial prewarm (codes only) serves estimates; results unchanged; invalidated by append") {
    import spark.implicits._
    val idx = IvfIndex.build(rows.take(400).toDF("id", "vec"), "id", "vec", freshDir(),
      IvfConfig(lists = 8))
    val q = Array.fill(8)(0.15f)
    val cold = idx.search(q, 10, probes = 8, refine = 16)
      .as[(Long, Double)].collect().toSeq
    assert(idx.prewarmCodes() == 400L)
    val warm = idx.search(q, 10, probes = 8, refine = 16)
      .as[(Long, Double)].collect().toSeq
    assert(warm == cold, "codes cache must not change results")
    // mutation invalidates the codes cache (same key discipline as dataDf)
    idx.appendDelta(rows.drop(400).toDF("id", "vec"), "id", "vec")
    val after = idx.searchExact(q, 10).select("id").as[Long].collect().toSeq
    assert(after == brute(rows, q, 10), "appended rows visible past the cache")
  }

  test("delete removes rows; survivors unchanged (vacuum semantics)") {
    import spark.implicits._
    val dir = freshDir()
    val idx = IvfIndex.build(rows.toDF("id", "vec"), "id", "vec", dir, IvfConfig(lists = 8))
    val dead = (0L until 250L)
    idx.delete(dead)
    val q = Array.fill(8)(-0.2f)
    val got = idx.searchExact(q, 10).select("id").as[Long].collect().toSeq
    val survivors = rows.filterNot { case (id, _) => id < 250L }
    assert(got == brute(survivors, q, 10))
    // deleted ids never reappear via ANN search either
    val ann = idx.search(q, 10, probes = 8, refine = 16).select("id").as[Long].collect()
    assert(ann.forall(_ >= 250L))
  }

  test("rebuild from scratch equals fresh build (reindex semantics)") {
    import spark.implicits._
    val d1 = freshDir(); val d2 = freshDir()
    val df = rows.toDF("id", "vec")
    val a = IvfIndex.build(df, "id", "vec", d1, IvfConfig(lists = 8))
    val b = IvfIndex.build(df, "id", "vec", d2, IvfConfig(lists = 8))
    val q = Array.fill(8)(0.33f)
    assert(a.searchExact(q, 20).collect().toSeq == b.searchExact(q, 20).collect().toSeq)
  }

  test("external build: flat centroid table") {
    import spark.implicits._
    val cents = Seq((0L, Seq(0.5f, 0.5f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (1L, Seq(-0.5f, -0.5f, 0f, 0f, 0f, 0f, 0f, 0f))).toDF("id", "vector")
    val idx = IvfIndex.buildExternal(rows.toDF("id", "vec"), "id", "vec",
      freshDir(), cents, IvfConfig(residual = false))
    assert(idx.meta.centroids.length == 2)
    val q = Array.fill(8)(0.4f)
    assert(idx.searchExact(q, 5).select("id").as[Long].collect().toSeq ==
      brute(rows, q, 5))
  }

  test("external build: hierarchical table uses leaves") {
    import spark.implicits._
    val cents = Seq(
      (0L, None: Option[Long], Seq.fill(8)(0f)),             // root
      (1L, Some(0L), Seq.fill(8)(0.5f)),                     // leaf
      (2L, Some(0L), Seq.fill(8)(-0.5f))                     // leaf
    ).toDF("id", "parent", "vector")
    val idx = IvfIndex.buildExternal(rows.toDF("id", "vec"), "id", "vec",
      freshDir(), cents, IvfConfig(residual = false))
    assert(idx.meta.centroids.length == 2)
  }

  test("external build: malformed tables rejected") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    // duplicate ids
    assertThrows[IllegalArgumentException](IvfIndex.buildExternal(df, "id", "vec",
      freshDir(), Seq((0L, Seq(1f)), (0L, Seq(2f))).toDF("id", "vector")))
    // inconsistent dims
    assertThrows[IllegalArgumentException](IvfIndex.buildExternal(df, "id", "vec",
      freshDir(), Seq((0L, Seq(1f)), (1L, Seq(1f, 2f))).toDF("id", "vector")))
    // two roots
    assertThrows[IllegalArgumentException](IvfIndex.buildExternal(df, "id", "vec",
      freshDir(), Seq(
        (0L, None: Option[Long], Seq(1f)),
        (1L, None: Option[Long], Seq(2f)),
        (2L, Some(0L), Seq(3f))).toDF("id", "parent", "vector")))
    // cycle
    assertThrows[IllegalArgumentException](IvfIndex.buildExternal(df, "id", "vec",
      freshDir(), Seq(
        (0L, None: Option[Long], Seq(1f)),
        (1L, Some(2L), Seq(2f)),
        (2L, Some(1L), Seq(3f))).toDF("id", "parent", "vector")))
    // empty
    assertThrows[IllegalArgumentException](IvfIndex.buildExternal(df, "id", "vec",
      freshDir(), Seq.empty[(Long, Seq[Float])].toDF("id", "vector")))
  }

  test("empty build over an all-NULL column (issue_427): declared dim, " +
       "searchable after inserts, compact, reload") {
    import spark.implicits._
    val allNull = (0L until 100L).map(i => (i, null: Seq[Float])).toDF("id", "vec")
    // dim cannot come from the data — undeclared must fail loudly
    assertThrows[IllegalArgumentException](
      IvfIndex.build(allNull, "id", "vec", freshDir(), IvfConfig(lists = 8)))
    // declared dim on NON-empty data must match (typmod check, S13)
    assertThrows[IllegalArgumentException](
      IvfIndex.build(rows.toDF("id", "vec"), "id", "vec", freshDir(),
        IvfConfig(lists = 8, dim = 9)))
    val dir = freshDir()
    val idx = IvfIndex.build(allNull, "id", "vec", dir,
      IvfConfig(lists = 8, dim = 8))
    val q = Array.fill(8)(0.1f)
    assert(idx.rowCount == 0L)
    assert(idx.search(q, 10).isEmpty)
    assert(idx.rangeSearch(q, 0.5).isEmpty)
    assert(idx.searchMany(Array(1L -> q), 10).isEmpty)
    assert(IvfIndex.rangeSearchManyMulti(Seq(idx), Array((1L, q, 0.5))).isEmpty)
    // the create-then-insert lifecycle the reference's AM serves
    val extra = rows.take(50)
    idx.appendDelta(extra.toDF("id", "vec"), "id", "vec")
    assert(idx.searchExact(q, 10).select("id").as[Long].collect().toSeq ==
      brute(extra, q, 10), "inserted rows searchable in the empty-built index")
    idx.compact()
    assert(idx.searchExact(q, 10).select("id").as[Long].collect().toSeq ==
      brute(extra, q, 10), "compaction preserves results")
    // reload exercises the explicit-schema read of the (fileless) gen dir
    val re = IvfIndex.load(spark, dir)
    assert(re.searchExact(q, 10).select("id").as[Long].collect().toSeq ==
      brute(extra, q, 10), "reloaded index serves the same results")
    // f16 storage variant: binary vec schema on an empty generation
    val idx16 = IvfIndex.build(allNull, "id", "vec", freshDir(),
      IvfConfig(lists = 4, dim = 8, storage = "f16"))
    assert(idx16.rowCount == 0L && idx16.search(q, 5).isEmpty)
  }
}
