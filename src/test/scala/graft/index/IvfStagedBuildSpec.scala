package graft.index

import graft.SparkSpec
import java.nio.file.Files

/**
 * Staged build (IvfConfig.buildPasses > 1): the scratch-bounding build
 * that writes the index in disjoint cluster-range passes — each pass
 * shuffles only its range's rows — instead of one full-table shuffle.
 * Reference anchor: the single-shot 1B x 96d build's shuffle scratch
 * (~94 GB) exceeded this sandbox's free disk; the reference builds
 * incrementally via its shared-memory tape appends
 * (/root/reference/crates/vchordrq/src/algorithm/build.rs), never holding
 * a whole-table intermediate.
 *
 * Contract under test: a staged build is RESULT-identical to a one-pass
 * build — same centroids (k-means runs once, before any pass), same
 * assignment, same rows per cluster — only the write order differs.
 */
class IvfStagedBuildSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-ivf-staged").toString

  private lazy val rows: Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(411)
    (0L until 900L).map(i => i -> Seq.fill(16)(rng.nextFloat() * 2 - 1))
  }

  test("staged build == one-pass build: per-cluster row sets and search " +
       "results identical; ranges partition the cluster space") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val base = IvfConfig(lists = 16, bits = 1, lists1 = 4,
      assignByTree = true, storeVectors = false)
    val d1 = freshDir(); val d3 = freshDir()
    val one = IvfIndex.build(df, "id", "vec", d1, base)
    val staged = IvfIndex.build(df, "id", "vec", d3, base.copy(buildPasses = 3))

    // identical (cluster, id) membership — the staged union covers every
    // row exactly once, in the same cells
    def membership(dir: String): Set[(Int, Long)] =
      spark.read.parquet(s"$dir/gen-0").select("cluster_id", "id")
        .as[(Int, Long)].collect().toSet
    val m1 = membership(d1); val m3 = membership(d3)
    assert(m3 == m1, "staged membership differs from one-pass")
    assert(m1.size == rows.size, "row lost or duplicated")

    // identical search results (codes-only: the estimate pools)
    val qs = Array(Array.fill(16)(0.3f), Array.fill(16)(-0.4f))
    def est(ix: IvfIndex) = IvfIndex.multiEstimateCandidates(Seq(ix), qs, 10,
      Seq(16), epsilon = 0.0)._1.map(t => (t._2, t._3)).sorted.toSeq
    assert(est(staged) == est(one), "staged search differs from one-pass")
  }

  test("staged build with stored vectors + rerank stays exact; passes > " +
       "lists clamps instead of emitting empty jobs") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val dir = freshDir()
    // buildPasses far above lists: must clamp to lists, not loop on
    // empty ranges or fail
    val idx = IvfIndex.build(df, "id", "vec", dir,
      IvfConfig(lists = 8, buildPasses = 64))
    val q = Array.fill(16)(-0.2f)
    val brute = rows.map { case (id, v) =>
      (graft.core.VectorKernels.l2(v.toArray, q), id)
    }.sorted.take(10).map(_._2)
    assert(idx.search(q, 10, probes = 8, refine = 40)
      .select("id").as[Long].collect().toSeq == brute)
    assert(idx.searchExact(q, 10).select("id").as[Long].collect().toSeq == brute)
  }

  test("buildPasses validation: zero rejected") {
    val e = intercept[IllegalArgumentException](
      IvfConfig(buildPasses = 0).validate())
    assert(e.getMessage.contains("buildPasses"))
  }
}
