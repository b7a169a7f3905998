package graft.plans

import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the serve/decline COST-GATE boundaries (round-16 verdict, What's
 * wrong #2): the served-route oracle queries pin `graft.ann.cost.enable
 * =false` because at toy scale the exact scan is rightly cheaper — so no
 * CORRECTNESS row exercises the gates' serve-side decisions, yet the
 * sliced serve's flagship economics (COVERAGE.md's KNN-join anchor: 38.6x faster
 * than exact at 1M rows, 2.4x at 100k, both at ~0.98 recall) depend on
 * the gate NOT wrongly declining at real scale. These tests compute,
 * per tier, the smallest corpus N at which the gate flips to serve
 * (against [[CostGates]] — the SAME functions the planner routes call)
 * and assert each boundary sits orders of magnitude below the anchor's
 * measured break-even.
 */
class CostGateBoundarySpec extends AnyFunSuite {

  /** Smallest N in [1, hi] where the gate serves, requiring the flip to
    * be MONOTONE across the scan (serve at N implies serve at N+1 under
    * a fixed config — a gate that flapped with N would make the
    * boundary meaningless). */
  private def boundary(hi: Long)(serveAt: Long => Boolean): Long = {
    var flip = -1L
    var n = 1L
    while (n <= hi) {
      val s = serveAt(n)
      if (s && flip < 0) flip = n
      if (!s && flip >= 0)
        fail(s"gate is not monotone in N: served at $flip, declined at $n")
      n = if (n < 4096) n + 1 else n + math.max(1L, n / 64)
    }
    assert(flip > 0, s"gate never served up to $hi")
    flip
  }

  test("IVF join gate at the anchor's exact shape serves far below the " +
       "measured 100k break-even") {
    // COVERAGE.md's KNN-join anchor: lists=64, probes=16, k=5, refine=16 — measured
    // served/exact crossover is BELOW 100k rows (2.4x faster at 100k)
    def serveAt(n: Long) = CostGates.ivf(Seq((n, 64, 16)), k = 5, refine = 16)
    val b = boundary(1000000L)(serveAt)
    assert(b < 200, s"IVF anchor-shape boundary $b — the gate would " +
      "decline serves the anchor measured as profitable")
    assert(serveAt(100000L) && serveAt(1000000L),
      "the gate must serve at the anchor's measured-profitable scales")
  }

  test("IVF gate with production auto-scaling (lists ~ sqrt N, probes " +
       "auto) serves from a few hundred rows up") {
    def shape(n: Long): (Long, Int, Int) = {
      val lists = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
      val probes = math.max(1, math.ceil(math.sqrt(lists.toDouble)).toInt)
      (n, lists, probes)
    }
    def serveAt(n: Long) = CostGates.ivf(Seq(shape(n)), k = 10, refine = 8)
    val b = boundary(10000L)(serveAt)
    assert(b < 500, s"auto-shape boundary $b")
    // spot-check the big end (the scan above stops at 10k): 0.3*N^(3/4)
    // + bounded rerank stays sublinear, so the serve margin only grows
    Seq(100000L, 10000000L, 1000000000L).foreach { n =>
      assert(CostGates.ivf(Seq(shape(n)), 10, 8), s"declined at $n")
    }
    // multi-root: 16 children of N/16 rows each flip at the same order
    // of magnitude (the gate sums per-root work against the summed scan)
    def serveMulti(n: Long) =
      CostGates.ivf(Seq.fill(16)(shape(n / 16)), k = 10, refine = 8)
    assert(serveMulti(100000L) && serveMulti(1000000L))
  }

  test("graph gate boundary = beams + fetch; toy fixtures rightly decline") {
    def serveAt(n: Long) = CostGates.graph(1, n, ef = 64, k = 10)
    assert(boundary(10000L)(serveAt) == 75) // ef + k + 1
    // the graph-join oracle fixture (2 graphs x ~250 vertices, ef=256
    // pinned for saturation) is BELOW the gate — the queries' pinned
    // cost.enable=false is correct at toy scale, not a workaround
    assert(!CostGates.graph(2, 500, ef = 256, k = 10))
    // production shape: one graph per partition, ef=64 — serves once
    // vertices outnumber the beam
    assert(CostGates.graph(16, 100000, ef = 64, k = 10))
  }

  test("sharded gate boundary = shards x ef; serves at resident-RDD scale") {
    def serveAt(n: Long) = CostGates.sharded(32, n, ef = 64, k = 10)
    assert(boundary(100000L)(serveAt) == 32L * 64 + 10 + 1)
    // the sharded oracle fixture (500-2000 rows over 32 shards, ef=256)
    // rightly declines — the pin is correct there too
    assert(!CostGates.sharded(32, 2000, ef = 256, k = 10))
    // the tier's design point (millions of rows over 32 shards) serves
    assert(CostGates.sharded(32, 1000000, ef = 64, k = 10))
  }

  test("maxsim gate serves once docs outgrow pools; token count cancels " +
       "at scale") {
    def serveAt(n: Long) =
      CostGates.maxsim(Seq((n, 64, 8)), meanTokens = 32, kPerToken = 100,
        k = 10, refine = 8)
    val b = boundary(100000L)(serveAt)
    assert(b < 1000, s"maxsim boundary $b")
    assert(serveAt(100000L) && serveAt(10000000L))
    // a single-token query still flips at bounded N (the rescore term
    // k*refine*32 is amortized per query, not per token)
    def serve1(n: Long) =
      CostGates.maxsim(Seq((n, 64, 8)), meanTokens = 1, kPerToken = 100,
        k = 10, refine = 8)
    assert(boundary(1000000L)(serve1) < 10000)
  }

  test("refine-limited hint fires at the anchor's 1M shape, stays quiet " +
       "on toy fixtures") {
    // the anchor measured recall 0.93 -> 0.98 going refine 16 -> 64 at
    // 1M rows / 64 lists, k=5 — the hint must fire there
    assert(CostGates.refineLimited(1000000L, 64, k = 5, refine = 16))
    // and still fire at the improved-but-still-bound refine=64
    assert(CostGates.refineLimited(1000000L, 64, k = 5, refine = 64))
    // toy oracle fixtures (hundreds of rows, lists=8-16) stay quiet
    assert(!CostGates.refineLimited(500L, 8, k = 3, refine = 16))
    assert(!CostGates.refineLimited(2000L, 16, k = 5, refine = 16))
  }
}
