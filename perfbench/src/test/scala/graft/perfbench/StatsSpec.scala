package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between ranks like numpy's default") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    assert(math.abs(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 90) - 4.6) < 1e-12)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("tail rule: the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(5).isEmpty)
    assert(Stats.tailPercentile(11).contains(9))
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(1000).contains(99))
    for (n <- 11 to 400) {
      val p = Stats.tailPercentile(n).get
      assert(Stats.samplesBeyond(n, p) >= 10, s"n=$n p=$p")
      if (p < 99) assert(Stats.samplesBeyond(n, p + 1) < 10, s"n=$n p=${p + 1} also qualifies")
    }
  }

  test("samplesBeyond counts samples ranked strictly above the percentile") {
    assert(Stats.samplesBeyond(100, 90) == 10)
    assert(Stats.samplesBeyond(100, 91) == 9)
    assert(Stats.samplesBeyond(8, 50) == 4)
  }

  test("recall@k: share of the exact top-k found, order-insensitive") {
    val truth = (1L to 10L)
    assert(Stats.recallAtK(truth.reverse, truth, 10) == 1.0)
    assert(Stats.recallAtK((1L to 9L) :+ 99L, truth, 10) == 0.9)
    assert(Stats.recallAtK(Seq(99L, 98L), truth, 10) == 0.0)
    // only the answer's first k count
    assert(Stats.recallAtK(Seq(50L, 1L, 2L), Seq(1L, 2L, 3L), 2) == 0.5)
    // a truth set shorter than k scores against what exists
    assert(Stats.recallAtK(Seq(1L, 2L, 3L), Seq(1L, 2L), 10) == 1.0)
  }

  test("mix throughput weighs each kind's mean latency by its share") {
    // plain queries are 3 of these 4 samples, but a quarter of the mix
    val s = Seq("plain" -> 100.0, "plain" -> 300.0, "plain" -> 200.0, "filtered" -> 1000.0)
    // 0.25 * 200 ms + 0.75 * 1000 ms = 800 ms per op
    assert(math.abs(Stats.mixThroughput(s, Map("plain" -> 0.25, "filtered" -> 0.75), 1.0) - 1.25) < 1e-12)
    // work per op scales the rate
    val passes = Seq("pass" -> 1000.0, "pass" -> 3000.0)
    assert(Stats.mixThroughput(passes, Map("pass" -> 1.0), 5000.0) == 2500.0)
    assertThrows[IllegalArgumentException](Stats.mixThroughput(s.take(3), Map("filtered" -> 1.0), 1.0))
  }

  test("unionLength merges overlapping, nested and touching intervals") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (20L, 30L))) == 20)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100)
    assert(Stats.unionLength(Seq((10L, 20L), (0L, 10L))) == 20)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
  }

  test("driver gap: op time with no job running, over overlapping jobs") {
    // jobs [10,40) and [30,60) overlap; [90,120) sticks out of the op
    val jobs = Seq((10L, 40L), (30L, 60L), (90L, 120L))
    // busy = [10,60) + [90,100) = 60 of 100
    assert(math.abs(Stats.gapFraction(0L, 100L, jobs) - 0.4) < 1e-12)
    assert(Stats.gapFraction(0L, 100L, Nil) == 1.0)
    assert(Stats.gapFraction(0L, 100L, Seq((-5L, 200L))) == 0.0)
  }

  test("self time subtracts the union of children, clipped to the parent") {
    assert(Stats.selfTime((0L, 100L), Nil) == 100)
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 50L))) == 60)
    assert(Stats.selfTime((0L, 100L), Seq((90L, 150L))) == 90)
  }

  test("Tracer.selfTimes works over a span tree") {
    val spans = Seq(
      Span(1, 1, "op", -1, 0, 100),
      Span(2, 1, "a", 1, 10, 40),
      Span(3, 1, "b", 1, 30, 70),
      Span(4, 1, "job", 3, 35, 45))
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 40)
    assert(self(2) == 30)
    assert(self(3) == 30)
    assert(self(4) == 10)
  }
}
