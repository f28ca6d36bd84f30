package servbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 95) == 95.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Vector(7.0), 95) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the tail percentile keeps at least ten samples beyond it") {
    assert(Stats.beyond(200, 95) == 10)
    assert(Stats.tailPercentile(200).contains(95))
    assert(Stats.tailPercentile(1000).contains(95)) // capped at p95
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(25).contains(60))
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(19).isEmpty)
    for (n <- 20 to 400; p <- Stats.tailPercentile(n)) {
      assert(Stats.beyond(n, p) >= 10)
      if (p < 95) assert(Stats.beyond(n, p + 1) < 10)
    }
  }

  test("a sample too small for any tail percentile reports its maximum") {
    assert(Stats.tail(Seq(5.0, 1.0, 9.0)) == ((9.0, 100)))
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 90)))
  }

  test("union length counts overlapping intervals once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((5L, 5L))) == 0L)
  }

  test("self time subtracts the part of the span its children cover") {
    // children cover [10, 50) and [90, 100) of the span; the last one
    // runs past the span's end and is clipped
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50L)
    assert(Stats.selfTime((0L, 100L), Nil) == 100L)
    assert(Stats.selfTime((0L, 100L), Seq((0L, 100L))) == 0L)
  }
}
