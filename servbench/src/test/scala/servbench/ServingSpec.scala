package servbench

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class ServingSpec extends AnyFunSuite {

  private def sample(route: String, ms: Double, at: Long): Sample =
    Sample(route, "json", at * 1000000L, ms, 200, cached = false, bytes = 0, error = None)

  test("work is read over the whole cycles of the mix, the median over all samples") {
    val render = Req.Render(Seq("a.b"), 0L, 3600L, 100L, "json")
    val find = Req.Find("a.*", "json")
    // two cycles of (render 100 ms, find 10 ms), then a slow render outside them
    val samples = Vector(
      render -> sample("render", 100, 0), find -> sample("find", 10, 1),
      render -> sample("render", 100, 2), find -> sample("find", 10, 3),
      render -> sample("render", 1000, 4))
    val m = Serving.e2e(samples, 1.0, _ => 50L, cycle = 2)
    assert(m("req_p50_ms") == 100.0)
    assert(m("work_per_s") == 2 * 50 / 0.2)
    // fewer samples than one cycle: all of them
    assert(Serving.e2e(samples.take(1), 1.0, _ => 50L, cycle = 2)("work_per_s") == 50 / 0.1)
  }

  test("a closed loop stops after `limit` requests") {
    val n = new AtomicInteger()
    val req = Req.Find("a.*", "json")
    val out = Serving.closedLoop(4, 60, () => req, r => sample(r.route, 1, n.incrementAndGet()), limit = 20)
    assert(out.size == 20 && n.get == 20)
  }
}
