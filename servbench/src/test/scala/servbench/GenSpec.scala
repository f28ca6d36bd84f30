package servbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same inputs, another seed other inputs") {
    assert(Stores.dashboard(7).fingerprint == Stores.dashboard(7).fingerprint)
    assert(Stores.dashboard(7).fingerprint != Stores.dashboard(8).fingerprint)
    assert(Stores.bulk(7).fingerprint == Stores.bulk(7).fingerprint)
    assert(Stores.bulk(7).fingerprint != Stores.bulk(8).fingerprint)
    assert(new LivePlan(7, 1000, 1010).fingerprint == new LivePlan(7, 2000, 2010).fingerprint)
    assert(new LivePlan(7, 1000, 1010).fingerprint != new LivePlan(8, 1000, 1010).fingerprint)
    assert(Corpus.generate(7, 200).fingerprint == Corpus.generate(7, 200).fingerprint)
    assert(Corpus.generate(7, 200).fingerprint != Corpus.generate(8, 200).fingerprint)
  }

  test("seeds change names and values, not the shape of the work") {
    val (a, b) = (Stores.dashboard(1), Stores.dashboard(2))
    assert(a.specs.map(_.points) == b.specs.map(_.points))
    assert(a.catalogue.classes.map(_.size) == b.catalogue.classes.map(_.size))
    val shape = (r: Req) => r match {
      case x: Req.Render => (x.until - x.from, x.mdp, x.format)
      case x => (0L, 0L, x.route)
    }
    assert(a.catalogue.sequence().take(100).map(shape).toList == b.catalogue.sequence().take(100).map(shape).toList)
    assert(Stores.bulk(1).specs.map(_.points) == Stores.bulk(2).specs.map(_.points))
  }

  test("the bulk glob matches exactly 986 metrics") {
    val b = Stores.bulk(3)
    assert(new Model(b.specs).globPaths(b.glob).size == 986)
  }

  test("every stored point is delivered once, plus seeded late and duplicate copies") {
    val spec = Stores.dashboard(5).specs.head
    val delivered = (0 until spec.batches).flatMap(b => spec.series.indices.flatMap(i => spec.lines(i, b)))
    assert(delivered.distinct.size == spec.points)
    assert(delivered.size > spec.points) // duplicates
    val late = spec.series.indices.exists(i => (0 until spec.pointsPerSeries).exists(j =>
      spec.batchOf(i, j) != (j.toLong * spec.batches / spec.pointsPerSeries).toInt))
    assert(late)
  }

  test("live plan: each point's first delivery is in exactly one batch") {
    val plan = new LivePlan(3, 10000, 10010)
    val firsts = (-1 to 6).flatMap(k => plan.lines(k).filter(_.first).map(l => (l.series.path, l.t)))
    assert(firsts.distinct.size == firsts.size)
    val scheduled = (-1 to 5).flatMap(k => plan.scheduled(k).map { case (s, t) => (s.path, t) })
    assert(scheduled.toSet.subsetOf(firsts.toSet))
    assert((-1 to 6).flatMap(plan.lines).exists(!_.first))
    assert(plan.seriesIn(4).size == plan.base.size + 15)
  }

  test("corpus: planted near duplicates sit above the threshold, far variants below") {
    val c = Corpus.generate(4, 400)
    assert(c.nearJaccard.nonEmpty && c.nearJaccard.forall(j => j > 0.7 && j < 0.95))
    val text = c.docs.map(d => d._1 -> d._2).toMap
    // quality score as the engine defines it: half length (64 words
    // saturate), half letters-and-spaces share
    def quality(t: String): Double = {
      val words = t.trim.split("\\s+").length
      0.5 * math.min(words / 64.0, 1.0) + 0.5 * t.count(ch => ch.isLetter || ch == ' ').toDouble / t.length
    }
    assert(c.idsOf("low").forall(id => quality(text(id)) < 0.6))
    assert(c.idsOf("unique").forall(id => quality(text(id)) > 0.95))
    val evalShingles = c.evalSet.flatMap(Corpus.shingles(_, 5)).toSet
    assert(c.idsOf("contaminated").forall(id => (Corpus.shingles(text(id), 5) & evalShingles).size >= 2))
    assert(c.idsOf("unique").forall(id => (Corpus.shingles(text(id), 5) & evalShingles).isEmpty))
  }
}
