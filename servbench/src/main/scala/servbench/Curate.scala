package servbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, md5}

import graft.Lineage
import graft.llm.{Decontaminate, Dedup, Pipeline, TextStats}

/** A seeded corpus with planted ground truth. Every document is one of:
  * `unique` (clean, kept), `exact` (a case/whitespace variant of an
  * earlier document, dropped), `near` (an earlier document with a few
  * words swapped, Jaccard ≈ 0.8 over 3-word shingles, dropped),
  * `far` (40 % of words swapped, Jaccard < 0.3, kept), `low` (short
  * and digit-heavy, fails the quality gate) or `contaminated` (carries
  * a 15-word span of an evaluation document, dropped).
  */
final case class Corpus(docs: Vector[(Long, String, String)], evalSet: Vector[String], nearJaccard: Vector[Double]) {
  def idsOf(kind: String): Set[Long] = docs.collect { case (id, _, k) if k == kind => id }.toSet
  def fingerprint: String = {
    val fp = new Fingerprint()
    docs.foreach(d => fp.add(d._1).add(d._2).add(d._3))
    evalSet.foreach(fp.add)
    fp.hex
  }
}

object Corpus {
  def shingles(text: String, w: Int): Set[String] =
    text.trim.split("\\s+").sliding(w).filter(_.length == w).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a, 3), shingles(b, 3))
    (x & y).size.toDouble / (x | y).size
  }

  def generate(seed: Long, uniques: Int): Corpus = {
    val rng = new Rng(seed ^ 0xC0DEL)
    val vocab = rng.words(3000)
    def text(n: Int): Vector[String] = Vector.fill(n)(vocab(rng.int(vocab.size)))
    def swap(ws: Vector[String], k: Int): Vector[String] =
      (0 until k).foldLeft(ws)((acc, _) => acc.updated(rng.int(acc.size), vocab(rng.int(vocab.size))))
    val evalSet = Vector.fill(30)(text(60).mkString(" "))
    val out = Vector.newBuilder[(Long, String, String)]
    val near = Vector.newBuilder[Double]
    var id = 0L
    def add(t: String, kind: String): Unit = { id += 1; out += ((id, t, kind)) }
    val bases = Vector.fill(uniques)(text(rng.between(80, 120)))
    bases.foreach(ws => add(ws.mkString(" "), "unique"))
    bases.indices.foreach { i =>
      val ws = bases(i)
      Mix.below(Mix.hash(seed, i, 7), 20) match {
        case 0 => add(ws.map(_.capitalize).mkString("  "), "exact")
        case 1 | 2 =>
          val t = swap(ws, 3).mkString(" ")
          near += jaccard(ws.mkString(" "), t); add(t, "near")
        case 3 => add(swap(ws, ws.size * 2 / 5).mkString(" "), "far")
        case 4 | 5 =>
          add(Vector.fill(rng.between(10, 20))(s"${vocab(rng.int(vocab.size)).take(2)}${rng.int(100000)}").mkString(" "), "low")
        case 6 =>
          val span = evalSet(rng.int(evalSet.size)).split(' ').slice(10, 25)
          val host = text(rng.between(80, 100))
          val at = rng.int(host.size)
          add((host.take(at) ++ span ++ host.drop(at)).mkString(" "), "contaminated")
        case _ =>
      }
    }
    Corpus(out.result(), evalSet, near.result())
  }
}

/** `curate_batch`: curation jobs over the seeded corpus, one at a time.
  * Each job reads the corpus parquet, runs
  * `Pipeline.curateDecontaminated` and collects the surviving ids,
  * which are checked against the planted truth.
  */
object Curate {

  val Uniques = 1000
  val NearRecallFloor = 0.9

  def check(c: Corpus, survivors: Set[Long]): Option[String] = {
    def leaked(kind: String) = (c.idsOf(kind) & survivors).size
    val lost = (c.idsOf("unique") ++ c.idsOf("far")) -- survivors
    val near = c.idsOf("near")
    val recall = (near -- survivors).size.toDouble / near.size
    if (leaked("exact") > 0) Some(s"${leaked("exact")} planted exact duplicates survived")
    else if (leaked("contaminated") > 0) Some(s"${leaked("contaminated")} contaminated documents survived")
    else if (leaked("low") > 0) Some(s"${leaked("low")} low-quality documents survived")
    else if (lost.nonEmpty) Some(s"${lost.size} clean documents were dropped, e.g. ${lost.take(3)}")
    else if (recall < NearRecallFloor) Some(f"near-duplicate recall $recall%.3f below $NearRecallFloor")
    else None
  }

  def run(h: Harness): Outcome = {
    import h.spark.implicits._
    val t0 = System.nanoTime()
    val corpus = Corpus.generate(h.args.seed, Uniques)
    val docsDir = h.dir("corpus"); val evalDir = h.dir("eval")
    corpus.docs.map(d => (d._1, d._2)).toDF("doc_id", "text").repartition(h.cores).write.parquet(docsDir)
    corpus.evalSet.toDF("text").write.parquet(evalDir)
    def docs: DataFrame = h.spark.read.parquet(docsDir)
    def evalSet: DataFrame = h.spark.read.parquet(evalDir)

    def job(): (Set[Long], Double) = {
      val s = System.nanoTime()
      val ids = Pipeline.curateDecontaminated(docs, evalSet).select("doc_id").as[Long].collect().toSet
      (ids, (System.nanoTime() - s) / 1e6)
    }
    // set-up ends with the first job answered and checked; four more
    // unmeasured jobs finish the warm-up (job times still fall over the
    // first few, as the JIT compiles the pipeline's hot paths)
    val (firstIds, _) = job()
    check(corpus, firstIds).foreach(e => throw new IllegalStateException(s"set-up job wrong: $e"))
    val setupSec = h.sessionSec + (System.nanoTime() - t0) / 1e9
    val warm = (1 to 4).flatMap(_ => check(corpus, job()._1))
    val notes = Seq(s"inputs ${corpus.fingerprint}", f"set-up $setupSec%.2f s",
      s"corpus ${corpus.docs.size} documents, ${corpus.idsOf("near").size} near duplicates at Jaccard " +
        f"${corpus.nearJaccard.min}%.2f–${corpus.nearJaccard.max}%.2f")

    val deadline = System.nanoTime() + h.args.seconds * 1000000000L
    if (!h.args.trace) {
      h.jvm.start()
      val runs = Iterator.continually(job()).takeWhile(_ => System.nanoTime() < deadline).toVector
      val done = if (runs.isEmpty) Vector(job()) else runs
      val (heap, _) = h.jvm.stop()
      val errors = warm ++ done.flatMap(r => check(corpus, r._1))
      val ms = done.map(_._2)
      val e2e = Map(
        "setup_s" -> setupSec,
        "req_p50_ms" -> Stats.median(ms),
        "throughput_rps" -> done.size / (ms.sum / 1000.0),
        "work_per_s" -> corpus.docs.size / (Stats.median(ms) / 1000.0))
      val (tail, pct) = Stats.tail(ms)
      val report = Seq(("setup_s", "s", setupSec), ("job_p50_ms", "ms", Stats.median(ms)),
        (s"job_p95_ms(p$pct,n=${ms.size})", "ms", tail), ("batch_docs_per_s", "1/s", e2e("work_per_s")),
        ("retained_heap_mb", "MB", heap), ("fail_ratio", "ratio", errors.size.toDouble / done.size))
      Outcome(done.size + 5, errors.size, errors, e2e, Map.empty, report,
        notes :+ s"job ms ${ms.map(x => f"$x%.0f").mkString(" ")}")
    } else {
      val (untracedIds, untracedMs) = job()
      h.attachListener()
      h.jvm.start()
      val tr = h.tracer
      var errors = warm.toVector ++ check(corpus, untracedIds)
      val counts = Vector.newBuilder[(Long, Long)]
      var request = 0L
      while (request == 0 || System.nanoTime() < deadline) {
        request += 1
        val whole = tr.span("llm.pipeline", request) {
          Pipeline.curateDecontaminated(docs, evalSet).select("doc_id").as[Long].collect().toSet
        }
        // the same pipeline, one materialized stage per span
        val parts = tr.span("curate", request) {
          val quality = tr.span("llm.quality")(Lineage.truncate(
            docs.where(TextStats.qualityScoreRaw(col("text")) >= 0.75)))
          val exact = tr.span("llm.exact")(Lineage.truncate(
            Dedup.exactKeep(quality, md5(Dedup.normalizedText(col("text"))))))
          val candidates = tr.span("llm.candidates")(Dedup.minhashNearDups(exact, col("text"), col("doc_id"),
            threshold = 0.0).count())
          val pairs = tr.span("llm.minhash")(Lineage.truncate(
            Dedup.minhashNearDups(exact, col("text"), col("doc_id"), threshold = 0.5).select("id_a", "id_b")))
          val verified = pairs.count()
          val kept = tr.span("llm.neardup")(Lineage.truncate(Dedup.nearDupKeep(exact, pairs)))
          val ids = tr.span("llm.decon") {
            kept.join(Decontaminate.contaminated(kept, evalSet, col("text"), col("doc_id"), col("text"),
              w = 5, minShared = 2).select("doc_id"), Seq("doc_id"), "left_anti")
              .select("doc_id").as[Long].collect().toSet
          }
          (ids, candidates, verified)
        }
        errors ++= check(corpus, whole).toSeq
        if (parts._1 != whole) errors :+= "stage-by-stage replay differs from Pipeline.curateDecontaminated"
        counts += ((parts._2, parts._3))
      }
      val (_, gc) = h.jvm.stop()
      h.listener.foreach(_.awaitQuiet())
      val spans = tr.all
      val exec = h.listener.map(_.bySpan).getOrElse(Map.empty)
      val sums = spans.filter(_.parent != 0).groupBy(_.name).map { case (n, ss) =>
        n -> ss.groupBy(_.request).map { case (r, xs) => r -> xs.map(_.ms).sum } }
      val pipelineSpans = spans.filter(_.name == "llm.pipeline")
      val pairs = counts.result()
      val layers = Map(
        "llm.quality_ms" -> Layers.medianOf(sums, "llm.quality"),
        "llm.exact_ms" -> Layers.medianOf(sums, "llm.exact"),
        "llm.minhash_ms" -> Layers.medianOf(sums, "llm.minhash"),
        "llm.neardup_ms" -> Layers.medianOf(sums, "llm.neardup"),
        "llm.decon_ms" -> Layers.medianOf(sums, "llm.decon"),
        "llm.candidates_per_dup" -> pairs.map(_._1).sum.toDouble / math.max(1L, pairs.map(_._2).sum),
        "llm.jobs" -> Stats.median(pipelineSpans.map(s => exec.getOrElse(s.id, Exec()).jobs.toDouble)),
        "jvm.gc_ms_per_s" -> gc) ++
        Layers.spark(pipelineSpans.map(s => s.request -> exec.getOrElse(s.id, Exec())).toMap) ++
        Layers.overhead(Seq(Sample("curate", "", 0L, untracedMs, 200, cached = false, 0, None)),
          pipelineSpans.map(s => Sample("curate", "", s.start, s.ms, 200, cached = false, 0, None)))
      Outcome(request + 6, errors.size, errors, Map.empty, layers, Nil,
        notes :+ s"traced $request jobs, each replayed stage by stage")
    }
  }
}
