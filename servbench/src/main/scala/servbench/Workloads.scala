package servbench

import java.time.Instant

import graft.api.HttpApi

/** The two static-store HTTP workloads. */
object Workloads {

  def covered(model: Model)(req: Req): Long = req match {
    case r: Req.Render => model.expectRender(r).map(_.covered).sum
    case _ => 0L
  }

  /** Shared body of `dashboard` and `bulk_render`: set up, warm up,
    * then either the measured closed loop or the two traced phases.
    * Before the measured loop, `prime` requests of the sequence are sent
    * untimed, so every entry they hold is in the find cache whatever
    * order the clients' answers arrived in, and each plan shape has run
    * once.
    */
  private def serve(h: Harness, model: Model, fingerprint: String, cfg: HttpApi.Config, first: Req,
      warm: Seq[Req], next: () => Req, tracedNext: () => Req, clients: Int, cycle: Int, prime: Int): Outcome = {
    val clock = () => Instant.ofEpochSecond(Stores.Now)
    val served = Serving.setUp(h, model, cfg, clock, first)
    val check = (r: Req, s: Int, b: Array[Byte]) => Check(model, r, s, b)
    val warmed = warm.map(r => Serving.exchange(served.client, r, check))
    val (storeBytes, storeFiles) = Serving.dirBytes(new java.io.File(served.dir))
    val notes = Seq(s"inputs $fingerprint", f"set-up ${served.setupSec}%.2f s",
      s"store ${model.points} points, $storeFiles files, $storeBytes B")
    try {
      if (!h.args.trace) {
        val send = (r: Req) => Serving.exchange(served.client, r, check)
        val primed = Serving.closedLoop(clients, 120, next, send, limit = prime).map(_._2)
        h.jvm.start()
        val samples = Serving.closedLoop(clients, h.args.seconds, next, send)
        val (heap, _) = h.jvm.stop()
        val e2e = Serving.e2e(samples, served.setupSec, covered(model), cycle)
        val all = warmed ++ primed ++ samples.map(_._2)
        Outcome(all.size, all.count(_.error.isDefined), all.flatMap(_.error), e2e, Map.empty,
          Serving.report(samples, e2e, storeBytes.toDouble / model.points, heap), notes)
      } else {
        val half = h.args.seconds / 2.0
        val plain = Serving.closedLoop(1, half, tracedNext, r => Serving.exchange(served.client, r, check))
        h.attachListener()
        h.jvm.start()
        val direct = new Direct(h.spark, served.dir, cfg, h.tracer, clock)
        val (traced, samples) = Serving.tracedLoop(h, half, tracedNext, served.client, direct, check)
        val (_, gc) = h.jvm.stop()
        h.listener.foreach(_.awaitQuiet())
        val layers = Layers.serving(traced, h.tracer.all, h.listener.map(_.bySpan).getOrElse(Map.empty)) ++
          Layers.overhead(plain.map(_._2), samples) ++
          Map("store.files" -> storeFiles.toDouble, "jvm.gc_ms_per_s" -> gc)
        val all = warmed ++ plain.map(_._2) ++ samples
        Outcome(all.size, all.count(_.error.isDefined), all.flatMap(_.error), Map.empty, layers, Nil,
          notes :+ s"traced ${traced.size} requests, ${traced.count(_.identical)} byte-identical replays")
      }
    } finally served.api.stop()
  }

  def dashboard(h: Harness): Outcome = {
    val d = Stores.dashboard(h.args.seed)
    val model = new Model(d.specs)
    val anyPlain = model.plain.head.path
    val first = Req.Render(Seq(anyPlain), Stores.Now - 3600, Stores.Now, 1000, "json")
    // one request per route, outside the catalogue so the find cache
    // starts cold for it
    val warm = Seq(
      Req.Render(Seq(anyPlain.split('.').updated(3, "*").mkString(".")), Stores.Now - 7200, Stores.Now, 600, "pickle"),
      Req.Find(anyPlain.split('.').take(2).mkString(".") + ".*.*", "protobuf"),
      Req.Tags(None, Nil, ""),
      Req.Prom(s"sum by (host) (rate(${model.tagged.find(_.counter).get.path.takeWhile(_ != '?')}[5m]))",
        Stores.Now - 1800, Stores.Now, 60))
    val seq = d.catalogue.sequence()
    val traced = d.catalogue.sequence("RFTP")
    serve(h, model, d.fingerprint, Harness.config(findCache = true), first, warm, () => seq.next(),
      () => traced.next(), h.cores, Catalogue.Mix.length, prime = Catalogue.Mix.length)
  }

  /** The reference's published render shape: one glob over 986 metrics,
    * 7 days, `maxDataPoints=100`, cycled through the four formats, plus
    * one PromQL aggregate over every tagged series for a day. Windows
    * shift by a minute per request and bypass the find cache, so every
    * render does its full find.
    */
  def bulk(h: Harness): Outcome = {
    val b = Stores.bulk(h.args.seed)
    val model = new Model(b.specs)
    val formats = Vector("pickle", "protobuf", "carbonapi_v3_pb", "json")
    def request(k: Int): Req = {
      val shift = (k % 30) * 60L
      if (k % 5 == 4) Req.Prom(s"sum by (dc) (rate(${b.counter}[5m]))", Stores.Now - Stores.Day + 600 - shift,
        Stores.Now - shift, 300)
      else Req.Render(Seq(b.glob), Stores.Now - 7 * Stores.Day - shift, Stores.Now - shift, 100, formats(k % 5),
        noCache = true)
    }
    val first = Req.Render(Seq(model.plain.head.path), Stores.Now - 3600, Stores.Now, 100, "json")
    val warm = Seq(request(1000))
    val counter = Iterator.from(0)
    val next = () => request(counter.next())
    serve(h, model, b.fingerprint, Harness.config(findCache = true), first, warm, next, next, 1, cycle = 5, prime = 0)
  }
}
