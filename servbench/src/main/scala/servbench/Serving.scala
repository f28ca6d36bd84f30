package servbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.api.HttpApi

/** One traced exchange: the HTTP round trip and the direct-call replay
  * of the same request (root span id `request`).
  */
final case class Traced(
    request: Long, route: String, httpMs: Double, cached: Boolean, bodyBytes: Int,
    values: Long, paths: Long, groups: Int, identical: Boolean)

/** The HTTP workloads' shared machinery: store set-up, closed-loop
  * clients, the traced replay and the metrics derived from them.
  */
object Serving {

  final case class Served(api: HttpApi, client: Client, dir: String, setupSec: Double)

  /** Set-up: session start, then ingest of the store, serving it and
    * the first answered (and checked) request.
    */
  def setUp(h: Harness, model: Model, cfg: HttpApi.Config, clock: () => Instant, first: Req): Served = {
    val t0 = System.nanoTime()
    val dir = h.dir("store")
    Stores.ingest(h.spark, model.specs, dir)
    val api = h.serve(dir, cfg, clock)
    val client = new Client(api.address)
    val (status, body, _, _, _) = client.send(first)
    Check(model, first, status, body).foreach(e => throw new IllegalStateException(s"set-up request failed: $e"))
    Served(api, client, dir, h.sessionSec + (System.nanoTime() - t0) / 1e9)
  }

  /** Closed loop: `clients` threads each send `next()` and wait for the
    * answer until `seconds` have passed or `limit` requests were sent.
    * Returns samples in send order.
    */
  def closedLoop(clients: Int, seconds: Double, next: () => Req, send: Req => Sample,
      limit: Int = Int.MaxValue): Vector[(Req, Sample)] = {
    val out = new ConcurrentLinkedQueue[(Req, Sample)]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var sent = 0
    def take(): Option[Req] = next.synchronized(if (sent < limit) { sent += 1; Some(next()) } else None)
    val threads = (0 until clients).map { i =>
      val t = new Thread(() => {
        var req = if (System.nanoTime() < deadline) take() else None
        while (req.isDefined) {
          out.add(req.get -> send(req.get))
          req = if (System.nanoTime() < deadline) take() else None
        }
      }, s"servbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toVector.sortBy(_._2.startNs)
  }

  /** Sends one request and checks the answer. */
  def exchange(client: Client, req: Req, check: (Req, Int, Array[Byte]) => Option[String]): Sample = {
    val (status, body, cached, ms, t0) = client.send(req)
    Sample(req.route, req.format, t0, ms, status, cached, body.length, check(req, status, body))
  }

  /** The traced phase: one client; each request is sent over HTTP and
    * replayed through [[Direct]] (alternating which goes first); the
    * replay must reproduce the body byte for byte. `guard` runs around
    * each pair (the live workload holds commits off with it).
    */
  def tracedLoop(h: Harness, seconds: Double, next: () => Req, client: Client, direct: Direct,
      check: (Req, Int, Array[Byte]) => Option[String],
      guard: (=> Traced) => Traced = t => t): (Vector[Traced], Vector[Sample]) = {
    val ids = new AtomicLong()
    val traced = Vector.newBuilder[Traced]
    val samples = Vector.newBuilder[Sample]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val req = next()
      val id = ids.incrementAndGet()
      traced += guard {
        def viaHttp() = client.send(req)
        def viaDirect() = h.tracer.span(req.route, request = id)(direct(req))
        val ((status, body, cached, ms, t0), (dbody, groups)) =
          if (id % 2 == 0) { val a = viaHttp(); (a, viaDirect()) }
          else { val d = viaDirect(); (viaHttp(), d) }
        val identical = java.util.Arrays.equals(body, dbody)
        val err = check(req, status, body).orElse(
          if (identical) None else Some(s"direct-call replay of ${req.uri} differs from the HTTP body"))
        samples += Sample(req.route, req.format, t0, ms, status, cached, body.length, err)
        val (values, paths) = shape(req, body)
        Traced(id, req.route, ms, cached, body.length, values, paths, groups, identical)
      }
    }
    (traced.result(), samples.result())
  }

  /** (values, series or paths) in a correct response body. */
  def shape(req: Req, body: Array[Byte]): (Long, Long) =
    try req match {
      case r: Req.Render => val d = Check.decodeRender(r.format, body); (d.map(_.values.size.toLong).sum, d.size.toLong)
      case f: Req.Find => (0L, Check.decodeFind(f.format, f.query, body).size.toLong)
      case _ => (0L, 0L)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** End-to-end metrics of an HTTP sample (in sending order). Every run
    * sends the same request shapes in the same order, in cycles of
    * `cycle` requests that hold the workload's mix exactly.
    * `work_per_s` is read over the whole cycles sent (all samples if not
    * even one was): render sizes differ by orders of magnitude, so one
    * render more or less would move it. `covered` gives the stored
    * points a render's windows cover.
    */
  def e2e(samples: Vector[(Req, Sample)], setupSec: Double, covered: Req => Long, cycle: Int): Map[String, Double] = {
    val window = (samples.map(s => s._2.startNs + (s._2.ms * 1e6).toLong).max - samples.head._2.startNs) / 1e9
    val whole = if (samples.size < cycle) samples else samples.take(samples.size / cycle * cycle)
    val renders = whole.filter(_._1.route == "render")
    Map(
      "setup_s" -> setupSec,
      "req_p50_ms" -> Stats.median(samples.map(_._2.ms)),
      "throughput_rps" -> samples.size / window,
      "work_per_s" -> (if (renders.isEmpty) 0.0
        else renders.map(r => covered(r._1)).sum / renders.map(_._2.ms / 1000.0).sum))
  }

  /** The named end-to-end metrics of the report line. */
  def report(samples: Vector[(Req, Sample)], e2e: Map[String, Double], storeBytesPerPoint: Double,
      heapMb: Double): Seq[(String, String, Double)] = {
    def routeP50(r: String): Double = {
      val xs = samples.filter(_._1.route == r).map(_._2.ms)
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    val (p95, pct) = Stats.tail(samples.map(_._2.ms))
    val failed = samples.count(_._2.error.isDefined)
    Seq(
      ("setup_s", "s", e2e("setup_s")),
      ("req_p50_ms", "ms", e2e("req_p50_ms")),
      (s"req_p95_ms(p$pct,n=${samples.size})", "ms", p95),
      ("throughput_rps", "1/s", e2e("throughput_rps")),
      ("render_p50_ms", "ms", routeP50("render")),
      ("find_p50_ms", "ms", routeP50("find")),
      ("tags_p50_ms", "ms", routeP50("tags")),
      ("prom_p50_ms", "ms", routeP50("prom")),
      ("points_per_s", "1/s", e2e("work_per_s")),
      ("render_bytes_p50", "B", {
        val b = samples.filter(_._1.route == "render").map(_._2.bytes.toDouble)
        if (b.isEmpty) Double.NaN else Stats.median(b)
      }),
      ("store_bytes_per_point", "B", storeBytesPerPoint),
      ("retained_heap_mb", "MB", heapMb),
      ("fail_ratio", "ratio", failed.toDouble / samples.size))
  }

  def dirBytes(dir: java.io.File): (Long, Long) =
    Option(dir.listFiles()).getOrElse(Array.empty).foldLeft((0L, 0L)) { case ((b, n), f) =>
      if (f.isDirectory) { val (b2, n2) = dirBytes(f); (b + b2, n + n2) }
      else if (f.getName.endsWith(".parquet")) (b + f.length, n + 1)
      else (b, n)
    }
}
