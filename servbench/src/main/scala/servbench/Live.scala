package servbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, max}

import graft.streaming.Ingest

/** One delivered line: `first` is false for a duplicate re-send. */
final case class Line(series: SeriesDef, t: Long, text: String, first: Boolean)

/** The live-ingest plan: 5,000 series (4,000 plain, 1,000 tagged), each
  * reporting every 10 s at its own phase (500 points/s offered),
  * delivered in 2 s micro-batches
  * on a fixed schedule from `t0`. Every 2nd batch a new host branch (5
  * series) starts. A seeded 1 % of points arrives one batch late and
  * another 1 % is re-sent in the next batch. Timestamps are wall-clock
  * seconds: the point with timestamp `t` is created at `t`. The 20 s
  * before `historyEnd` are the set-up history (ingested as ten batches); seconds between
  * `historyEnd` and `t0` carry no points.
  */
final class LivePlan(seed: Long, val historyEnd: Long, val t0: Long) {
  val Period = 10L
  val BatchSec = 2L
  val HistorySec = 20L
  private val rng = new Rng(seed ^ 0x11FEL)
  private val w = rng.words(120)
  val dcs: Vector[String] = w.slice(0, 4)
  val hosts: Vector[String] = w.slice(4, 29)
  val metrics: Vector[String] = w.slice(29, 69)
  val base: Vector[SeriesDef] =
    (for (d <- dcs; h <- hosts; m <- metrics) yield SeriesDef.plain(s"live.$d.$h.$m", rng)) ++
      (for (d <- dcs; h <- hosts; c <- 0 until 10)
        yield SeriesDef.tagged("live_req", Seq("dc" -> d, "host" -> h, "code" -> s"${2 + c / 4}0${c % 4}"),
          counter = true, rng))
  private val branches = new ConcurrentHashMap[Int, Vector[SeriesDef]]()

  /** Fingerprint of the generated series and their delivery plan. */
  def fingerprint: String = {
    val fp = new Fingerprint().add(seed).add(Period).add(BatchSec).add(HistorySec)
    (base ++ (0 until 8).flatMap(branch)).foreach(s => fp.add(s.linePath).add(s.a).add(s.b).add(phase(s)))
    fp.hex
  }

  def branchName(k: Int): String = s"live.${dcs(0)}.new$k"
  def branch(k: Int): Vector[SeriesDef] = branches.computeIfAbsent(k, _ => {
    val r = new Rng(seed ^ (k.toLong << 20))
    metrics.take(5).map(m => SeriesDef.plain(s"${branchName(k)}.$m", r))
  })
  /** Series that exist from batch `k` on (branch `j` starts in batch 2j). */
  def seriesIn(k: Int): Vector[SeriesDef] = base ++ (0 to math.max(k, 0) / 2).flatMap(branch)
  def birth(s: SeriesDef): Long = {
    val j = s.path.indexOf(".new")
    if (j < 0) historyEnd - HistorySec else window(s.path.substring(j + 4).takeWhile(_ != '.').toInt * 2)._1
  }

  def phase(s: SeriesDef): Long = Math.floorMod(s.path.hashCode.toLong, Period)
  def value(s: SeriesDef, t: Long): Double = s.value(t, Period)
  private def late(s: SeriesDef, t: Long) = Mix.below(Mix.hash(seed, s.path.hashCode.toLong, t, 1), 100) == 0
  private def dup(s: SeriesDef, t: Long) = Mix.below(Mix.hash(seed, s.path.hashCode.toLong, t, 2), 100) == 0

  /** Seconds `[from, until)` of batch `k`; batch -1 is the set-up history. */
  def window(k: Int): (Long, Long) =
    if (k < 0) (historyEnd - HistorySec, historyEnd) else (t0 + k * BatchSec, t0 + (k + 1) * BatchSec)
  /** Batch whose window holds second `t`; `Never` for the gap. */
  def batchOfSecond(t: Long): Int =
    if (t < historyEnd) -1 else if (t < t0) LivePlan.Never else ((t - t0) / BatchSec).toInt

  /** Points created in batch `k`'s window. */
  def scheduled(k: Int): Vector[(SeriesDef, Long)] = {
    val (from, until) = window(k)
    for (s <- seriesIn(k); t <- from until until if t >= birth(s) && Math.floorMod(t, Period) == phase(s))
      yield (s, t)
  }

  /** Batch a point is first delivered in (late points slip one batch). */
  def deliveredIn(s: SeriesDef, t: Long): Int = {
    val k = batchOfSecond(t)
    if (k >= 0 && k != LivePlan.Never && late(s, t)) k + 1 else k
  }

  /** Lines sent in batch `k`: on-time points, the previous batch's late
    * points, and re-sends of the previous batch's on-time points.
    */
  def lines(k: Int): Vector[Line] = {
    def line(s: SeriesDef, t: Long, first: Boolean) = Line(s, t, s"${s.linePath} ${value(s, t).toLong} $t", first)
    val own = scheduled(k).collect { case (s, t) if deliveredIn(s, t) == k => line(s, t, first = true) }
    val prev = if (k > 0) scheduled(k - 1) else Vector.empty
    own ++ prev.collect {
      case (s, t) if deliveredIn(s, t) == k => line(s, t, first = true)
      case (s, t) if dup(s, t) => line(s, t, first = false)
    }
  }
}

object LivePlan {
  val Never: Int = Int.MaxValue
  /** Rollup precision of the `live` tree (see Harness.rules). */
  val Precision: Long = 5L
}

/** `ingest_live`: an open-loop generator feeds `Ingest` on schedule
  * while closed-loop readers render the freshest window and browse the
  * tree for new branches over HTTP.
  */
object Live {

  final case class Batch(k: Int, dueMs: Long, madeMs: Long, lines: Vector[Line])
  final case class Commit(startNs: Long, endNs: Long, endMs: Double, files: Long)

  def run(h: Harness): Outcome = {
    import h.spark.implicits._
    val historyEnd = System.currentTimeMillis() / 1000
    // wall-clock ms with nanosecond resolution, for lags
    val (baseMs, baseNs) = (System.currentTimeMillis(), System.nanoTime())
    def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
    val dir = h.dir("live")
    val storeRoot = new java.io.File(dir)
    val cfg = Harness.config(findCache = false)
    val clock = () => Instant.now()
    val committedAt = new ConcurrentHashMap[Int, java.lang.Long]() // batch → commit end (ns)
    val lock = new ReentrantReadWriteLock(true)
    def ingest(lines: Seq[Line]): Unit =
      Ingest.processBatch(Ingest.parseLines(lines.map(_.text).toDS().toDF("value")), dir)
    def committedBefore(ns: Long): Set[Int] = committedAt.asScala.collect { case (k, e) if e < ns => k }.toSet

    // ---- set-up: 20 s of history, served ---------------------------------
    val t0 = System.nanoTime()
    val history = new LivePlan(h.args.seed, historyEnd, historyEnd).lines(-1)
    // ten 2 s batches, like the live ones, which also warm the ingest
    // path up (batch times still fall over the first few)
    history.groupBy(l => Math.floorDiv(l.t - historyEnd, 2L)).toSeq.sortBy(_._1).foreach(b => ingest(b._2))
    committedAt.put(-1, System.nanoTime())
    val api = h.serve(dir, cfg, clock)
    val client = new Client(api.address)
    // the schedule starts on the next whole second after set-up
    val plan = new LivePlan(h.args.seed, historyEnd, System.currentTimeMillis() / 1000 + 1)
    val firstReq = Req.Find(s"live.${plan.dcs(0)}.*", "json")
    val (st, fb, _, _, _) = client.send(firstReq)
    if (st != 200 || Check.decodeFind("json", firstReq.query, fb).map(_._1).toSet != plan.hosts.map(x => s"live.${plan.dcs(0)}.$x").toSet)
      throw new IllegalStateException(s"set-up request failed: HTTP $st")
    val setupSec = h.sessionSec + (System.nanoTime() - t0) / 1e9

    val startMs = plan.t0 * 1000
    while (System.currentTimeMillis() < startMs) Thread.sleep(1)
    val runEndMs = startMs + h.args.seconds * 1000L

    // ---- open-loop generator → ingest worker ------------------------------
    val queue = new LinkedBlockingQueue[Option[Batch]]()
    val backlogMax = new AtomicInteger()
    val generator = new Thread(() => {
      var k = 0
      while (plan.window(k)._2 * 1000 <= runEndMs) {
        val due = plan.window(k)._2 * 1000
        while (System.currentTimeMillis() < due) Thread.sleep(1)
        queue.put(Some(Batch(k, due, System.currentTimeMillis(), plan.lines(k))))
        backlogMax.accumulateAndGet(queue.size(), math.max)
        k += 1
      }
      queue.put(None)
    }, "servbench-generator")
    val commits = new ConcurrentLinkedQueue[(Batch, Commit)]()
    val worker = new Thread(() => {
      var more = true
      while (more) queue.take() match {
        case None => more = false
        case Some(b) =>
          lock.writeLock().lock()
          val s = System.nanoTime()
          try if (h.args.trace) h.tracer.span("ingest.batch", request = -1L - b.k)(ingest(b.lines))
            else ingest(b.lines)
          finally lock.writeLock().unlock()
          val e = System.nanoTime()
          committedAt.put(b.k, e)
          commits.add(b -> Commit(s, e, epochMs(e), Serving.dirBytes(storeRoot)._2))
      }
    }, "servbench-ingest")

    // ---- readers ----------------------------------------------------------
    val formats = Vector("json", "pickle", "protobuf", "carbonapi_v3_pb")
    val sent = new AtomicInteger()
    // three renders of one host's freshest 30 s, then one branch listing;
    // render k rotates through every dc and every wire format
    def nextReq(): Req = {
      val nowSec = System.currentTimeMillis() / 1000
      val i = sent.getAndIncrement()
      if (i % 4 < 3) {
        val k = i / 4 * 3 + i % 4
        Req.Render(Seq(s"live.${plan.dcs(k % plan.dcs.size)}.${plan.hosts(k % plan.hosts.size)}.*"),
          nowSec - 30, nowSec, 0, formats(k / plan.dcs.size % formats.size))
      } else Req.Find(s"live.${plan.dcs(0)}.*", formats(i / 4 % 3))
    }

    /** Points committed before the request was sent must be served with
      * their values; points still in flight may be absent or present.
      */
    def check(sentNs: Long)(req: Req, status: Int, body: Array[Byte]): Option[String] =
      if (status != 200) Some(s"HTTP $status")
      else try {
        val done = committedBefore(sentNs)
        val known = plan.seriesIn(committedAt.asScala.keys.max + 2)
        req match {
          case r: Req.Render =>
            val step = LivePlan.Precision
            val start = Math.floorMod(-r.from, step) + r.from
            val stop = r.until - r.until % step + step
            val prefix = r.targets.head.dropRight(1)
            val matching = known.filter(s => !s.tagged && s.path.startsWith(prefix))
            val got = Check.decodeRender(r.format, body).map(g => g.name -> g).toMap
            // the series' point inside bucket [b, b + step), if it has one
            def pointIn(s: SeriesDef, b: Long): Option[Long] =
              Some(b + Math.floorMod(plan.phase(s) - b, plan.Period)).filter(_ < b + step)
            val problems = matching.iterator.flatMap { s =>
              val buckets = Iterator.iterate(start)(_ + step).takeWhile(_ < stop).map(pointIn(s, _)).toVector
              def acked(t: Long) = t >= plan.birth(s) && done(plan.deliveredIn(s, t))
              got.get(s.path) match {
                case None =>
                  if (buckets.flatten.exists(acked)) Some(s"${s.path}: acknowledged points missing") else None
                case Some(g) if (g.start, g.stop, g.step) != ((start, stop, step)) =>
                  Some(s"${s.path}: grid (${g.start},${g.stop},${g.step}) != ($start,$stop,$step)")
                case Some(g) => g.values.zip(buckets).collectFirst {
                  case (v, None) if !v.isNaN => s"${s.path}: value $v in a bucket without a point"
                  case (v, Some(t)) if acked(t) && math.abs(v - plan.value(s, t)) > 1e-6 =>
                    s"${s.path}@$t: $v != ${plan.value(s, t)}"
                  case (v, Some(t)) if !v.isNaN && math.abs(v - plan.value(s, t)) > 1e-6 =>
                    s"${s.path}@$t: $v is not the point's value"
                }
              }
            }
            val extra = got.keySet -- matching.map(_.path)
            if (extra.nonEmpty) Some(s"unexpected series ${extra.take(3)}") else problems.nextOption()
          case f: Req.Find =>
            val names = Check.decodeFind(f.format, f.query, body).map(_._1).toSet
            val hosts = plan.hosts.map(x => s"live.${plan.dcs(0)}.$x").toSet
            val ackedBranches = Iterator.from(0).map(k => k -> plan.branch(k))
              .takeWhile { case (k, _) => 2 * k <= done.max }
              .collect { case (k, ss) if ss.exists(s => plan.scheduled(2 * k).exists(p => p._1 == s &&
                done(plan.deliveredIn(s, p._2)))) => plan.branchName(k) }.toSet
            val possible = hosts ++ Iterator.from(0).takeWhile(k => 2 * k <= committedAt.asScala.keys.max + 2)
              .map(plan.branchName).toSet
            if (!(hosts ++ ackedBranches).subsetOf(names)) Some(s"acknowledged branches missing: ${(hosts ++ ackedBranches -- names).take(3)}")
            else if (!names.subsetOf(possible)) Some(s"unknown branches ${(names -- possible).take(3)}")
            else None
          case other => Some(s"unexpected request $other")
        }
      } catch { case scala.util.control.NonFatal(e) => Some(s"undecodable ${req.route}: $e") }

    def send(r: Req): Sample = { val t = System.nanoTime(); Serving.exchange(client, r, check(t)) }

    generator.start(); worker.start()
    h.jvm.start()
    def remaining: Double = (runEndMs - System.currentTimeMillis()) / 1000.0
    val (readers, plainSamples, traced, tracedSamples) =
      if (!h.args.trace) (Serving.closedLoop(2, remaining, () => nextReq(), send), Vector.empty[Sample],
        Vector.empty[Traced], Vector.empty[Sample])
      else {
        val plain = Serving.closedLoop(1, remaining / 2, () => nextReq(), send).map(_._2)
        h.attachListener()
        val direct = new Direct(h.spark, dir, cfg, h.tracer, clock)
        // the pair (HTTP, replay) runs with commits held off, so both
        // read the same store
        val sentAt = new AtomicLong()
        val (tr, ts) = Serving.tracedLoop(h, remaining, () => nextReq(), client, direct,
          (r, s, b) => check(sentAt.get())(r, s, b),
          guard = body => {
            lock.readLock().lock()
            try { sentAt.set(System.nanoTime()); body } finally lock.readLock().unlock()
          })
        (Vector.empty[(Req, Sample)], plain, tr, ts)
      }
    generator.join(); worker.join()
    val (heap, gc) = h.jvm.stop()
    api.stop()

    // ---- every acknowledged point is stored once, with its value ----------
    val done = commits.asScala.toVector.sortBy(_._1.k)
    val livePoints = done.flatMap(_._1.lines.filter(_.first))
    val acked = (history ++ livePoints).map(l => (l.series.path, l.t) -> plan.value(l.series, l.t)).toMap
    val stored = h.spark.read.parquet(s"$dir/points").groupBy("path", "time").agg(max(col("value")))
      .as[(String, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val storeErr =
      if (stored == acked) None
      else Some(s"store holds ${stored.size} points for ${acked.size} acknowledged; " +
        s"${acked.count { case (k, v) => !stored.get(k).contains(v) }} acknowledged missing or wrong")

    // ---- metrics ------------------------------------------------------------
    val lagMs = done.flatMap { case (b, c) => b.lines.filter(_.first).map(l => c.endMs - l.t * 1000.0) }
    val busySec = done.map(x => (x._2.endNs - x._2.startNs) / 1e9).sum
    val (storeBytes, storeFiles) = Serving.dirBytes(storeRoot)
    val samples = readers.map(_._2) ++ plainSamples ++ tracedSamples
    val errors = samples.flatMap(_.error) ++ storeErr
    val notes = Seq(s"inputs ${plan.fingerprint}", f"set-up $setupSec%.2f s",
      s"${done.size} batches, ${acked.size} points acknowledged, store $storeFiles files, $storeBytes B",
      s"batch ms ${done.map(x => f"${(x._2.endNs - x._2.startNs) / 1e6}%.0f").mkString(" ")}") ++
      (if (h.args.trace) Seq(s"traced ${traced.size} requests, ${traced.count(_.identical)} byte-identical replays")
      else Nil)
    if (!h.args.trace) {
      // the writers' view: an acknowledged point is the operation, its
      // lag the latency, the committed rate the throughput
      val windowSec = (done.map(_._2.endMs).max - startMs) / 1000.0
      val e2e = Map(
        "setup_s" -> setupSec,
        "req_p50_ms" -> Stats.median(lagMs),
        "throughput_rps" -> livePoints.size / windowSec,
        "work_per_s" -> livePoints.size / busySec)
      val (lag95, lagPct) = Stats.tail(lagMs)
      val readerE2e = Serving.e2e(readers, setupSec, _ => 0L, cycle = 4)
      val report = Seq(
        ("setup_s", "s", setupSec),
        ("ingest_lag_p50_ms", "ms", Stats.median(lagMs)),
        (s"ingest_lag_p95_ms(p$lagPct,n=${lagMs.size})", "ms", lag95),
        ("ingested_points_per_s", "1/s", livePoints.size / windowSec),
        ("ingested_points_per_busy_s", "1/s", livePoints.size / busySec)) ++
        Serving.report(readers, readerE2e, storeBytes.toDouble / acked.size, heap)
          .filterNot(x => Set("setup_s", "points_per_s", "render_bytes_p50", "tags_p50_ms", "prom_p50_ms")(x._1))
          .map { case (n, u, v) => (if (n.startsWith("req_") || n.startsWith("throughput")) s"reader_$n" else n, u, v) }
      Outcome(samples.size + 1, errors.size, errors, e2e, Map.empty, report, notes)
    } else {
      h.listener.foreach(_.awaitQuiet())
      val files = done.map(_._2.files)
      val indexRows = h.spark.read.parquet(s"$dir/index").count()
      val layers = Layers.serving(traced, h.tracer.all, h.listener.map(_.bySpan).getOrElse(Map.empty)) ++
        Layers.overhead(plainSamples, tracedSamples) ++ Map(
        "ingest.batch_ms" -> Stats.median(done.map(x => (x._2.endNs - x._2.startNs) / 1e6)),
        "ingest.busy_ratio" -> busySec / ((runEndMs - startMs) / 1000.0),
        "ingest.backlog_max" -> backlogMax.get().toDouble,
        "ingest.generator_late_ms" -> Stats.median(done.map(x => (x._1.madeMs - x._1.dueMs).toDouble)),
        "ingest.files_per_batch" -> (if (files.size > 1) (files.last - files.head).toDouble / (files.size - 1) else 0.0),
        "ingest.index_rows_per_point" -> indexRows.toDouble / acked.size,
        "ingest.lag_p50_ms" -> Stats.median(lagMs),
        "ingest.lag_p95_ms" -> Stats.tail(lagMs)._1,
        "store.files" -> storeFiles.toDouble,
        "jvm.gc_ms_per_s" -> gc)
      Outcome(samples.size + 1, errors.size, errors, Map.empty, layers, Nil, notes)
    }
  }
}
