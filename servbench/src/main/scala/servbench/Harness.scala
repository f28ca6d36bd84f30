package servbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.{Duration, Instant}

import org.apache.spark.sql.SparkSession

import graft.api.HttpApi
import graft.engine.FindCache
import graft.rollup.{AggFunc, Pattern, Retention, RuleType, Rules}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, home: String)

object Args {
  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "home")
    require(kv.keySet.subsetOf(known) && args.length % 2 == 0, s"usage: ${known.map("--" + _).mkString(" ")}")
    Args(kv("workload"), kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toInt,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("home", "servbench"))
  }
}

/** One HTTP exchange as the client saw it. */
final case class Sample(
    route: String, format: String, startNs: Long, ms: Double, status: Int, cached: Boolean,
    bytes: Int, error: Option[String])

/** Closed-loop HTTP client over the JDK client (HTTP/1.1, loopback). */
final class Client(base: String) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** (status, body, X-Cached-Find present, round-trip ms, start ns). */
  def send(req: Req): (Int, Array[Byte], Boolean, Double, Long) = {
    val b = HttpRequest.newBuilder(URI.create(base + req.uri)).timeout(Duration.ofSeconds(120))
    val r = if (req.method == "POST") b.POST(HttpRequest.BodyPublishers.ofByteArray(req.body)) else b.GET()
    val t0 = System.nanoTime()
    val resp = http.send(r.build(), HttpResponse.BodyHandlers.ofByteArray())
    val ms = (System.nanoTime() - t0) / 1e6
    (resp.statusCode(), resp.body(), resp.headers().firstValue("X-Cached-Find").isPresent, ms, t0)
  }
}

/** Session, work directory, tracing and the JSON result shared by all
  * workloads.
  */
final class Harness(val args: Args) {
  val cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
  val work: File = new File(s"${args.home}/target/work/${ProcessHandle.current().pid()}").getAbsoluteFile
  work.mkdirs()

  /** Seconds from JVM start to the session being usable. */
  val (spark: SparkSession, sessionSec: Double) = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("servbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (s, (System.currentTimeMillis() - jvmStart) / 1000.0)
  }

  val tracer = new Tracer(spark)
  val listener: Option[SpanListener] = if (args.trace) Some(new SpanListener) else None

  /** Starts Spark event attribution (the traced phase only). */
  def attachListener(): Unit = listener.foreach(spark.sparkContext.addSparkListener)
  val jvm = new JvmStats

  def dir(name: String): String = new File(work, name).getPath

  def serve(tables: String, cfg: HttpApi.Config, clock: () => Instant): HttpApi =
    new HttpApi(spark, tables, cfg, clock).start()

  /** Removes the work directory. The session is not stopped: Main
    * halts the JVM right after printing the result.
    */
  def close(): Unit = deleteTree(work)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Writes the recorded spans, one JSON object per line, with each
    * span's self time and the Spark work attributed to it.
    */
  def writeSpans(): Option[String] =
    if (!args.trace) None
    else {
      val out = new File(s"${args.home}/target/traces/${args.workload}-${args.seed}.jsonl").getAbsoluteFile
      out.getParentFile.mkdirs()
      val exec = listener.map(_.bySpan).getOrElse(Map.empty)
      val spans = tracer.all
      val children = spans.groupBy(_.parent)
      val t0 = spans.headOption.map(_.start).getOrElse(0L)
      val w = new java.io.PrintWriter(out, "UTF-8")
      try spans.foreach { s =>
        val e = exec.getOrElse(s.id, Exec())
        val self = Stats.selfTime((s.start, s.end), children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
        w.println(f"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":"${s.name}",""" +
          f""""start_ms":${(s.start - t0) / 1e6}%.3f,"end_ms":${(s.end - t0) / 1e6}%.3f,"self_ms":${self / 1e6}%.3f,""" +
          s""""jobs":${e.jobs},"stages":${e.stages},"tasks":${e.tasks},"task_ms":${e.taskMs},""" +
          s""""input_rows":${e.inputRows},"shuffle_read_bytes":${e.shuffleRead}}""")
      } finally w.close()
      Some(out.getPath)
    }
}

object Harness {

  /** Rollup rules of every served store: sums for `*_count`, maxima
    * for `*_max`, averages otherwise; 60 s precision (600 s past 30
    * days), 5 s for the live tree.
    */
  val rules: Rules = Rules(List(
    Pattern(RuleType.All, "_count$", Some(AggFunc.Sum), Nil),
    Pattern(RuleType.All, "_max$", Some(AggFunc.Max), Nil),
    Pattern(RuleType.All, "^live", None, List(Retention(0, 5))),
    Pattern(RuleType.All, ".*", Some(AggFunc.Avg), List(Retention(0, 60), Retention(30 * 86400L, 600)))))

  def config(findCache: Boolean): HttpApi.Config = HttpApi.Config(
    rules = rules,
    findCache =
      if (findCache) Some(FindCache.Config(defaultTimeoutSec = 600, shortTimeoutSec = 60,
        shortDurationSec = 240, findTimeoutSec = 600))
      else None)
}

/** What a workload reports. `e2e` must hold every end-to-end metric of
  * BENCHMARK.json; `layers` every per-layer one (0 where the workload
  * does not exercise the layer); `report` holds the other named
  * metrics for the human-readable line, NaN where not applicable.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    errors: Seq[String],
    e2e: Map[String, Double],
    layers: Map[String, Double],
    report: Seq[(String, String, Double)],
    notes: Seq[String])
