package servbench

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * [--home <benchmark dir>]`. Prints a report line per metric group,
  * writes the full result to `<home>/target/results/`, and prints the
  * one-line JSON result last.
  */
object Main {

  /** (name, unit, better) of every end-to-end metric. */
  val e2eMetrics: Vector[(String, String, String)] = Vector(
    ("setup_s", "s", "lower"), ("req_p50_ms", "ms", "lower"), ("throughput_rps", "1/s", "higher"),
    ("work_per_s", "1/s", "higher"))

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def jstr(s: String): String = graft.sinks.JsonSink.q(s)

  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        // no result line; the server's dispatcher thread must not keep
        // the JVM alive
        Runtime.getRuntime.halt(1)
    }

  def run(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val h = new Harness(args)
    val out =
      try args.workload match {
        case "dashboard" => Workloads.dashboard(h)
        case "bulk_render" => Workloads.bulk(h)
        case "ingest_live" => Live.run(h)
        case "curate_batch" => Curate.run(h)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally {
        h.writeSpans().foreach(f => println(s"servbench ${args.workload}: spans written to $f"))
        h.close()
      }

    val metrics: Seq[(String, Double, String)] =
      if (args.trace) { val m = Layers.complete(out.layers); Layers.metrics.map { case (n, u, _) => (n, m(n), u) } }
      else e2eMetrics.map { case (n, u, _) => (n, out.e2e(n), u) }
    require(metrics.forall(m => !m._2.isNaN && !m._2.isInfinite), s"non-finite metric in $metrics")

    out.notes.foreach(n => println(s"servbench ${args.workload}: $n"))
    out.errors.distinct.take(10).foreach(e => println(s"servbench ${args.workload}: WRONG $e"))
    if (out.report.nonEmpty)
      println(s"servbench ${args.workload} seed=${args.seed}: " + out.report.map { case (n, u, v) =>
        s"$n=${if (v.isNaN) "n/a" else f"$v%.4g"} $u" }.mkString(", "))
    if (args.trace)
      println(s"servbench ${args.workload} seed=${args.seed} layers: " +
        metrics.map { case (n, v, u) => f"$n=$v%.4g $u" }.mkString(", "))

    val metricJson = metrics.map { case (n, v, u) => s"${jstr(n)}:{\"value\":${num(v)},\"unit\":${jstr(u)}}" }
      .mkString("{", ",", "}")
    val line = s"""{"correct":${out.failed == 0},"attempted":${out.attempted},"failed":${out.failed},"metrics":$metricJson}"""

    val resultFile = new java.io.File(
      s"${args.home}/target/results/${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json")
    resultFile.getParentFile.mkdirs()
    val report = out.report.map { case (n, u, v) => s"${jstr(n)}:{\"value\":${num(v)},\"unit\":${jstr(u)}}" }
    java.nio.file.Files.writeString(resultFile.toPath,
      s"""{"workload":${jstr(args.workload)},"seed":${args.seed},"seconds":${args.seconds},""" +
        s""""trace":${args.trace},"result":$line,"report":${report.mkString("{", ",", "}")},""" +
        s""""notes":${out.notes.map(jstr).mkString("[", ",", "]")},""" +
        s""""errors":${out.errors.distinct.take(50).map(jstr).mkString("[", ",", "]")}}""" + "\n")
    println(line)
    System.out.flush()
    // the session's work is done and its directory removed; skip the
    // shutdown hooks' orderly Spark stop
    Runtime.getRuntime.halt(0)
  }
}
