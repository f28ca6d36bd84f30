package servbench

/** The per-layer metrics of BENCHMARK.json, derived from a traced run.
  * Every workload reports every name; a layer the workload does not
  * exercise reads 0.
  */
object Layers {

  /** (name, unit, better) of every per-layer metric, in report order. */
  val metrics: Vector[(String, String, String)] = Vector(
    ("api.overhead_ms", "ms", "lower"), ("findcache.hit_ratio", "ratio", "higher"),
    ("finder.plan_ms", "ms", "lower"), ("finder.exec_ms", "ms", "lower"),
    ("finder.rows_read_per_path", "rows/path", "lower"),
    ("render.plan_ms", "ms", "lower"), ("render.exec_ms", "ms", "lower"),
    ("render.rows_read_per_point", "rows/point", "lower"), ("render.groups", "count", "lower"),
    ("autocomplete.exec_ms", "ms", "lower"),
    ("prom.parse_ms", "ms", "lower"), ("prom.plan_ms", "ms", "lower"), ("prom.exec_ms", "ms", "lower"),
    ("prom.encode_ms", "ms", "lower"),
    ("sinks.pickle_ms", "ms", "lower"), ("sinks.protobuf_ms", "ms", "lower"), ("sinks.v3_ms", "ms", "lower"),
    ("sinks.json_ms", "ms", "lower"), ("sinks.bytes_per_point", "B/point", "lower"),
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"), ("spark.tasks", "count", "lower"),
    ("spark.task_ms", "ms", "lower"), ("spark.idle_ms", "ms", "lower"), ("spark.task_skew", "ratio", "lower"),
    ("spark.input_rows", "rows", "lower"), ("spark.shuffle_read_bytes", "B", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"), ("spark.spill_bytes", "B", "lower"),
    ("ingest.batch_ms", "ms", "lower"), ("ingest.busy_ratio", "ratio", "lower"),
    ("ingest.backlog_max", "batches", "lower"), ("ingest.generator_late_ms", "ms", "lower"),
    ("ingest.files_per_batch", "files", "lower"), ("ingest.index_rows_per_point", "rows/point", "lower"),
    ("ingest.lag_p50_ms", "ms", "lower"), ("ingest.lag_p95_ms", "ms", "lower"), ("store.files", "files", "lower"),
    ("llm.quality_ms", "ms", "lower"), ("llm.exact_ms", "ms", "lower"), ("llm.minhash_ms", "ms", "lower"),
    ("llm.neardup_ms", "ms", "lower"), ("llm.decon_ms", "ms", "lower"),
    ("llm.candidates_per_dup", "ratio", "lower"), ("llm.jobs", "count", "lower"),
    ("jvm.gc_ms_per_s", "ms/s", "lower"),
    ("trace.untraced_p50_ms", "ms", "lower"), ("trace.traced_p50_ms", "ms", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"))

  val names: Vector[String] = metrics.map(_._1)

  /** Per-request sums of each span name, for the requests in `reqs`. */
  private def perRequest(spans: Vector[Span], reqs: Set[Long]): Map[String, Map[Long, Double]] =
    spans.filter(s => reqs(s.request) && s.parent != 0L).groupBy(_.name).map { case (n, ss) =>
      n -> ss.groupBy(_.request).map { case (r, xs) => r -> xs.map(_.ms).sum }
    }

  /** Median over the requests that called `name` (0 if none did). */
  def medianOf(sums: Map[String, Map[Long, Double]], name: String): Double =
    sums.get(name).filter(_.nonEmpty).map(m => Stats.median(m.values)).getOrElse(0.0)

  /** Spark totals per request: all spans of the request. */
  def sparkPerRequest(spans: Vector[Span], exec: Map[Long, Exec], reqs: Set[Long]): Map[Long, Exec] =
    spans.filter(s => reqs(s.request)).groupBy(_.request).map { case (r, ss) =>
      r -> ss.map(s => exec.getOrElse(s.id, Exec())).foldLeft(Exec())(_ + _)
    }

  def spark(perReq: Map[Long, Exec]): Map[String, Double] = {
    val xs = perReq.values.toVector
    def med(f: Exec => Double): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.map(f))
    Map(
      "spark.jobs" -> med(_.jobs.toDouble), "spark.stages" -> med(_.stages.toDouble),
      "spark.tasks" -> med(_.tasks.toDouble), "spark.task_ms" -> med(_.taskMs),
      "spark.idle_ms" -> med(_.idleMs), "spark.task_skew" -> med(_.skew),
      "spark.input_rows" -> med(_.inputRows.toDouble),
      "spark.shuffle_read_bytes" -> med(_.shuffleRead.toDouble),
      "spark.shuffle_write_bytes" -> med(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> med(_.spill.toDouble))
  }

  /** Layers of the HTTP routes, from the traced exchanges. */
  def serving(traced: Vector[Traced], spans: Vector[Span], exec: Map[Long, Exec]): Map[String, Double] = {
    val reqs = traced.map(_.request).toSet
    val sums = perRequest(spans, reqs)
    val roots = spans.filter(s => s.parent == 0L && reqs(s.request)).map(s => s.request -> s.ms).toMap
    def rows(name: String): Double =
      spans.filter(s => s.name == name && reqs(s.request)).map(s => exec.getOrElse(s.id, Exec()).inputRows).sum.toDouble
    val renders = traced.filter(_.route == "render")
    val cacheable = traced.filter(t => t.route != "prom")
    val uncached = traced.filterNot(_.cached)
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    Map(
      "api.overhead_ms" -> (if (uncached.isEmpty) 0.0 else Stats.median(uncached.map(t => t.httpMs - roots(t.request)))),
      "findcache.hit_ratio" -> ratio(cacheable.count(_.cached), cacheable.size),
      "finder.plan_ms" -> medianOf(sums, "finder.plan"),
      "finder.exec_ms" -> medianOf(sums, "finder.exec"),
      "finder.rows_read_per_path" -> ratio(rows("finder.exec"), traced.map(_.paths).sum.toDouble),
      "render.plan_ms" -> medianOf(sums, "render.plan"),
      "render.exec_ms" -> medianOf(sums, "render.exec"),
      "render.rows_read_per_point" -> ratio(rows("render.exec"), renders.map(_.values).sum.toDouble),
      "render.groups" -> (if (renders.isEmpty) 0.0 else Stats.median(renders.map(_.groups.toDouble))),
      "autocomplete.exec_ms" -> medianOf(sums, "autocomplete.exec"),
      "prom.parse_ms" -> medianOf(sums, "prom.parse"),
      "prom.plan_ms" -> medianOf(sums, "prom.plan"),
      "prom.exec_ms" -> medianOf(sums, "prom.exec"),
      "prom.encode_ms" -> medianOf(sums, "prom.encode"),
      "sinks.pickle_ms" -> medianOf(sums, "sinks.pickle"),
      "sinks.protobuf_ms" -> medianOf(sums, "sinks.protobuf"),
      "sinks.v3_ms" -> medianOf(sums, "sinks.v3"),
      "sinks.json_ms" -> medianOf(sums, "sinks.json"),
      "sinks.bytes_per_point" -> ratio(renders.map(_.bodyBytes.toDouble).sum, renders.map(_.values).sum.toDouble)
    ) ++ spark(sparkPerRequest(spans, exec, reqs))
  }

  /** Tracing overhead: the p50 of an untraced and a traced phase of the
    * same run, both with one client, over the route the traced phase
    * sent most (phases are short, so their route mixes differ).
    */
  def overhead(untraced: Seq[Sample], traced: Seq[Sample]): Map[String, Double] = {
    val routes = traced.groupBy(_.route).toSeq.sortBy(-_._2.size).map(_._1).filter(r => untraced.exists(_.route == r))
    routes.headOption match {
      case None => Map.empty
      case Some(r) =>
        val u = Stats.median(untraced.filter(_.route == r).map(_.ms))
        val t = Stats.median(traced.filter(_.route == r).map(_.ms))
        Map("trace.untraced_p50_ms" -> u, "trace.traced_p50_ms" -> t, "trace.overhead_ratio" -> t / u)
    }
  }

  /** Fills every name, 0 where the workload gave none. */
  def complete(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- names
    require(unknown.isEmpty, s"unknown per-layer metrics $unknown")
    names.map(n => n -> m.getOrElse(n, 0.0)).toMap
  }
}
