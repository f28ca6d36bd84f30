package servbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8

/** One benchmark request, as a client sends it. */
sealed trait Req {
  def route: String
  def format: String
  def method: String = "GET"
  def uri: String
  def body: Array[Byte] = Array.emptyByteArray
}

object Req {
  def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  /** `noCache` asks the server to bypass its find cache. */
  final case class Render(
      targets: Seq[String], from: Long, until: Long, mdp: Long, format: String, noCache: Boolean = false)
      extends Req {
    def route = "render"
    override def method: String = if (format == "carbonapi_v3_pb") "POST" else "GET"
    def uri: String =
      (if (format == "carbonapi_v3_pb") "/render/?format=carbonapi_v3_pb"
      else s"/render/?format=$format&from=$from&until=$until&maxDataPoints=$mdp" +
        targets.map(t => s"&target=${enc(t)}").mkString) + (if (noCache) "&noCache=1" else "")
    override def body: Array[Byte] =
      if (format == "carbonapi_v3_pb") Decode.v3Request(targets.map(t => (t, from, until, mdp)))
      else Array.emptyByteArray
  }

  final case class Find(query: String, format: String) extends Req {
    def route = "find"
    def uri = s"/metrics/find/?query=${enc(query)}&format=$format"
  }

  /** `tag = None` asks for tag names, `Some(t)` for the values of `t`. */
  final case class Tags(tag: Option[String], exprs: Seq[String], prefix: String) extends Req {
    def route = "tags"
    def format = "json"
    def uri: String = {
      val ex = exprs.map(e => s"expr=${enc(e)}")
      tag match {
        case None => "/tags/autoComplete/tags?" + (ex :+ s"tagPrefix=${enc(prefix)}").mkString("&")
        case Some(t) =>
          "/tags/autoComplete/values?" + ((s"tag=${enc(t)}" +: ex) :+ s"valuePrefix=${enc(prefix)}").mkString("&")
      }
    }
  }

  final case class Prom(query: String, start: Long, end: Long, step: Long) extends Req {
    def route = "prom"
    def format = "json"
    def uri = s"/api/v1/query_range?query=${enc(query)}&start=$start&end=$end&step=$step"
  }
}

/** One expected render series; `values` holds `None` for buckets not
  * checked, NaN for absent ones. `covered` counts the stored points
  * inside the series' output grid.
  */
final case class Expected(
    name: String, target: String, func: String, start: Long, stop: Long, step: Long,
    values: Vector[Option[Double]], covered: Long)

/** The generator's view of a store: every series with its point
  * schedule, and the closed-form answer to every request the workloads
  * send. `visible` restricts the view to points known to be committed
  * (the live-ingest workload); a static store sees everything.
  */
final class Model(val specs: Seq[StoreSpec]) {
  val series: Vector[(SeriesDef, StoreSpec)] = specs.toVector.flatMap(s => s.series.map(_ -> s))
  private val byPath: Map[String, (SeriesDef, StoreSpec)] = series.map(x => x._1.path -> x).toMap
  val plain: Vector[SeriesDef] = series.map(_._1).filterNot(_.tagged)
  val tagged: Vector[SeriesDef] = series.map(_._1).filter(_.tagged)

  def points: Long = specs.map(_.points).sum

  // --------------------------------------------------------------
  // glob / tag matching
  // --------------------------------------------------------------

  /** Graphite glob for one node: `*`, `{a,b}` and literals. */
  def nodeRegex(node: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < node.length) {
      node(i) match {
        case '*' => sb ++= "[^.]*"
        case '{' =>
          val close = node.indexOf('}', i)
          sb ++= node.substring(i + 1, close).split(",").map(java.util.regex.Pattern.quote).mkString("(?:", "|", ")")
          i = close
        case c => sb ++= java.util.regex.Pattern.quote(c.toString)
      }
      i += 1
    }
    sb.toString
  }

  def globPaths(target: String): Seq[String] = {
    val re = target.split('.').map(nodeRegex).mkString("\\.").r
    plain.map(_.path).filter(p => re.pattern.matcher(p).matches())
  }

  def tagsOf(s: SeriesDef): Seq[(String, String)] = {
    val q = s.path.indexOf('?')
    ("__name__" -> s.path.substring(0, q)) +: s.path.substring(q + 1).split('&').toSeq.map { kv =>
      val e = kv.indexOf('='); kv.substring(0, e) -> kv.substring(e + 1)
    }
  }

  /** Series matching every `k=v` term (`name` addresses `__name__`). */
  def byTerms(terms: Seq[String]): Seq[SeriesDef] = {
    val eqs = terms.map { t =>
      val e = t.indexOf('='); val k = t.substring(0, e)
      (if (k == "name") "__name__" else k) -> t.substring(e + 1)
    }
    tagged.filter(s => { val tg = tagsOf(s).toMap; eqs.forall { case (k, v) => tg.get(k).contains(v) } })
  }

  /** `seriesByTag('k=v', ...)` target → its terms. */
  def seriesByTagTerms(target: String): Seq[String] =
    "'([^']*)'".r.findAllMatchIn(target).map(_.group(1)).toSeq

  // --------------------------------------------------------------
  // expected answers
  // --------------------------------------------------------------

  /** Precision the benchmark's rules give a path (see Harness.rules). */
  def precisionOf(path: String): Long = if (path.startsWith("live")) 5L else 60L

  def stepFor(precision: Long, from: Long, until: Long, mdp: Long): Long = {
    val m = if (mdp > 0) mdp else 1048576L
    val span = until - from
    val raw = math.max(precision, (span + m - 1) / m)
    (raw + precision - 1) / precision * precision
  }

  /** Expected render series (sorted as the server sorts them). Values
    * of buckets whose points are not all `visible` are `None` (not
    * checked); absent buckets are NaN.
    */
  def expectRender(r: Req.Render, visible: (SeriesDef, Long) => Boolean = (_, _) => true): Seq[Expected] = {
    r.targets.flatMap { target =>
      val found: Seq[SeriesDef] =
        if (target.startsWith("seriesByTag(")) byTerms(seriesByTagTerms(target))
        else globPaths(target).map(p => byPath(p)._1)
      found.flatMap { s =>
        val spec = byPath(s.path)._2
        val step = stepFor(precisionOf(s.path), r.from, r.until, r.mdp)
        var start = r.from - r.from % step
        if (start < r.from) start += step
        val stop = r.until - r.until % step + step
        var covered = 0L
        val buckets = Iterator.iterate(start)(_ + step).takeWhile(_ < stop).map { b =>
          val first = math.max(b, spec.start)
          val t0 = first + Math.floorMod(spec.start - first, spec.interval)
          val ts = Iterator.iterate(t0)(_ + spec.interval).takeWhile(t => t < b + step && t < spec.end).toVector
          covered += ts.size
          if (!ts.forall(t => visible(s, t))) None
          else if (ts.isEmpty) Some(Double.NaN)
          else {
            val vs = ts.map(t => s.value(t, spec.interval))
            Some(s.func match {
              case "sum" => vs.sum
              case "max" => vs.max
              case _ => vs.sum / vs.size
            })
          }
        }.toVector
        // series without any point in the window are not returned
        if (buckets.forall(_.exists(_.isNaN))) None
        else Some(Expected(s.linePath, target, s.func, start, stop, step, buckets, covered))
      }
    }.sortBy(x => (x.name, x.target))
  }

  /** Expected find result: distinct node prefixes matching the query. */
  def expectFind(query: String): Seq[(String, Boolean)] = {
    val qn = query.split('.')
    val res = qn.map(n => nodeRegex(n).r.pattern)
    plain.map(_.path).flatMap { p =>
      val nodes = p.split('.')
      if (nodes.length < qn.length) None
      else if (qn.indices.forall(i => res(i).matcher(nodes(i)).matches()))
        Some((nodes.take(qn.length).mkString("."), nodes.length == qn.length))
      else None
    }.distinct.sortBy(_._1)
  }

  def expectTags(t: Req.Tags): Seq[String] = {
    val matching = byTerms(t.exprs)
    t.tag match {
      case None =>
        val used = t.exprs.map(e => e.substring(0, e.indexOf('='))).map(k => if (k == "__name__") "name" else k).toSet
        val raw = matching.flatMap(s => tagsOf(s).map(_._1)).distinct
          .filter(_.startsWith(t.prefix)).map(k => if (k == "__name__") "name" else k).filterNot(used)
        val withName =
          if (!raw.contains("name") && !used("name") && "name".startsWith(t.prefix)) raw :+ "name" else raw
        withName.sorted
      case Some(tag) =>
        val key = if (tag == "name") "__name__" else tag
        matching.flatMap(s => tagsOf(s).find(_._1 == key).map(_._2)).distinct
          .filter(_.startsWith(t.prefix)).sorted
    }
  }

  /** Expected matrix for the two PromQL shapes the workloads send:
    * `rate(name{k="v"}[5m])` and `sum by (k) (rate(name[5m]))`, over
    * counters whose rate is exactly `b / interval`.
    */
  def expectProm(p: Req.Prom): Seq[(Seq[(String, String)], Vector[(Long, Double)])] = {
    val steps = Iterator.iterate(p.start)(_ + p.step).takeWhile(_ <= p.end).toVector
    def rate(s: SeriesDef): Double = s.b.toDouble / byPath(s.path)._2.interval
    val sumBy = """sum by \((\w+)\) \(rate\((\w+)\[5m\]\)\)""".r
    val rateOf = """rate\((\w+)\{(\w+)="([^"]*)"\}\[5m\]\)""".r
    p.query match {
      case sumBy(key, name) =>
        byTerms(Seq(s"name=$name")).groupBy(s => tagsOf(s).toMap.apply(key)).toSeq.map { case (v, ss) =>
          (Seq(key -> v), steps.map(t => (t, ss.map(rate(_)).sum)))
        }.sortBy(_._1.toString)
      // the engine keeps `__name__` on range-function results (its
      // PromQL tests pin `rate(m[..])` → `m?job=a`), where Prometheus
      // drops it; the expectation follows the engine
      case rateOf(name, k, v) =>
        byTerms(Seq(s"name=$name", s"$k=$v")).map { s =>
          (tagsOf(s).sortBy(_._1), steps.map(t => (t, rate(s))))
        }.sortBy(_._1.toString)
      case other => throw new IllegalArgumentException(s"no expectation for $other")
    }
  }
}
