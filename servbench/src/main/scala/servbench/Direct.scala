package servbench

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.api.HttpApi
import graft.compiler.Tagged
import graft.engine.{Autocomplete, Finder, Render, SeriesAssembly}
import graft.model.TimeFrame
import graft.sinks.{FindSink, JsonSink, PickleSink, ProtobufSink, Series}

/** The traced run's direct-call decomposition: each route's work done
  * by calling the layers' public functions in the order `HttpApi`'s
  * handlers call them (cache bypassed, classic render path — the
  * server's configuration in every workload), with one span per call.
  * The result must equal the HTTP body byte for byte; a mismatch means
  * this file has drifted from the handlers.
  */
final class Direct(spark: SparkSession, tablesDir: String, cfg: HttpApi.Config, tracer: Tracer,
    clock: () => Instant) {

  // each handler opens the tables it uses, once per use, as these do
  private def open(table: String): DataFrame = tracer.span("store.open")(spark.read.parquet(s"$tablesDir/$table"))
  private def points: DataFrame = open("points")
  private def index: DataFrame = open("index")
  private def tagsTable: DataFrame = open("tags")

  /** Response body and the number of `Render.functionGroups` planned. */
  def render(r: Req.Render): (Array[Byte], Int) = {
    val now = clock().getEpochSecond
    val (pts, idx, tags) = (points, index, tagsTable)
    val mdp = if (r.mdp > 0) r.mdp else graft.api.Request.DefaultMaxDataPoints
    val tf = TimeFrame(r.from, r.until, mdp)
    val versionMode =
      if (cfg.internalAggregation) Render.VersionMode.Raw else Render.VersionMode.MergedCells
    val resolved = r.targets.distinct.map { t =>
      val isTagged = t.startsWith("seriesByTag(")
      val found = tracer.span("finder.plan") {
        if (isTagged)
          Finder.findTagged(tags, t, cfg.flags, tagsMinInQuery = cfg.tagsMinInQuery).select("path")
        else
          Finder.find(idx, t, r.from, r.until, wildcardMinDistance = cfg.wildcardMinDistance)
            .where(col("is_leaf")).select("path")
      }
      val pairs = tracer.span("finder.exec") {
        found.collect().map(_.getString(0)).toSeq
          .map(p => if (isTagged) (p, Tagged.decodePath(p)) else (p, p))
      }
      t -> pairs
    }
    val groups = Render.functionGroups(resolved.flatMap(_._2.map(_._1)).distinct, cfg.rules, now, tf).size
    val out = tracer.span("render.plan") {
      Render.renderMulti(pts, resolved, tf, cfg.rules, now = now, consolidateBy = None,
        appendEmpty = cfg.appendEmptySeries, versionMode = versionMode)
    }
    val series: Seq[Series] = tracer.span("render.exec") {
      SeriesAssembly.collect(out, resolved, tf, cfg.rules, now = now, consolidateBy = None)
        .sortBy(s => (s.name, s.pathExpression))
    }
    val body = r.format match {
      case "carbonapi_v3_pb" => tracer.span("sinks.v3") {
        val b = new java.io.ByteArrayOutputStream()
        series.foreach(s => b.write(ProtobufSink.encodeV3(Seq(s), r.from, r.until)))
        b.toByteArray
      }
      case "protobuf" | "carbonapi_v2_pb" => tracer.span("sinks.protobuf")(ProtobufSink.encodeV2(series))
      case "pickle" => tracer.span("sinks.pickle")(PickleSink.encode(series))
      case "json" => tracer.span("sinks.json")(JsonSink.render(series, r.from, r.until).getBytes)
    }
    (body, groups)
  }

  def find(f: Req.Find): Array[Byte] = {
    val idx = index
    val df = tracer.span("finder.plan") {
      Finder.find(idx, f.query, 0L, 0L, wildcardMinDistance = cfg.wildcardMinDistance).orderBy("path")
    }
    val rows = tracer.span("finder.exec") {
      df.collect().toSeq.map(r => (r.getString(0), r.getBoolean(1)))
    }
    tracer.span("sinks.find") {
      f.format match {
        case "json" => JsonSink.find(rows).getBytes
        case "pickle" => FindSink.pickle(rows)
        case _ => FindSink.protobuf(f.query, rows)
      }
    }
  }

  def tags(t: Req.Tags): Array[Byte] = {
    val tags = tagsTable
    val values = tracer.span("autocomplete.exec") {
      t.tag match {
        case None =>
          Autocomplete.tagNamesComplete(tags, t.exprs.toList, tagPrefix = t.prefix, limit = 10000,
            flags = cfg.flags)
        case Some(tag) =>
          import spark.implicits._
          Autocomplete.tagValues(tags, tag, t.exprs.toList, valuePrefix = t.prefix, limit = 10000,
            flags = cfg.flags).as[String].collect().toSeq
      }
    }
    tracer.span("sinks.tags")(JsonSink.autocomplete(values).getBytes)
  }

  def prom(p: Req.Prom): Array[Byte] = {
    val expr = tracer.span("prom.parse") {
      graft.prom.PromQL.parse(p.query).fold(e => throw new IllegalArgumentException(e), identity)
    }
    // the handler opens points twice (points, then the plain-from-tagged table)
    val (pts, idx, pts2, tags) = (points, index, points, tagsTable)
    val df = tracer.span("prom.plan") {
      graft.prom.PromQL.evalMatrixGraphite(pts, idx, pts2, tags, expr, p.start, p.end, p.step)
    }
    val rows = tracer.span("prom.exec") {
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    tracer.span("prom.encode")(graft.prom.PromQL.matrixJson(rows, JsonSink.q).getBytes)
  }

  /** Body for any request, plus render's function-group count (0 for
    * other routes).
    */
  def apply(req: Req): (Array[Byte], Int) = req match {
    case r: Req.Render => render(r)
    case f: Req.Find => (find(f), 0)
    case t: Req.Tags => (tags(t), 0)
    case p: Req.Prom => (prom(p), 0)
  }
}
