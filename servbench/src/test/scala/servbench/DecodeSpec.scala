package servbench

import org.scalatest.funsuite.AnyFunSuite

import graft.api.HttpApi
import graft.sinks.{FindSink, JsonSink, PickleSink, ProtobufSink, Series}

/** The benchmark's decoders against the engine's encoders. */
class DecodeSpec extends AnyFunSuite {

  private val series = Seq(
    Series("a.b.c", "a.*.c", "avg", 1700000000L, 1700000600L, 60L,
      Array(1.5, Double.NaN, 300.0, -2.25, 0.0, 1e9, 7.0, Double.NaN, 3.0, 4.0)),
    Series("m;dc=x;host=y", "seriesByTag('name=m')", "sum", 120L, 70120L, 7000L, Array.fill(10)(42.0)),
    Series("empty", "e.*", "any", 5L, 5L, 1L, Array.empty))

  private def same(got: Seq[Decoded], json: Boolean = false): Unit = {
    assert(got.map(_.name) == series.map(_.name))
    got.zip(series).foreach { case (g, s) =>
      assert((g.start, g.stop, g.step) == ((s.start, s.stop, s.step)))
      assert(g.values.size == s.values.length)
      g.values.zip(s.values).foreach { case (a, b) =>
        assert(if (b.isNaN) a.isNaN else math.abs(a - b) <= (if (json) 1e-6 else 0.0))
      }
    }
  }

  test("pickle render") {
    val got = Decode.pickleRender(PickleSink.encode(series))
    same(got)
    assert(got.map(_.pathExpression) == series.map(s => Some(s.pathExpression)))
  }

  test("carbonapi_v2_pb render") {
    same(Decode.v2(ProtobufSink.encodeV2(series)))
  }

  test("carbonapi_v3_pb render") {
    val body = series.map(s => ProtobufSink.encodeV3(Seq(s), 100L, 200L)).reduce(_ ++ _)
    val got = Decode.v3(body)
    same(got)
    assert(got.map(_.function) == series.map(s => Some(s.function)))
    assert(got.map(_.pathExpression) == series.map(s => Some(s.pathExpression)))
  }

  test("json render") {
    val got = Decode.jsonRender(JsonSink.render(series, 100L, 200L).getBytes("UTF-8"))
    same(got, json = true)
    assert(got.map(_.function) == series.map(s => Some(s.function)))
  }

  test("find in pickle, protobuf and json") {
    val rows = Seq(("a.b", false), ("a.c", true), ("a.d.e", true))
    assert(Decode.pickleFind(FindSink.pickle(rows)) == rows)
    assert(Decode.pickleFind(FindSink.pickle(Nil)).isEmpty)
    assert(Decode.globResponse(FindSink.protobuf("a.*", rows)) == (("a.*", rows)))
    assert(Decode.jsonFind(JsonSink.find(rows).getBytes("UTF-8")) == rows)
    assert(Decode.jsonFind(JsonSink.find(Nil).getBytes("UTF-8")).isEmpty)
  }

  test("autocomplete and PromQL matrix json") {
    val values = Seq("dc", "host", "quote\"d")
    assert(Decode.jsonStrings(JsonSink.autocomplete(values).getBytes("UTF-8")) == values)
    val rows = Seq(("m?dc=x&host=y", 60L, 0.05), ("m?dc=x&host=y", 120L, 2.0), ("?dc=z", 60L, 1.5))
    val got = Decode.promMatrix(graft.prom.PromQL.matrixJson(rows, JsonSink.q).getBytes("UTF-8")).toMap
    assert(got(Seq("__name__" -> "m", "dc" -> "x", "host" -> "y")) == Vector(60L -> 0.05, 120L -> 2.0))
    assert(got(Seq("dc" -> "z")) == Vector(60L -> 1.5))
  }

  test("the v3 render request body parses back on the server side") {
    val body = Decode.v3Request(Seq(("a.*", 100L, 200L, 50L), ("seriesByTag('name=m')", 300L, 400L, 0L)))
    assert(HttpApi.parseV3Request(body) ==
      Seq(("a.*", 100L, 200L, 50L, Nil), ("seriesByTag('name=m')", 300L, 400L, 0L, Nil)))
  }

  test("the render check accepts the model's answer in every format and rejects a changed value") {
    val d = Stores.dashboard(9)
    val model = new Model(d.specs)
    val req = d.catalogue.classes(0).head.asInstanceOf[Req.Render]
    val expected = model.expectRender(req)
    assert(expected.nonEmpty)
    val out = expected.map(e => Series(e.name, e.target, e.func, e.start, e.stop, e.step,
      e.values.map(_.get).toArray))
    val bodies = Map(
      "json" -> JsonSink.render(out, req.from, req.until).getBytes("UTF-8"),
      "pickle" -> PickleSink.encode(out),
      "protobuf" -> ProtobufSink.encodeV2(out),
      "carbonapi_v3_pb" -> out.map(s => ProtobufSink.encodeV3(Seq(s), req.from, req.until)).reduce(_ ++ _))
    bodies.foreach { case (f, b) => assert(Check.render(f, b, expected).isEmpty, f) }
    val i = out.head.values.indexWhere(!_.isNaN)
    val wrong = out.head.copy(values = out.head.values.updated(i, out.head.values(i) + 1)) +: out.tail
    assert(Check.render("pickle", PickleSink.encode(wrong), expected).isDefined)
    assert(Check.render("pickle", PickleSink.encode(out.tail), expected).isDefined)
  }
}
