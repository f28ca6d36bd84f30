package servbench

/** Decodes a response and compares it with the model's closed-form
  * answer. Returns `None` when correct, else a one-line reason.
  */
object Check {

  def decodeRender(format: String, body: Array[Byte]): Seq[Decoded] = format match {
    case "json" => Decode.jsonRender(body)
    case "pickle" => Decode.pickleRender(body)
    case "protobuf" | "carbonapi_v2_pb" => Decode.v2(body)
    case "carbonapi_v3_pb" => Decode.v3(body)
  }

  def decodeFind(format: String, query: String, body: Array[Byte]): Seq[(String, Boolean)] = format match {
    case "json" => Decode.jsonFind(body)
    case "pickle" => Decode.pickleFind(body)
    case _ =>
      val (q, rows) = Decode.globResponse(body)
      require(q == query, s"glob response names '$q', asked '$query'")
      rows
  }

  private def close(got: Double, want: Double, json: Boolean): Boolean =
    if (want.isNaN) got.isNaN
    else if (json) math.abs(got - want) <= 5e-7 + 1e-12 * math.abs(want)
    else math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want))

  def render(format: String, body: Array[Byte], expected: Seq[Expected]): Option[String] = {
    val got = decodeRender(format, body)
    if (got.map(_.name) != expected.map(_.name))
      return Some(s"render series ${got.map(_.name).take(3)}… (${got.size}) != expected ${expected.map(_.name).take(3)}… (${expected.size})")
    got.zip(expected).collectFirst(Function.unlift { case (g, Expected(name, target, func, start, stop, step, values, _)) =>
      if (g.pathExpression.exists(_ != target)) Some(s"$name: pathExpression ${g.pathExpression} != $target")
      else if (g.function.exists(_ != func)) Some(s"$name: function ${g.function} != $func")
      else if (g.start != start || g.stop != stop || g.step != step)
        Some(s"$name: grid (${g.start},${g.stop},${g.step}) != ($start,$stop,$step)")
      else if (g.values.size != values.size) Some(s"$name: ${g.values.size} points != ${values.size}")
      else g.values.zip(values).zipWithIndex.collectFirst {
        case ((v, Some(w)), i) if !close(v, w, format == "json") => s"$name[$i]: $v != $w"
      }
    })
  }

  def find(format: String, query: String, body: Array[Byte], expected: Seq[(String, Boolean)]): Option[String] = {
    val got = decodeFind(format, query, body)
    if (got == expected) None
    else Some(s"find $query: ${got.take(4)}… (${got.size}) != ${expected.take(4)}… (${expected.size})")
  }

  def strings(body: Array[Byte], expected: Seq[String]): Option[String] = {
    val got = Decode.jsonStrings(body)
    if (got == expected) None else Some(s"autocomplete ${got.take(5)} != ${expected.take(5)}")
  }

  def prom(body: Array[Byte], expected: Seq[(Seq[(String, String)], Vector[(Long, Double)])]): Option[String] = {
    val got = Decode.promMatrix(body).sortBy(_._1.toString)
    if (got.map(_._1) != expected.map(_._1))
      return Some(s"prom series ${got.map(_._1).take(2)} != ${expected.map(_._1).take(2)}")
    got.zip(expected).collectFirst(Function.unlift { case ((labels, gv), (_, ev)) =>
      if (gv.map(_._1) != ev.map(_._1)) Some(s"prom $labels: ${gv.size} steps != ${ev.size}")
      else gv.zip(ev).collectFirst {
        case ((t, v), (_, w)) if math.abs(v - w) > 1e-9 * math.max(1.0, math.abs(w)) => s"prom $labels@$t: $v != $w"
      }
    })
  }

  /** Check one static-store response against the model. */
  def apply(model: Model, req: Req, status: Int, body: Array[Byte]): Option[String] =
    if (status != 200) Some(s"HTTP $status: ${new String(body.take(200), "UTF-8").trim}")
    else try {
      req match {
        case r: Req.Render => render(r.format, body, model.expectRender(r))
        case f: Req.Find => find(f.format, f.query, body, model.expectFind(f.query))
        case t: Req.Tags => strings(body, model.expectTags(t))
        case p: Req.Prom => prom(body, model.expectProm(p))
      }
    } catch { case scala.util.control.NonFatal(e) => Some(s"undecodable ${req.route}: $e") }
}
