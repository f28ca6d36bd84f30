package servbench

import java.nio.charset.StandardCharsets.UTF_8

/** One decoded render series. Fields a wire format does not carry are
  * `None` (pickle and v2 protobuf carry no consolidation function; v2
  * carries no path expression).
  */
final case class Decoded(
    name: String,
    pathExpression: Option[String],
    function: Option[String],
    start: Long,
    stop: Long,
    step: Long,
    values: Vector[Double])

/** Response decoders written from the wire formats' public
  * definitions, independent of the engine's encoders (the benchmark's
  * tests round-trip them against those encoders).
  */
object Decode {

  // ---------------------------------------------------------------
  // protobuf
  // ---------------------------------------------------------------

  final class Pb(buf: Array[Byte], from: Int, until: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    private var pos = from
    def hasNext: Boolean = pos < until
    def varint(): Long = {
      var shift = 0; var out = 0L; var b = 0
      while ({ b = buf(pos) & 0xff; pos += 1; out |= (b & 0x7fL) << shift; shift += 7; (b & 0x80) != 0 }) ()
      out
    }
    def key(): (Int, Int) = { val k = varint(); ((k >>> 3).toInt, (k & 7).toInt) }
    def sub(): Pb = { val n = varint().toInt; val p = new Pb(buf, pos, pos + n); pos += n; p }
    def bytes(): Array[Byte] = { val n = varint().toInt; val out = buf.slice(pos, pos + n); pos += n; out }
    def string(): String = new String(bytes(), UTF_8)
    def fixed64(): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; v
    }
    def double(): Double = java.lang.Double.longBitsToDouble(fixed64())
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => pos += varint().toInt
      case 5 => pos += 4
      case w => throw new IllegalStateException(s"unsupported wire type $w")
    }
  }

  private def packedDoubles(p: Pb): Vector[Double] = {
    val s = p.sub(); val out = Vector.newBuilder[Double]
    while (s.hasNext) out += s.double()
    out.result()
  }

  private def packedBools(p: Pb): Vector[Boolean] = {
    val s = p.sub(); val out = Vector.newBuilder[Boolean]
    while (s.hasNext) out += s.varint() != 0
    out.result()
  }

  /** carbonapi_v2_pb MultiFetchResponse. */
  def v2(body: Array[Byte]): Seq[Decoded] = {
    val top = new Pb(body); val out = Seq.newBuilder[Decoded]
    while (top.hasNext) {
      val (f, w) = top.key()
      if (f == 1 && w == 2) {
        val m = top.sub()
        var name = ""; var start = 0L; var stop = 0L; var step = 0L
        var values = Vector.empty[Double]; var absent = Vector.empty[Boolean]
        while (m.hasNext) {
          val (f2, w2) = m.key()
          f2 match {
            case 1 => name = m.string()
            case 2 => start = m.varint()
            case 3 => stop = m.varint()
            case 4 => step = m.varint()
            case 5 => values = packedDoubles(m)
            case 6 => absent = packedBools(m)
            case _ => m.skip(w2)
          }
        }
        val vs = values.zipWithIndex.map { case (v, i) => if (absent.lift(i).contains(true)) Double.NaN else v }
        out += Decoded(name, None, None, start, stop, step, vs)
      } else top.skip(w)
    }
    out.result()
  }

  /** carbonapi_v3_pb MultiFetchResponse. */
  def v3(body: Array[Byte]): Seq[Decoded] = {
    val top = new Pb(body); val out = Seq.newBuilder[Decoded]
    while (top.hasNext) {
      val (f, w) = top.key()
      if (f == 1 && w == 2) {
        val m = top.sub()
        var name = ""; var pe = ""; var fn = ""; var start = 0L; var stop = 0L; var step = 0L
        var values = Vector.empty[Double]
        while (m.hasNext) {
          val (f2, w2) = m.key()
          f2 match {
            case 1 => name = m.string()
            case 2 => pe = m.string()
            case 3 => fn = m.string()
            case 4 => start = m.varint()
            case 5 => stop = m.varint()
            case 6 => step = m.varint()
            case 9 => values = packedDoubles(m)
            case _ => m.skip(w2)
          }
        }
        out += Decoded(name, Some(pe), Some(fn), start, stop, step, values)
      } else top.skip(w)
    }
    out.result()
  }

  /** GlobResponse (find, protobuf formats): (query, matches). */
  def globResponse(body: Array[Byte]): (String, Seq[(String, Boolean)]) = {
    val top = new Pb(body); var name = ""; val out = Seq.newBuilder[(String, Boolean)]
    while (top.hasNext) {
      val (f, w) = top.key()
      f match {
        case 1 => name = top.string()
        case 2 =>
          val m = top.sub(); var path = ""; var leaf = false
          while (m.hasNext) {
            val (f2, w2) = m.key()
            f2 match {
              case 1 => path = m.string()
              case 2 => leaf = m.varint() != 0
              case _ => m.skip(w2)
            }
          }
          out += ((path, leaf))
        case _ => top.skip(w)
      }
    }
    (name, out.result())
  }

  /** MultiFetchRequest body for the v3 render route. */
  def v3Request(targets: Seq[(String, Long, Long, Long)]): Array[Byte] = {
    def varint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def field(out: java.io.ByteArrayOutputStream, f: Int, w: Int): Unit = varint(out, (f << 3 | w).toLong)
    def str(out: java.io.ByteArrayOutputStream, f: Int, s: String): Unit = {
      val b = s.getBytes(UTF_8); field(out, f, 2); varint(out, b.length.toLong); out.write(b)
    }
    val top = new java.io.ByteArrayOutputStream()
    targets.foreach { case (target, from, until, mdp) =>
      val m = new java.io.ByteArrayOutputStream()
      str(m, 1, target)
      field(m, 2, 0); varint(m, from)
      field(m, 3, 0); varint(m, until)
      str(m, 5, target)
      field(m, 6, 0); varint(m, mdp)
      field(top, 1, 2); varint(top, m.size.toLong); top.write(m.toByteArray)
    }
    top.toByteArray
  }

  // ---------------------------------------------------------------
  // pickle (protocol 2, the opcode subset graphite responses use)
  // ---------------------------------------------------------------

  private case object Mark

  def unpickle(body: Array[Byte]): Any = {
    var pos = 0
    val stack = scala.collection.mutable.ArrayBuffer.empty[Any]
    def u8(): Int = { val b = body(pos) & 0xff; pos += 1; b }
    def le(n: Int): Long = { var v = 0L; var i = 0; while (i < n) { v |= u8().toLong << (8 * i); i += 1 }; v }
    def pop(): Any = stack.remove(stack.length - 1)
    def popMark(): Seq[Any] = {
      val at = stack.lastIndexWhere(_ == Mark)
      val items = stack.slice(at + 1, stack.length).toSeq
      stack.remove(at, stack.length - at)
      items
    }
    var done = false
    while (!done) {
      u8() match {
        case 0x80 => u8() // PROTO
        case ']' => stack += scala.collection.mutable.ArrayBuffer.empty[Any]
        case '}' => stack += scala.collection.mutable.LinkedHashMap.empty[Any, Any]
        case '(' => stack += Mark
        case 'X' =>
          val n = le(4).toInt; stack += new String(body, pos, n, UTF_8); pos += n
        case 'K' => stack += le(1)
        case 'M' => stack += le(2)
        case 'J' => stack += le(4).toInt.toLong
        case 0x8a =>
          val n = u8(); var v = 0L; var i = 0
          while (i < n) { v |= u8().toLong << (8 * i); i += 1 }
          if (n < 8 && n > 0 && (v & (1L << (8 * n - 1))) != 0) v -= 1L << (8 * n)
          stack += v
        case 'G' =>
          var bits = 0L; var i = 0
          while (i < 8) { bits = (bits << 8) | u8().toLong; i += 1 }
          stack += java.lang.Double.longBitsToDouble(bits)
        case 'N' => stack += None
        case 0x88 => stack += true
        case 0x89 => stack += false
        case 's' =>
          val v = pop(); val k = pop()
          stack.last.asInstanceOf[scala.collection.mutable.Map[Any, Any]](k) = v
        case 'a' =>
          val v = pop(); stack.last.asInstanceOf[scala.collection.mutable.ArrayBuffer[Any]] += v
        case 'e' =>
          val items = popMark(); stack.last.asInstanceOf[scala.collection.mutable.ArrayBuffer[Any]] ++= items
        case '.' => done = true
        case op => throw new IllegalStateException(s"unsupported pickle opcode $op")
      }
    }
    pop()
  }

  private def dicts(body: Array[Byte]): Seq[scala.collection.Map[Any, Any]] =
    unpickle(body).asInstanceOf[scala.collection.Seq[Any]].toSeq
      .map(_.asInstanceOf[scala.collection.Map[Any, Any]])

  def pickleRender(body: Array[Byte]): Seq[Decoded] =
    dicts(body).map { d =>
      val values = d("values").asInstanceOf[scala.collection.Seq[Any]].map {
        case None => Double.NaN
        case v: Double => v
        case other => throw new IllegalStateException(s"bad pickle value $other")
      }.toVector
      Decoded(d("name").toString, Some(d("pathExpression").toString), None,
        d("start").asInstanceOf[Long], d("end").asInstanceOf[Long], d("step").asInstanceOf[Long], values)
    }

  def pickleFind(body: Array[Byte]): Seq[(String, Boolean)] =
    dicts(body).map(d => (d("metric_path").toString, d("isLeaf").asInstanceOf[Boolean]))

  // ---------------------------------------------------------------
  // JSON
  // ---------------------------------------------------------------

  /** Minimal JSON reader: objects → Map, arrays → Vector, numbers →
    * Double, null → None.
    */
  def json(text: String): Any = {
    var i = 0
    def ws(): Unit = while (i < text.length && text(i).isWhitespace) i += 1
    def expect(c: Char): Unit = {
      ws(); if (text(i) != c) throw new IllegalStateException(s"expected '$c' at $i"); i += 1
    }
    def str(): String = {
      expect('"'); val sb = new StringBuilder
      while (text(i) != '"') {
        if (text(i) == '\\') {
          i += 1
          text(i) match {
            case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
            case 'b' => sb += '\b'; case 'f' => sb += '\f'
            case 'u' => sb += Integer.parseInt(text.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += text(i)
        i += 1
      }
      i += 1; sb.toString
    }
    def value(): Any = {
      ws()
      text(i) match {
        case '{' =>
          i += 1; val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]; ws()
          if (text(i) == '}') { i += 1; m }
          else {
            var more = true
            while (more) {
              val k = str(); expect(':'); m(k) = value(); ws()
              if (text(i) == ',') i += 1 else { expect('}'); more = false }
            }
            m
          }
        case '[' =>
          i += 1; val b = Vector.newBuilder[Any]; ws()
          if (text(i) == ']') { i += 1; b.result() }
          else {
            var more = true
            while (more) {
              b += value(); ws()
              if (text(i) == ',') i += 1 else { expect(']'); more = false }
            }
            b.result()
          }
        case '"' => str()
        case 'n' => i += 4; None
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case _ =>
          val s = i
          while (i < text.length && "+-0123456789.eE".indexOf(text(i)) >= 0) i += 1
          text.substring(s, i).toDouble
      }
    }
    val v = value(); ws()
    if (i != text.length) throw new IllegalStateException(s"trailing bytes at $i")
    v
  }

  private def obj(x: Any): scala.collection.Map[String, Any] = x.asInstanceOf[scala.collection.Map[String, Any]]
  private def arr(x: Any): Vector[Any] = x.asInstanceOf[Vector[Any]]

  def jsonRender(body: Array[Byte]): Seq[Decoded] =
    arr(obj(json(new String(body, UTF_8)))("metrics")).map { m0 =>
      val m = obj(m0)
      val values = m.get("values").map(arr).getOrElse(Vector.empty).map {
        case None => Double.NaN
        case d: Double => d
        case other => throw new IllegalStateException(s"bad json value $other")
      }
      Decoded(m.getOrElse("name", "").toString, m.get("pathExpression").map(_.toString),
        m.get("consolidationFunc").map(_.toString), m("startTime").asInstanceOf[Double].toLong,
        m("stopTime").asInstanceOf[Double].toLong, m("stepTime").asInstanceOf[Double].toLong, values)
    }

  def jsonStrings(body: Array[Byte]): Seq[String] =
    arr(json(new String(body, UTF_8))).map(_.toString)

  /** The find route's json body: `[{path="a.b",leaf=1},{path="a.c"}]`
    * plus CRLF; the empty result is the empty body.
    */
  def jsonFind(body: Array[Byte]): Seq[(String, Boolean)] = {
    val s = new String(body, UTF_8)
    if (s.isEmpty) Nil
    else {
      val entry = """\{path="([^"]*)"(,leaf=1)?\}""".r
      require(s.startsWith("[") && s.endsWith("]\r\n"), "malformed find body")
      entry.findAllMatchIn(s).map(m => (m.group(1), m.group(2) != null)).toSeq
    }
  }

  /** Prometheus matrix envelope → (sorted label set, [(t, value)]). */
  def promMatrix(body: Array[Byte]): Seq[(Seq[(String, String)], Vector[(Long, Double)])] = {
    val top = obj(json(new String(body, UTF_8)))
    require(top("status") == "success", s"prom status ${top("status")}")
    val data = obj(top("data"))
    require(data("resultType") == "matrix", "not a matrix")
    arr(data("result")).map { r0 =>
      val r = obj(r0)
      val labels = obj(r("metric")).toSeq.map { case (k, v) => (k, v.toString) }.sortBy(_._1)
      val values = arr(r("values")).map { p0 =>
        val p = arr(p0); (p(0).asInstanceOf[Double].toLong, p(1).toString.toDouble)
      }
      (labels, values)
    }
  }
}
