package servbench

import org.apache.spark.sql.SparkSession

import graft.streaming.Ingest

/** The seeded stores and request catalogues of the static-store
  * workloads. Shapes (tree fan-out, series counts, windows, request
  * sequence) are fixed; the seed picks names and values.
  */
object Stores {

  /** The served clock of the static stores: a fixed UTC midnight, so
    * retention ages and find-cache keys are the same on every run.
    */
  val Now: Long = 1700006400L
  val Day: Long = 86400L

  /** Writes `specs` through the public ingest entry points: the lines
    * of each batch are generated on the executors and parsed by
    * `Ingest.parseLines`, then `Ingest.processBatch` appends points
    * and maintains the index and tags tables.
    */
  def ingest(spark: SparkSession, specs: Seq[StoreSpec], dir: String): Unit = {
    import spark.implicits._
    val batches = specs.map(_.batches).max
    (0 until batches).foreach { b =>
      val lines = specs.filter(_.batches > b).map { spec =>
        val parts = math.max(1, math.min(spec.series.size, spark.sparkContext.defaultParallelism))
        spark.range(0, spec.series.size.toLong, 1, parts).as[Long]
          .flatMap(i => spec.lines(i.toInt, b))
      }.reduce(_ union _).toDF("value")
      Ingest.processBatch(Ingest.parseLines(lines), dir)
    }
  }

  final case class Dash(specs: Seq[StoreSpec], catalogue: Catalogue) {
    def fingerprint: String = {
      val fp = new Fingerprint()
      specs.foreach(fp.addStore)
      catalogue.all.foreach(r => fp.add(r.uri).add(r.body.mkString(",")))
      fp.hex
    }
  }
  final case class Bulk(specs: Seq[StoreSpec], glob: String, counter: String) {
    def fingerprint: String = { val fp = new Fingerprint(); specs.foreach(fp.addStore); fp.hex }
  }

  // ---------------------------------------------------------------
  // dashboard
  // ---------------------------------------------------------------

  /** 5 dc × 4 svc × 10 host × 5 metric = 1000 plain series at 300 s
    * over 25 h, 500 tagged gauges (dc × 25 host × 4 env) at 300 s over
    * 25 h and 500 tagged counters (dc × 25 host × 4 code) at 60 s over
    * the last 3 h: the index of the sizing probe (about 1000 plain plus
    * 1000 tagged series) with fewer points per series (540 k in all),
    * so a cold set-up stays a small part of a run.
    */
  def dashboard(seed: Long): Dash = {
    val rng = new Rng(seed ^ 0xDA5BL)
    val w = rng.words(60)
    val dcs = w.slice(0, 5); val svcs = w.slice(5, 9); val hosts = w.slice(9, 19)
    val metrics = w.slice(19, 22) ++ Seq(s"${w(22)}_count", s"${w(23)}_max")
    val thosts = w.slice(24, 49)
    val counter = s"${w(50)}_total"; val gauge = s"${w(51)}_depth"
    val plain = for (d <- dcs; s <- svcs; h <- hosts; m <- metrics) yield SeriesDef.plain(s"app.$d.$s.$h.$m", rng)
    val counters = for (d <- dcs; h <- thosts; c <- Seq("200", "404", "500", "503"))
      yield SeriesDef.tagged(counter, Seq("dc" -> d, "host" -> h, "code" -> c), counter = true, rng)
    val gauges = for (d <- dcs; h <- thosts; e <- Seq("prod", "stage", "dev", "test"))
      yield SeriesDef.tagged(gauge, Seq("dc" -> d, "host" -> h, "env" -> e), counter = false, rng)
    val start = Now - Day - 3600L
    val specs = Seq(
      StoreSpec(seed, start, Now, 300L, plain.toVector, batches = 2, latePermille = 20, dupPermille = 10),
      StoreSpec(seed + 1, start, Now, 300L, gauges.toVector, batches = 2, latePermille = 20, dupPermille = 10),
      StoreSpec(seed + 2, Now - 3 * 3600L, Now, 60L, counters.toVector, batches = 2, latePermille = 20,
        dupPermille = 10))

    // entry i has a fixed shape (target kind, names by position, window,
    // maxDataPoints, format); the seed only supplies the names. Renders
    // match 10, 4, 20, 1 and 4 or 5 series by kind.
    val formats = Vector("json", "pickle", "protobuf", "carbonapi_v3_pb")
    val windows = Vector(3600L, 3 * 3600L, 6 * 3600L, 12 * 3600L, Day)
    def at[T](xs: Seq[T], i: Int): T = xs(i % xs.size)
    val renders = Vector.tabulate(40) { i =>
      val (d, s, h, m) = (at(dcs, i), at(svcs, i / 3), at(hosts, i / 2), at(metrics, i / 4))
      val target = i % 5 match {
        case 0 => s"app.$d.$s.*.$m"
        case 1 => s"app.$d.*.$h.$m"
        case 2 => s"app.{${dcs(0)},${dcs(1)}}.$s.{$h,${at(hosts, i / 2 + 1)}}.*"
        case 3 => s"app.$d.$s.$h.$m"
        case _ if i / 5 % 2 == 0 => s"seriesByTag('name=$gauge','dc=$d','host=${at(thosts, i)}')"
        case _ => s"seriesByTag('name=$gauge','host=${at(thosts, i)}','env=prod')"
      }
      val until = Now - 300L * (i * 7 % 12)
      Req.Render(Seq(target), until - windows(i / 5 % 5), until, Vector(500L, 700L, 1000L)(i / 2 % 3),
        formats(i % formats.size))
    }
    val finds = Vector.tabulate(30) { i =>
      val q = i % 5 match {
        case 0 => s"app.*.${at(svcs, i / 5)}.*"
        case 1 => s"app.${at(dcs, i / 5)}.*"
        case 2 => s"app.${at(dcs, i / 5)}.${at(svcs, i / 15)}.*"
        case 3 => s"app.${at(dcs, i / 5)}.${at(svcs, i / 15)}.${at(hosts, i / 5)}.*"
        case _ => "app.*"
      }
      Req.Find(q, Vector("pickle", "json", "protobuf")(i % 3))
    }
    val tags = Vector.tabulate(20) { i =>
      val name = if (i % 2 == 0) counter else gauge
      i % 4 match {
        case 0 => Req.Tags(None, Seq(s"name=$name"), "")
        case 1 => Req.Tags(None, Seq(s"name=$name", s"dc=${at(dcs, i / 4)}"), "")
        case 2 => Req.Tags(Some("dc"), Seq(s"name=$name"), "")
        case _ => Req.Tags(Some("host"), Seq(s"name=$name"), at(thosts, i / 4).take(1))
      }
    }
    val proms = Vector.tabulate(20) { i =>
      val q = i % 4 match {
        case 0 => s"""rate($counter{host="${at(thosts, i / 4)}"}[5m])"""
        case 1 => s"""rate($counter{host="${at(thosts, i / 4 + 12)}"}[5m])"""
        case 2 => s"sum by (dc) (rate($counter[5m]))"
        case _ => s"sum by (code) (rate($counter[5m]))"
      }
      val end = Now - 300L * (i * 5 % 12)
      Req.Prom(q, end - 3600L, end, 60L)
    }
    Dash(specs, Catalogue(Vector(renders, finds, tags, proms)))
  }

  // ---------------------------------------------------------------
  // bulk render
  // ---------------------------------------------------------------

  /** 2 × 17 × 29 = 986 plain metrics under one glob (the reference's
    * published shape) at 60 s precision, holding one point per 10
    * minutes over 7 days (a tenth of the reference's density), plus 102
    * tagged counters at 60 s over the last day for the aggregate PromQL.
    */
  def bulk(seed: Long): Bulk = {
    val rng = new Rng(seed ^ 0xB01CL)
    val w = rng.words(60)
    val dcs = w.slice(0, 2); val hosts = w.slice(2, 19); val metrics = w.slice(19, 48)
    val counter = s"${w(48)}_total"
    val plain = for (d <- dcs; h <- hosts; m <- metrics) yield SeriesDef.plain(s"bulk.$d.$h.$m", rng)
    val tagged = for (d <- dcs; h <- hosts; c <- Seq("200", "404", "500"))
      yield SeriesDef.tagged(counter, Seq("dc" -> d, "host" -> h, "code" -> c), counter = true, rng)
    val specs = Seq(
      StoreSpec(seed, Now - 7 * Day - 3600L, Now, 600L, plain.toVector, batches = 2, latePermille = 5,
        dupPermille = 5),
      StoreSpec(seed + 1, Now - Day - 3600L, Now, 60L, tagged.toVector, batches = 2, latePermille = 5,
        dupPermille = 5))
    Bulk(specs, "bulk.*.*.*", counter)
  }
}

/** Dashboard request catalogue: one entry list per route class. The
  * class sequence is a fixed 20-slot cycle (9 render, 4 find, 3 tags,
  * 4 PromQL — the 45/20/15/20 mix); within a class the entry is a
  * Zipf draw (s = 1.1, entry 0 hottest), so repeats exercise the find
  * cache. The draws come from a fixed stream: every seed sends the
  * same sequence of entry shapes, and the seed changes only the names
  * and values in them — so runs with different seeds measure the same
  * work.
  */
final case class Catalogue(classes: Vector[Vector[Req]]) {

  /** `mix` names the class of each slot (R render, F find, T tags, P
    * PromQL); the traced run uses "RFTP" so every route shows up early.
    */
  def sequence(mix: String = Catalogue.Mix): Iterator[Req] = {
    val cycle = mix.map("RFTP".indexOf(_))
    val rng = new Rng(0x5E9L)
    Iterator.from(0).map { i =>
      val c = cycle(i % cycle.length)
      classes(c)(rng.zipf(classes(c).size, 1.1))
    }
  }

  def all: Seq[Req] = classes.flatten
}

object Catalogue {
  /** The dashboard's 20-slot class cycle. */
  val Mix = "RFRTRPRFRTRPRFRPTRFP"
}
