package servbench

import java.security.MessageDigest

/** Seeded randomness: splitmix64 for both the sequential generator
  * and the stateless per-point hash, so every input the benchmark
  * produces is a pure function of the workload seed.
  */
object Mix {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(seed ^ a) + b) + c)

  /** Non-negative hash reduced to `[0, n)`. */
  def below(h: Long, n: Int): Int = ((h >>> 1) % n).toInt
}

final class Rng(seed: Long) {
  private var state = Mix.mix(seed)

  def long(): Long = { state = Mix.mix(state); state }
  def int(n: Int): Int = Mix.below(long(), n)
  def double(): Double = (long() >>> 11).toDouble / (1L << 53).toDouble
  def between(lo: Int, hi: Int): Int = lo + int(hi - lo + 1)

  /** Zipf rank in `[0, n)` with exponent `s` (rank 0 most likely). */
  def zipf(n: Int, s: Double): Int = {
    val weights = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    var u = double() * weights.sum
    var k = 0
    while (k < n - 1 && u >= weights(k)) { u -= weights(k); k += 1 }
    k
  }

  /** `n` distinct pronounceable lowercase words of 2–3 syllables. */
  def words(n: Int): Vector[String] = {
    val cons = "bdfgklmnprstvz"
    val vows = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syl = between(2, 3)
      seen += (0 until syl).map(_ => s"${cons(int(cons.length))}${vows(int(vows.length))}").mkString
    }
    seen.toVector
  }
}

/** One generated series. Values are a closed-form function of the
  * series parameters and the timestamp, so the benchmark can check any
  * rendered bucket without re-reading the store:
  *
  *   - gauge:   `a + b * ((t / interval) % 97)`
  *   - counter: `a + b * (t / interval)` (monotone; rate = b / interval)
  *
  * All values are integers, so sums and averages are exact in doubles.
  * `linePath` is the plaintext-protocol name (`name;k=v` for tagged
  * series); `path` is the storage form the engine returns.
  */
final case class SeriesDef(
    path: String,
    linePath: String,
    counter: Boolean,
    a: Long,
    b: Long,
    func: String) {
  def tagged: Boolean = path.contains('?')
  def value(t: Long, interval: Long): Double =
    if (counter) (a + b * (t / interval)).toDouble
    else (a + b * ((t / interval) % 97)).toDouble
}

object SeriesDef {
  /** Rollup function the benchmark's rules assign to a plain path. */
  def funcOf(path: String): String =
    if (path.endsWith("_count")) "sum" else if (path.endsWith("_max")) "max" else "avg"

  def plain(path: String, rng: Rng): SeriesDef =
    SeriesDef(path, path, counter = false, a = rng.int(1000).toLong, b = rng.between(1, 9).toLong,
      func = funcOf(path))

  /** Tagged series: storage form sorts the tags, as ingest does. */
  def tagged(name: String, tags: Seq[(String, String)], counter: Boolean, rng: Rng): SeriesDef = {
    val sorted = tags.sortBy(_._1)
    SeriesDef(
      path = name + "?" + sorted.map { case (k, v) => s"$k=$v" }.mkString("&"),
      linePath = (name +: sorted.map { case (k, v) => s"$k=$v" }).mkString(";"),
      counter = counter,
      a = rng.int(1000).toLong,
      b = rng.between(1, 9).toLong,
      func = "avg")
  }
}

/** A store written as `batches` plaintext batches. Point `j` of series
  * `i` sits at `start + j * interval`; a seeded share of points arrives
  * one batch late, and another share is re-sent in the following batch
  * (an exact duplicate line, as a retrying relay would send it).
  */
final case class StoreSpec(
    seed: Long,
    start: Long,
    end: Long,
    interval: Long,
    series: Vector[SeriesDef],
    batches: Int,
    latePermille: Int,
    dupPermille: Int) {

  val pointsPerSeries: Int = ((end - start) / interval).toInt
  def points: Long = series.size.toLong * pointsPerSeries

  private def baseBatch(j: Int): Int = (j.toLong * batches / pointsPerSeries).toInt

  /** Batch a point is first delivered in (late points slip by one). */
  def batchOf(i: Int, j: Int): Int = {
    val b = baseBatch(j)
    if (b < batches - 1 && Mix.below(Mix.hash(seed, i, j, 1), 1000) < latePermille) b + 1 else b
  }

  /** Batch a duplicate copy is delivered in, if the point has one. */
  def dupBatchOf(i: Int, j: Int): Option[Int] =
    if (Mix.below(Mix.hash(seed, i, j, 2), 1000) < dupPermille)
      Some(math.min(batchOf(i, j) + 1, batches - 1))
    else None

  /** Plaintext lines of series `i` delivered in `batch`. */
  def lines(i: Int, batch: Int): Iterator[String] = {
    val s = series(i)
    Iterator.range(0, pointsPerSeries).flatMap { j =>
      val t = start + j * interval
      val line = s"${s.linePath} ${s.value(t, interval).toLong} $t"
      val first = if (batchOf(i, j) == batch) Iterator(line) else Iterator.empty
      val dup = if (dupBatchOf(i, j).contains(batch)) Iterator(line) else Iterator.empty
      first ++ dup
    }
  }
}

/** SHA-256 over everything a generator decided; the inputs are a pure
  * function of these fields, so equal fingerprints mean equal inputs.
  */
final class Fingerprint {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(s: String): this.type = { md.update(s.getBytes("UTF-8")); md.update(0.toByte); this }
  def add(n: Long): this.type = add(n.toString)
  def addStore(s: StoreSpec): this.type = {
    add(s.seed).add(s.start).add(s.end).add(s.interval).add(s.batches.toLong)
      .add(s.latePermille.toLong).add(s.dupPermille.toLong)
    s.series.foreach(x => add(x.path).add(x.linePath).add(x.a).add(x.b).add(x.func).add(x.counter.toString))
    this
  }
  def hex: String = md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
}
