package servbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One recorded span; times are `System.nanoTime`. `parent` is 0 for a
  * request's root span.
  */
final case class Span(id: Long, parent: Long, request: Long, name: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Spans nest per thread; the innermost open
  * span id is published as a Spark local property so [[SpanListener]]
  * can attribute the jobs a call submits to it.
  */
final class Tracer(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[(Long, Long)]] { override def initialValue = Nil }

  /** Run `body` as span `name`; a span opened with no enclosing span
    * starts a new request `request`.
    */
  def span[T](name: String, request: Long = 0L)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val (parent, req) = outer.headOption.getOrElse((0L, request))
    stack.set((id, req) :: outer)
    spark.sparkContext.setLocalProperty(Tracer.Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
      stack.set(outer)
      spark.sparkContext.setLocalProperty(Tracer.Prop, outer.headOption.map(_._1.toString).orNull)
    }
  }

  def all: Vector[Span] = spans.asScala.toVector.sortBy(_.start)
}

object Tracer {
  val Prop = "servbench.span"
}

/** Per-span Spark execution totals. */
final case class Exec(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Double = 0, idleMs: Double = 0,
    inputRows: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    taskDurations: Vector[Double] = Vector.empty) {
  def +(o: Exec): Exec = Exec(jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskMs + o.taskMs,
    idleMs + o.idleMs, inputRows + o.inputRows, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill, taskDurations ++ o.taskDurations)
  def skew: Double =
    if (taskDurations.isEmpty) 0.0
    else taskDurations.max / math.max(Stats.median(taskDurations), 1.0)
}

/** Attributes jobs, stages, tasks and bytes to the span that submitted
  * them (via the [[Tracer.Prop]] local property). Jobs without the
  * property — those the HTTP server's own threads run — land on span 0.
  */
final class SpanListener extends SparkListener {
  private final class Job(val span: Long, val submitted: Long) {
    @volatile var ended = 0L
    val stages = new AtomicLong()
    val tasks = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Long, Long, Long)]()
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val lastEvent = new AtomicReference[java.lang.Long](System.nanoTime())
  private val open = new AtomicLong()

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop))).map(_.toLong).getOrElse(0L)
    val j = new Job(span, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
    open.incrementAndGet(); touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.ended = e.time)
    open.decrementAndGet(); touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet()); touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) j.tasks.add((info.launchTime, info.finishTime, m.executorRunTime,
        m.inputMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    touch()
  }

  /** Wait until every started job has ended and the bus has been quiet
    * for 200 ms (events arrive asynchronously), at most 10 s.
    */
  def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 10000 * 1000000L
    while (System.nanoTime() < deadline &&
      (open.get() > 0 || System.nanoTime() - lastEvent.get() < 200 * 1000000L)) Thread.sleep(20)
  }

  /** Totals per span id. */
  def bySpan: Map[Long, Exec] =
    jobs.values.asScala.toVector.groupBy(_.span).map { case (span, js) =>
      span -> js.map { j =>
        val ts = j.tasks.asScala.toVector
        val wall = if (j.ended > 0) j.ended - j.submitted else 0L
        val busy = Stats.unionLength(ts.map(t => (t._1, t._2)))
        Exec(jobs = 1, stages = j.stages.get(), tasks = ts.size, taskMs = ts.map(_._3.toDouble).sum,
          idleMs = math.max(0L, wall - busy).toDouble, inputRows = ts.map(_._4).sum,
          shuffleRead = ts.map(_._5).sum, shuffleWrite = ts.map(_._6).sum, spill = ts.map(_._7).sum,
          taskDurations = ts.map(t => (t._2 - t._1).toDouble))
      }.foldLeft(Exec())(_ + _)
    }
}

/** This JVM: retained heap and collection time, read from the
  * platform MXBeans.
  */
final class JvmStats {
  import java.lang.management.ManagementFactory

  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toVector
  private val memory = ManagementFactory.getMemoryMXBean
  private var gcAtStart = 0L
  private var startNs = 0L

  private def gcMs: Long = beans.map(_.getCollectionTime).filter(_ >= 0).sum

  def start(): Unit = { gcAtStart = gcMs; startNs = System.nanoTime() }

  /** (heap in MB still used after a full collection at the end of the
    * window, collection ms per wall second of the window). The retained
    * heap — caches, memo tables, block manager — is the peak the process
    * cannot shed; young-collection residues depend on collection timing.
    */
  def stop(): (Double, Double) = {
    val gc = (gcMs - gcAtStart) / ((System.nanoTime() - startNs) / 1e9)
    System.gc()
    (memory.getHeapMemoryUsage.getUsed / 1048576.0, gc)
  }
}
