package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One traced interval. `parent` is the id of the enclosing span (-1 at the
  * root); every span opened during one pass carries that pass's id.
  */
final case class Span(id: Int, name: String, pass: Int, parent: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** Nanoseconds of `[start, end)` that no child interval covers. Children
    * may overlap each other or stick out of the parent; only their union
    * clipped to the parent counts.
    */
  def selfNs(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}

/** Task metrics folded per Spark job group. */
final class GroupTotals {
  var jobs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillDiskBytes = 0L
  var spillMemBytes = 0L
  val runMs: ArrayBuffer[Long] = ArrayBuffer.empty

  /** Longest task run time over the median one; 0 when no task ran. */
  def taskSkew: Double =
    if (runMs.isEmpty) 0.0
    else {
      // sub-millisecond tasks report 0 ms; count them as 1 ms
      val med = Stats.median(runMs.map(_.toDouble).toSeq)
      math.max(runMs.max.toDouble, 1.0) / math.max(med, 1.0)
    }
}

/** Folds every finished task's metrics into the job group its job was
  * submitted under (`SparkContext.setJobGroup`), and counts jobs per group.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, GroupTotals]()

  private def of(group: String): GroupTotals =
    totals.computeIfAbsent(group, _ => new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.JobGroupProperty)))
      .getOrElse("")
    val t = of(g)
    t.synchronized { t.jobs += 1 }
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val t = of(stageGroup.getOrDefault(e.stageId, ""))
    t.synchronized {
      t.tasks += 1
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spillDiskBytes += m.diskBytesSpilled
      t.spillMemBytes += m.memoryBytesSpilled
      t.runMs += m.executorRunTime
    }
  }

  def group(g: String): GroupTotals = of(g)
}

/** Total shuffle write across all stages: the one listener untraced runs
  * keep, for `shuffle_mb`.
  */
final class ShuffleTotal extends SparkListener {
  val bytes = new AtomicLong(0L)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    bytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
}

/** In-memory span recorder. A span opened with `group = true` also tags the
  * Spark jobs submitted inside it with a job group named after the span, so
  * [[GroupListener]] attributes their task metrics to it.
  */
final class Tracer(sc: SparkContext) {
  val listener = new GroupListener
  sc.addSparkListener(listener)

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var pass = 0

  def beginPass(id: Int): Unit = pass = id

  def span[T](name: String, group: Boolean = false)(f: => T): T = {
    val id = spans.size
    spans += Span(id, name, pass, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
    open = id :: open
    val prevGroup = sc.getLocalProperty(Tracer.JobGroupProperty)
    if (group) sc.setJobGroup(s"p$pass:$name", name)
    try f
    finally {
      if (group) {
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevGroup)
      }
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      open = open.tail
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Task metrics of the jobs run inside `s`. */
  def totals(s: Span): GroupTotals = listener.group(s"p${s.pass}:${s.name}")

  def selfNs(s: Span): Long =
    Span.selfNs(s.startNs, s.endNs,
      spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).toSeq)

  /** The spans as JSON, times in ms relative to the first span. */
  def toJson: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    def ms(ns: Long) = ns / 1e6
    spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","pass":${s.pass},"parent":${s.parent},""" +
        s""""start_ms":${ms(s.startNs - t0)},"end_ms":${ms(s.endNs - t0)},""" +
        s""""self_ms":${ms(selfNs(s))}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Tracer {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupProperty = "spark.jobGroup.id"
}

object Stats {
  /** A JSON number; NaN and infinities, which JSON lacks, read 0. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
