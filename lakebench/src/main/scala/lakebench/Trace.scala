package lakebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

object Stats {
  /** Percentile by linear interpolation between closest ranks (p in [0, 100]). */
  def percentile(values: collection.Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of no samples")
    val s = values.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** Length of the union of half-open intervals, each clipped to [from, to). */
  def unionLength(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** One timed call into a layer. Times are epoch milliseconds (the clock
  * Spark stamps job events with) plus nanoseconds for the duration. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startMs: Long, endMs: Long, durNs: Long, childCpuMs: Double)

/** Spark work attributed to one span. */
final class SpanWork {
  var jobs = 0
  var tasks = 0
  var taskRunMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** Attributes jobs, stages and tasks to the span named by the
  * [[SpanListener.Property]] local property of the thread that launched the
  * job. Totals cover every job seen while registered, attributed or not. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  private val work = mutable.Map.empty[Int, SpanWork]
  @volatile var jobsTotal = 0
  @volatile var taskMsTotal = 0L

  private def of(span: Int): SpanWork = work.getOrElseUpdate(span, new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsTotal += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.Property))).foreach { s =>
      val span = s.toInt
      jobSpan.put(e.jobId, (span, e.time))
      e.stageIds.foreach(stageSpan.put(_, span))
      of(span).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobSpan.remove(e.jobId)).foreach { case (span, start) => of(span).jobIntervals += ((start, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    val run = m.map(_.executorRunTime).getOrElse(0L)
    taskMsTotal += run
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val w = of(span)
      w.tasks += 1
      w.taskRunMs += run
      m.foreach { tm =>
        w.shuffleReadBytes += tm.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
        w.outputBytes += tm.outputMetrics.bytesWritten
      }
    }
  }

  def workOf(span: Int): SpanWork = synchronized(work.getOrElse(span, new SpanWork))
}

object SpanListener {
  val Property = "lakebench.span"
}

/** CPU of reaped child processes (cutime + cstime of /proc/self/stat) and
  * JVM GC time, both cumulative. */
object ProcCounters {
  private val TicksPerSecond = 100.0

  def childCpuMs(): Double = {
    val stat = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/self/stat")), "US-ASCII")
    // fields after the ")" closing the command name start at field 3
    val f = stat.substring(stat.lastIndexOf(')') + 2).trim.split(" ")
    (f(13).toLong + f(14).toLong) * 1000.0 / TicksPerSecond
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Records spans around the benchmark's own calls into engine layers.
  * Spans stay in memory until [[spans]] is read at the end of the run. */
final class Tracer(sc: SparkContext, run: String) {
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  /** Time `body` as span `name`; jobs it launches on this thread carry the span id. */
  def span[A](name: String, parent: Int = -1)(body: Int => A): A = {
    val id = nextId.getAndIncrement()
    val par = if (parent >= 0) parent else current.get()
    val prevProp = sc.getLocalProperty(SpanListener.Property)
    val prevCur = current.get()
    sc.setLocalProperty(SpanListener.Property, id.toString)
    current.set(id)
    val cpu0 = ProcCounters.childCpuMs()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val dur = System.nanoTime() - t0
      val ms1 = System.currentTimeMillis()
      val cpu = ProcCounters.childCpuMs() - cpu0
      sc.setLocalProperty(SpanListener.Property, prevProp)
      current.set(prevCur)
      synchronized { done += Span(id, name, par, run, ms0, ms1, dur, cpu) }
    }
  }

  def spans: Seq[Span] = synchronized(done.toList)
}

object Tracer {
  /** Self time of each span: its duration minus the union of its children's intervals. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)
      s.id -> math.max(0.0, s.durNs / 1e6 - covered)
    }.toMap
  }

  /** Wall time of a span not covered by any of its own jobs: planning,
    * metadata I/O and the gaps between jobs. */
  def driverMs(s: Span, w: SpanWork): Double =
    math.max(0.0, s.durNs / 1e6 - Stats.unionLength(w.jobIntervals.toSeq, s.startMs, s.endMs))
}
