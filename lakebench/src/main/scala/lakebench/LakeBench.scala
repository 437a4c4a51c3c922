package lakebench

import java.io.File
import java.util.Locale

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Outcome counters and latency samples of one run's timed phase. */
final class Run(val tracer: Option[Tracer]) {
  /** Latency samples by class, each tagged with its op kind. */
  val samples: mutable.Map[String, mutable.ArrayBuffer[(String, Double)]] = mutable.Map.empty
  /** The current round: one pass through the workload's fixed op mix. */
  var round = 0
  var attempted = 0L
  var threw = 0L
  var checksFailed = 0L
  var records = 0L
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def sample(cls: String, kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += (kind -> ms)

  def latencies(cls: String): Seq[Double] = samples.get(cls).map(_.map(_._2).toSeq).getOrElse(Nil)

  /** Typical latency of `cls`: each op kind's median single-call latency,
    * weighted by the kind's share of the calls. Every round runs the same op
    * mix, so this is the mean latency of a round in which each call takes its
    * kind's median. A median over single calls of a mix of kinds would jump
    * between kinds, and a round's mean takes in every stray pause of it. */
  def mixMedian(cls: String): Option[Double] = samples.get(cls).filter(_.nonEmpty).map { xs =>
    xs.groupBy(_._1).values.map(k => k.size * Stats.percentile(k.map(_._2), 50)).sum / xs.size
  }

  /** One closed-loop operation: timed into latency class `cls` (none when
    * empty) as op kind `kind` (the span name when empty) and, when tracing,
    * recorded as span `span`. A throw counts as a failed operation and
    * yields None. */
  def op[A](cls: String, span: String, kind: String = "")(body: => A): Option[A] =
    opIn(cls, span, -1, kind)(_ => body)

  /** [[op]] whose body sees its span id (-1 untraced), under an explicit
    * parent span when `parent` >= 0. */
  def opIn[A](cls: String, span: String, parent: Int, kind: String = "")(body: Int => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = tracer.fold(body(-1))(_.span(span, parent)(body))
      if (cls.nonEmpty) sample(cls, if (kind.isEmpty) span else kind, (System.nanoTime() - t0) / 1e6)
      Some(out)
    } catch {
      case NonFatal(e) =>
        threw += 1
        problem(s"$span threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** A correctness check; one that throws has failed. */
  def check(ok: => Boolean, what: => String): Unit =
    if (!(try ok catch { case NonFatal(_) => false })) { checksFailed += 1; problem(s"check failed: $what") }

  private def problem(s: String): Unit = if (problems.size < 20) problems += s

  def failed: Long = threw + checksFailed
}

/** One workload instance: built by [[setup]], driven by [[run]], then verified. */
abstract class Workload(val spark: SparkSession, val seed: Long, val seconds: Int, val root: String) {
  /** Catalog registration, seeded input generation, preloads and warm-up. */
  def setup(): Unit
  /** The timed phase: a fixed, seed-determined op sequence. */
  def run(r: Run): Unit
  /** Final correctness checks against the independent model (untimed). */
  def verify(r: Run): Unit
  /** Generator payload bytes of the data live at the end. */
  def payloadBytes: Long
  /** Per-layer gauges, read after the timed phase. */
  def gauges(r: Run): Map[String, Double]
  /** Per-batch `StreamingQueryProgress.durationMs`, by key. */
  def streamDurations: Map[String, Seq[Double]] = Map.empty
  def close(): Unit = ()
}

object LakeBench {
  val SetupRepeats = 3

  /** End-to-end metrics every workload reports, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "records_per_s" -> "1/s", "write_ms_p50" -> "ms", "point_read_ms_p50" -> "ms",
    "scan_ms_p50" -> "ms", "bytes_stored_per_user_byte" -> "ratio", "peak_rss_mb" -> "MB")

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def make(name: String, spark: SparkSession, seed: Long, seconds: Int, root: String): Workload = name match {
    case "ingest" => new Ingest(spark, seed, seconds, root)
    case "lakehouse" => new Lakehouse(spark, seed, seconds, root)
    case "dedup_stream" => new DedupStream(spark, seed, seconds, root)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L

  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.6g", Double.box(v))

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", "lakebench-work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors()
    deleteRecursively(work)
    work.mkdirs()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // Set up several times; the last set-up is the one measured, the
    // median of all of them is setup_s.
    var spark: SparkSession = null
    var w: Workload = null
    val setupS = (0 until SetupRepeats).map { i =>
      if (spark != null) { w.close(); stop(spark); deleteRecursively(new File(work, s"root${i - 1}")) }
      val t0 = if (i == 0) jvmStart else System.currentTimeMillis()
      spark = session(work.getPath, cores)
      w = make(name, spark, seed, seconds, new File(work, s"root$i").getPath)
      w.setup()
      (System.currentTimeMillis() - t0) / 1000.0
    }

    val listener = if (traced) Some(new SpanListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = if (traced) Some(new Tracer(spark.sparkContext, s"$name-$seed")) else None
    val run = new Run(tracer)
    val gc0 = ProcCounters.gcMs()
    val child0 = ProcCounters.childCpuMs()
    val t0 = System.nanoTime()
    try w.run(run)
    catch { case NonFatal(e) => run.threw += 1; run.problems += s"run aborted: $e" }
    val timedS = (System.nanoTime() - t0) / 1e9
    val gcMs = ProcCounters.gcMs() - gc0
    val childS = (ProcCounters.childCpuMs() - child0) / 1000.0
    org.apache.spark.LakebenchBus.drain(spark.sparkContext)
    val jobsTotal = listener.map(_.jobsTotal).getOrElse(0)
    val taskSTotal = listener.map(_.taskMsTotal / 1000.0).getOrElse(0.0)
    // A traced lakehouse run also drives the dedup_stream pipeline, after
    // the timed phase: the dedup operator and the streamed manifest path get
    // per-layer numbers without their cost entering a gated workload.
    val dedup = if (!traced || name != "lakehouse") None else {
      val d = new DedupStream(spark, seed, seconds, new File(work, "dedup").getPath)
      val seg = new Run(tracer)
      try { d.setup(); d.run(seg); d.verify(seg) }
      catch { case NonFatal(e) => seg.threw += 1; seg.problems += s"dedup segment: $e" }
      run.attempted += seg.attempted
      run.threw += seg.threw
      run.checksFailed += seg.checksFailed
      run.problems ++= seg.problems
      org.apache.spark.LakebenchBus.drain(spark.sparkContext)
      Some(d)
    }
    def gaugesOf(x: Workload): Map[String, Double] =
      try x.gauges(run) catch { case NonFatal(e) => run.threw += 1; run.problems += s"gauges: $e"; Map.empty }
    // counts of the two workloads' manifest tables add up
    val gauges = if (!traced) Map.empty[String, Double]
      else (Seq(w) ++ dedup).map(gaugesOf).reduce { (a, b) =>
        (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap
      }
    try w.verify(run)
    catch { case NonFatal(e) => run.checksFailed += 1; run.problems += s"verify aborted: $e" }
    val stored = bytesUnder(new File(w.root))
    val payload = w.payloadBytes
    val rss = ProcCounters.peakRssMb()

    val values = Map(
      "setup_s" -> Stats.percentile(setupS, 50),
      "records_per_s" -> run.records / timedS,
      "write_ms_p50" -> run.mixMedian("write").getOrElse(Double.NaN),
      "point_read_ms_p50" -> run.mixMedian("point_read").getOrElse(Double.NaN),
      "scan_ms_p50" -> run.mixMedian("scan").getOrElse(Double.NaN),
      "bytes_stored_per_user_byte" -> stored.toDouble / payload,
      "peak_rss_mb" -> rss)
    val e2e = mutable.LinkedHashMap(EndToEnd.map { case (k, u) => k -> (values(k), u) }: _*)

    // Metrics that exist on only some workloads, or whose p90 has fewer
    // than 100 samples on some, are reported here and not in the result line.
    val extra = mutable.LinkedHashMap[String, (Double, String)]()
    Seq("write", "point_read", "scan", "stream_lag").foreach { cls =>
      val xs = run.latencies(cls)
      if (xs.nonEmpty) {
        if (!e2e.contains(s"${cls}_ms_p50")) extra(s"${cls}_ms_p50") = (run.mixMedian(cls).get, "ms")
        if (xs.size >= 100) extra(s"${cls}_ms_p90") = (Stats.percentile(xs, 90), "ms")
        extra(s"${cls}_samples") = (xs.size.toDouble, "count")
      }
    }
    extra("error_rate") = (run.failed.toDouble / math.max(1L, run.attempted), "ratio")
    extra("timed_s") = (timedS, "s")
    setupS.zipWithIndex.foreach { case (s, i) => extra(s"setup_s_$i") = (s, "s") }

    val perLayer: Map[String, (Double, String)] = (listener, tracer) match {
      case (Some(l), Some(t)) =>
        Layers.metrics(t.spans, l, gauges ++ Map(
          "spark.jobs_total" -> jobsTotal.toDouble, "spark.task_s_total" -> taskSTotal,
          "jvm.gc_ms_total" -> gcMs.toDouble, "jvm.child_cpu_s_total" -> childS),
          dedup.fold(w.streamDurations)(_.streamDurations))
      case _ => Map.empty
    }
    for (t <- tracer; l <- listener) Layers.writeSpans(new File(work, s"spans-$name-$seed.json"), t.spans, l)

    try { dedup.foreach(_.close()); w.close() } finally stop(spark)

    run.problems.foreach(s => System.err.println(s"[lakebench] $s"))
    val correct = run.failed == 0 && e2e.values.forall(v => !v._1.isNaN && !v._1.isInfinite)
    println(s"[lakebench] workload=$name seed=$seed seconds=$seconds traced=$traced cores=$cores " +
      s"correct=$correct attempted=${run.attempted} failed=${run.failed}")
    (e2e ++ extra).foreach { case (k, (v, u)) => println(f"[lakebench]   $k%-28s ${fmt(v)}%14s $u") }
    if (traced) perLayer.toSeq.sortBy(_._1).foreach { case (k, (v, u)) =>
      println(f"[lakebench]   $k%-48s ${fmt(v)}%14s $u")
    }
    val shown = if (traced) perLayer.toSeq.sortBy(_._1) else e2e.toSeq
    val metrics = shown.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${run.attempted}, "failed": ${run.failed}, "metrics": {$metrics}}""")
    System.out.flush()
    sys.exit(0)
  }
}
