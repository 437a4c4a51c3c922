package lakebench

import java.io.File

/** The per-layer metric catalogue: `<layer>.<op>.<counter>`, where the layer
  * is the engine module the timed call enters. Every traced run reports the
  * whole catalogue; a span its workload never enters reads 0. */
object Layers {
  /** (span, launches Spark jobs, creates or lists files) */
  val Spans: Seq[(String, Boolean, Boolean)] = Seq(
    ("core.publish.fhir", true, true),
    ("core.publish.binary", true, true),
    ("core.publish.raw", false, true),
    ("hl7.msh9", false, false),
    ("core.retrieve.get", false, false),
    ("core.retrieve.exists", false, false),
    ("core.retrieve.urls", false, false),
    ("core.reader.scan", true, true),
    ("catalog.insert", true, true),
    ("catalog.merge", true, true),
    ("catalog.update_mor", true, true),
    ("catalog.delete_mor", true, true),
    ("catalog.select_point", true, false),
    ("catalog.aggregate", true, false),
    ("catalog.time_travel", true, false),
    ("catalog.compact", true, true),
    ("sources.keyedlog.insert", true, true),
    ("sources.keyedlog.update", true, true),
    ("sources.keyedlog.select_key", true, false),
    ("operators.dedup.accept", true, false),
    ("core.manifest.append_idempotent", true, true),
    ("catalog.stream.latest_offset", false, false),
    ("catalog.stream.get_batch", false, false),
    ("catalog.stream.add_batch", false, false),
    ("catalog.stream.query_planning", false, false),
    ("catalog.stream.wal_commit", false, false))

  /** Spans read from `StreamingQueryProgress.durationMs`, by its key. */
  val StreamKeys: Map[String, String] = Map(
    "catalog.stream.latest_offset" -> "latestOffset",
    "catalog.stream.get_batch" -> "getBatch",
    "catalog.stream.add_batch" -> "addBatch",
    "catalog.stream.query_planning" -> "queryPlanning",
    "catalog.stream.wal_commit" -> "walCommit")

  val Gauges: Seq[(String, String)] = Seq(
    "core.retrieve.hit_ratio" -> "ratio",
    "core.reader.objects_listed_per_row" -> "ratio",
    "catalog.select_point.files_read_ratio" -> "ratio",
    "core.manifest.versions" -> "count",
    "core.manifest.live_files" -> "count",
    "core.manifest.small_file_debt" -> "count",
    "sources.keyedlog.files_per_commit" -> "ratio",
    "operators.dedup.accept_ratio" -> "ratio",
    "operators.dedup.index_rows" -> "count",
    "spark.jobs_total" -> "count",
    "spark.task_s_total" -> "s",
    "jvm.gc_ms_total" -> "ms",
    "jvm.child_cpu_s_total" -> "s")

  /** Every per-layer metric name with its unit, in catalogue order. */
  val All: Seq[(String, String)] =
    Spans.map(s => s"${s._1}.ms_p50" -> "ms") ++
      Spans.filter(_._2).flatMap { case (s, _, _) =>
        Seq(s"$s.jobs" -> "count", s"$s.tasks" -> "count", s"$s.task_s" -> "s", s"$s.driver_ms" -> "ms")
      } ++
      Spans.filter(_._3).map(s => s"${s._1}.child_cpu_ms" -> "ms") ++
      Gauges

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def metrics(spans: Seq[Span], l: SpanListener, gauges: Map[String, Double],
              stream: Map[String, Seq[Double]]): Map[String, (Double, String)] = {
    val byName = spans.groupBy(_.name)
    val units = All.toMap
    val values = Spans.flatMap { case (name, jobs, files) =>
      val calls = byName.getOrElse(name, Nil)
      val durs = StreamKeys.get(name).map(k => stream.getOrElse(k, Nil)).getOrElse(calls.map(_.durNs / 1e6))
      val base = Seq(s"$name.ms_p50" -> (if (durs.isEmpty) 0.0 else Stats.percentile(durs, 50)))
      val work = calls.map(s => s -> l.workOf(s.id))
      val jobMetrics = if (!jobs) Nil else Seq(
        s"$name.jobs" -> mean(work.map(_._2.jobs.toDouble)),
        s"$name.tasks" -> mean(work.map(_._2.tasks.toDouble)),
        s"$name.task_s" -> mean(work.map(_._2.taskRunMs / 1000.0)),
        s"$name.driver_ms" -> mean(work.map { case (s, w) => Tracer.driverMs(s, w) }))
      val cpu = if (!files) Nil else Seq(s"$name.child_cpu_ms" -> mean(calls.map(_.childCpuMs)))
      base ++ jobMetrics ++ cpu
    } ++ Gauges.map { case (g, _) => g -> gauges.getOrElse(g, 0.0) }
    values.map { case (k, v) => k -> (v, units(k)) }.toMap
  }

  /** Spans as a JSON array, with each span's self time and Spark work. */
  def writeSpans(f: File, spans: Seq[Span], l: SpanListener): Unit = {
    val self = Tracer.selfMs(spans)
    val rows = spans.sortBy(_.id).map { s =>
      val w = l.workOf(s.id)
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "run": "${s.run}", """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "dur_ms": ${s.durNs / 1e6}, """ +
        s""""self_ms": ${self(s.id)}, "child_cpu_ms": ${s.childCpuMs}, "jobs": ${w.jobs}, "tasks": ${w.tasks}, """ +
        s""""task_ms": ${w.taskRunMs}, "shuffle_read_bytes": ${w.shuffleReadBytes}, """ +
        s""""shuffle_write_bytes": ${w.shuffleWriteBytes}, "output_bytes": ${w.outputBytes}}"""
    }
    java.nio.file.Files.write(f.toPath, rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
