package graft

import org.apache.spark.sql.SparkSession

import graft.core.JobCensus

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Each query gets one warmup execution (JIT + codegen compile + file-index
  * warm) and the reported time is the best of the recorded runs —
  * steady-state throughput, which is what matters at cluster scale where
  * per-query JVM warmup amortizes to zero.
  *
  * CRASH-PROOF ARTIFACT (round-15 hardening; round 14's run was
  * SIGTERM-killed by the driver's wall-clock budget and — because the JSON
  * line printed only after ALL rounds — the whole round shipped no numbers):
  *  - the final JSON line is emitted by a JVM shutdown hook if the process
  *    dies before finishing (GNU timeout sends SIGTERM, which runs hooks),
  *    marked "partial":true with every completed measurement intact;
  *  - each measurement is also flushed to stderr as JSONL the moment it
  *    lands ([bench-progress] lines), so even a SIGKILL leaves a per-query
  *    forensic trail;
  *  - recorded rounds dropped 3 -> 2 (SPARK_GRAFT_ROUNDS overrides): with
  *    222+ gates the 4-pass suite no longer fits the driver budget
  *    (r13 green at 3098 s / 213 gates; r14 killed mid final pass).
  *
  * Each gate's Spark jobs, stages, tasks, task seconds, job wall time and
  * per-label jobs ([[graft.core.JobCensus]]) ride along as
  * `queries_counters`, read between gates so the clock never waits on
  * the listener bus.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE coalesce post-shuffle partitions even when the plan is
      // cached/persisted (the dedup operators persist small intermediates;
      // without this, every one of their shuffles keeps all 32 partitions
      // and per-task fixed cost dominates the small candidate stages)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // COLD scans by default (optimization round 15 — a measurement-
    // methodology fix, called out in OPTIMIZATION_r15.md): rounds <= 14
    // cached every base table BEFORE the timed region ("hot-tier"
    // condition, SPARK_GRAFT_CACHE default 1), so recorded rounds read
    // from memory instead of the parquet inputs — which hides the scan
    // path (pushdown, pruning, split planning) from every measurement
    // and amounts to pre-computing input outside the timed region.
    // Every bench invocation now computes from the parquet inputs; the
    // knob remains (SPARK_GRAFT_CACHE=1) to reproduce the old artifacts'
    // hot-tier condition for cross-round comparisons.
    if (sys.env.getOrElse("SPARK_GRAFT_CACHE", "0") == "1") {
      // events needs its nanos conversion path (plain load rejects ns parquet)
      graft.core.Tables.names.filterNot(_ == "events").foreach { t =>
        try graft.core.Tables.load(spark, sfDir, t).cache().count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warm-cache of $t failed: ${e.getMessage}")
        }
      }
      try graft.core.Tables.events(spark, sfDir).cache().count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-cache of events failed: ${e.getMessage}")
      }
    }

    def countersJson(c: JobCensus.Counts): String =
      s"""{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""task_s":${c.taskMs / 1e3},"job_ms":${c.jobMs},""" +
        c.labels.toSeq.sorted.map { case (l, n) => "\"" + l + "\":" + n }
          .mkString("\"labels\":{", ",", "}}")

    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // Force FULL evaluation of the executed plan. A plain .count() lets
      // Catalyst prune every unreferenced projection and drop unused sorts,
      // so expression-only queries would be measured as a row count over
      // cached parquet instead of their real work. toRdd materializes every
      // output row of the optimized physical plan (AQE included) without
      // collecting to the driver.
      fn(spark, sfDir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }

    // SPARK_GRAFT_FILTER: optional comma-separated name substrings for
    // local iteration; unset benches every gate
    val wanted = sys.env.getOrElse("SPARK_GRAFT_FILTER", "").split(",")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => wanted.exists(name.contains) }
    // Recorded rounds are INTERLEAVED: the whole suite runs once as warmup
    // (JIT + codegen + file-index warm, unrecorded), then `rounds` full
    // recorded passes, keeping each query's minimum. Interleaving separates
    // a query's measurements by the length of a full pass, so a
    // minutes-long interference window on a shared box (observed: a
    // co-tenant burst turning a 5 s stream query into 61 s) can no longer
    // cover every measurement of the same query — back-to-back repeats
    // have no such protection. min is the steady-state estimator.
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "2").toInt
    // SPARK_GRAFT_STAT: per-query estimator over the recorded rounds —
    // "min" (default; the steady-state estimator the driver compares) or
    // "median" (robust to one-shot co-tenant interference in BOTH
    // directions — the self-artifact's estimator)
    val stat = sys.env.getOrElse("SPARK_GRAFT_STAT", "min")

    // All mutable state the shutdown hook reads is guarded by `lock`: the
    // hook fires on SIGTERM concurrently with the measurement loop.
    val lock = new Object
    val failed = scala.collection.mutable.Set.empty[String]
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val warmups = scala.collection.mutable.Map.empty[String, Double]
    // each gate's job census in its latest completed round (warmup until
    // a recorded round lands)
    val counters = scala.collection.mutable.Map.empty[String, JobCensus.Counts]
    @volatile var roundsDone = -1

    def emitJson(partial: Boolean): String = lock.synchronized {
      val times = scala.collection.mutable.Map.empty[String, Double]
      val mins = scala.collection.mutable.Map.empty[String, Double]
      val medians = scala.collection.mutable.Map.empty[String, Double]
      selected.foreach { case (name, _) =>
        if (failed(name)) {
          // a query that failed in ANY round reports -1 everywhere, even if
          // an earlier recorded round produced a sample — a partial result
          // must never masquerade as a healthy timing
          mins(name) = -1.0; medians(name) = -1.0; times(name) = -1.0
        } else samples.get(name) match {
          case Some(ts) =>
            val sorted = ts.sorted
            mins(name) = sorted.head
            // true median: middle element (odd n) or mean of the middle
            // pair (even n) — sorted(n/2) alone would report the WORSE of
            // 2 samples, a systematic pessimist under the 2-round default
            medians(name) =
              if (sorted.length % 2 == 1) sorted(sorted.length / 2)
              else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2
            times(name) = if (stat == "median") medians(name) else mins(name)
          case None =>
            // no recorded sample yet: in a partial (killed-early) emit the
            // warmup time is the honest fallback — a cold-ish measurement
            // beats reporting nothing for a query that DID run green
            val w = warmups.getOrElse(name, -1.0)
            mins(name) = w; medians(name) = w; times(name) = w
        }
      }
      def obj(m: scala.collection.Map[String, Double]) =
        selected.map { case (k, _) => "\"" + k + "\":" + m(k) }
          .mkString("{", ",", "}")
      val total = selected.collect {
        case (k, _) if times(k) >= 0 => times(k)
      }.sum
      // "queries" = the selected estimator (driver contract); both
      // estimators ride alongside so rounds compare min-to-min AND
      // median-to-median regardless of which was selected
      // "env" records the harness shape: cpus sets BOTH parallelism and
      // shuffle.partitions, and a 32-cpu run doubles tiny sf0.1 stage counts
      // (~1.28× uniformly slower, measured round 10) — cross-round
      // comparisons must match env.cpus or compare the default-cpu
      // self-bench artifacts (BENCH_SELF_r*.json)
      val env = s"""{"cpus":"$cpus","shuffle_partitions":"$cpus","stat":"$stat",""" +
        s""""rounds":$rounds,"cache":"${sys.env.getOrElse("SPARK_GRAFT_CACHE", "0")}",""" +
        s""""partial":$partial,"rounds_done":$roundsDone}"""
      // per-micro-batch wall times the streaming gates recorded (all rounds,
      // arrival order; batch -1 = the whole drain): localizes a stream-gate
      // mover to real batch work vs trigger-wait machinery under contention
      val streamBatches = graft.queries.BatchTimings.snapshot()
        .groupBy(_._1).toSeq.sortBy(_._1).map { case (name, entries) =>
          val items = entries.map { case (_, b, sec) =>
            s"""{"batch":$b,"sec":${math.rint(sec * 1000) / 1000}}"""
          }.mkString("[", ",", "]")
          "\"" + name + "\":" + items
        }.mkString("{", ",", "}")
      val queriesCounters = selected.collect { case (k, _) if counters.contains(k) =>
        "\"" + k + "\":" + countersJson(counters(k)) }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(times)},""" +
        s""""queries_min":${obj(mins)},"queries_median":${obj(medians)},""" +
        s""""queries_counters":$queriesCounters,""" +
        s""""stream_batches":$streamBatches,"sf":"$sfDir","env":$env}"""
    }

    // Exactly ONE final JSON line ever reaches stdout: the normal path and
    // the shutdown hook race through this CAS. The hook never touches Spark
    // (the concurrently-running SparkShutdownHook may already have stopped
    // the session — r14's killed run logged "No active or default Spark
    // session found" from exactly that teardown collateral); it only
    // formats in-memory maps.
    val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)
    def emit(partial: Boolean): Unit =
      if (emitted.compareAndSet(false, true)) {
        println(emitJson(partial))
        System.out.flush()
      }
    Runtime.getRuntime.addShutdownHook(new Thread(() => emit(partial = true)))

    // the job census is read between gates, after the listener bus has
    // delivered every event, so the timed action itself is unchanged
    val census = JobCensus.of(spark.sparkContext)
    def settled(): JobCensus.Counts = { JobCensus.drain(spark.sparkContext); census.counts }
    for (round <- 0 to rounds) {
      for ((name, fn) <- selected if !failed(name)) {
        val before = settled()
        try {
          val t = once(fn)
          val c = settled() - before
          lock.synchronized {
            counters(name) = c
            if (round > 0) samples(name) = t :: samples.getOrElse(name, Nil)
            else warmups(name) = t
          }
          // per-measurement forensic trail: survives even SIGKILL
          System.err.println(s"""[bench-progress] {"name":"$name","round":$round,""" +
            s""""sec":${math.rint(t * 1000) / 1000},"counters":${countersJson(c)}}""")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed (round $round): ${e.getMessage}")
          lock.synchronized { failed += name }
        }
        graft.queries.QueryModule.stopLeakedStreams(spark, "bench", name)
      }
      roundsDone = round
    }
    emit(partial = false)
    spark.stop()
  }
}
