package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, IsNotNull}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.core.LakeStorage

/** The custom DSv2 source must parse correctly (incl. malformed lines),
  * prune columns, push key filters into the per-file reader, and split one
  * partition per file. */
class DataSourceSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def fixture(): String = {
    val dir = Files.createTempDirectory("graft_klog_spec_").toString
    Files.write(java.nio.file.Paths.get(dir, "a.log"),
      "en\t1\t100\nde\t2\t200\nen\t3\t300\nbad-line\nfr\tx\t400\n".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(dir, "b.log"),
      "en\t4\t50\n\t5\t60\n".getBytes("UTF-8"))
    dir
  }

  private def read(dir: String) =
    spark.read.format("graft.sources.KeyedLogSource").load(dir)

  test("parses rows; malformed fields surface as nulls (permissive)") {
    val rows = read(fixture()).collect()
      .map(r => (r.getAs[String]("key"), Option(r.getAs[Any]("seq")),
        Option(r.getAs[Any]("metric")))).toSet
    assert(rows === Set(
      ("en", Some(1L), Some(100L)), ("de", Some(2L), Some(200L)),
      ("en", Some(3L), Some(300L)),
      ("bad-line", None, None),         // missing fields -> nulls
      ("fr", None, Some(400L)),         // non-numeric seq -> null
      ("en", Some(4L), Some(50L)), (null, Some(5L), Some(60L))))
  }

  test("filter + projection reach the scan (plan evidence) and match") {
    val df = read(fixture()).filter(col("key") === "en").select("key", "metric")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("KeyedLogScan"), s"custom scan missing from plan:\n$p")
    assert(p.contains("PushedFilters: [EqualTo(key,en)") ||
      p.contains("PushedFilters: [IsNotNull(key), EqualTo(key,en)"),
      s"key filter not pushed:\n$p")
    assert(p.contains("struct<key:string,metric:bigint>"),
      s"columns not pruned to (key, metric):\n$p")
    assert(df.agg(sum("metric")).head().getLong(0) === 450L)
  }

  test("one input partition per file; pushed filter prunes inside the reader") {
    val dir = fixture()
    val _ = spark.sparkContext // ensure an active session for conf capture
    val scan = KeyedLogScan(dir, KeyedLogSource.schema, Array(EqualTo("key", "en")))
    val parts = scan.planInputPartitions()
    assert(parts.length === 2)
    val factory = scan.createReaderFactory()
    val emitted = parts.flatMap { part =>
      val r = factory.createReader(part)
      try Iterator.continually(r.next()).takeWhile(identity).map(_ => r.get().copy()).toArray
      finally r.close()
    }
    // only 'en' rows ever leave the reader — pre-Spark-filter row count
    assert(emitted.length === 3)
  }

  test("empty-string keys are rejected at write, not silently nulled on read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_klog_empty_").toString
    val err = intercept[org.apache.spark.SparkException] {
      Seq(("", 1L, 10L)).toDF("key", "seq", "metric")
        .write.format("graft.sources.KeyedLogSource").mode("append").save(dir)
    }
    assert(err.getMessage.contains("empty-string keys") ||
      Option(err.getCause).exists(_.getMessage.contains("empty-string keys")))
  }

  test("v2 sink round-trip: write through the commit protocol, read back") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_klog_w_").toString
    val df = Seq(("en", 1L, 10L), ("de", 2L, 20L), ("en", 3L, 30L))
      .toDF("key", "seq", "metric").repartition(2)
    df.write.format("graft.sources.KeyedLogSource").mode("append").save(dir)
    val back = read(dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(back === Set(("en", 1L, 10L), ("de", 2L, 20L), ("en", 3L, 30L)))
    // append again: new task files land next to the old ones
    df.write.format("graft.sources.KeyedLogSource").mode("append").save(dir)
    assert(read(dir).count() === 6)
  }

  test("aborted write task leaves nothing visible (staged temp cleanup)") {
    val dir = Files.createTempDirectory("graft_klog_abort_").toString
    val _ = spark.sparkContext
    val writer = KeyedLogWriterFactory(dir, "q1", LakeStorage.taskConf()).createWriter(0, 7L)
    writer.write(org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("en"), 1L, 10L))
    writer.abort()
    assert(read(dir).count() === 0)          // reader sees no rows
    assert(new java.io.File(dir).listFiles().forall(!_.getName.startsWith(".tmp")),
      "aborted temp file not cleaned up")
    // an uncommitted (still-staged) writer is also invisible to readers
    val w2 = KeyedLogWriterFactory(dir, "q2", LakeStorage.taskConf()).createWriter(1, 8L)
    w2.write(org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("de"), 2L, 20L))
    assert(read(dir).count() === 0)
    assert(w2.commit().isInstanceOf[KeyedLogCommit])
    assert(read(dir).count() === 1)          // visible only after task commit
  }

  test("streaming sink: per-epoch files, idempotent on epoch replay") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_klog_stream_").toString
    val ckpt = Files.createTempDirectory("graft_klog_ckpt_").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Long)]
    source.addData(("en", 1L, 10L), ("de", 2L, 20L))
    val q = source.toDF().toDF("key", "seq", "metric")
      .writeStream.format("graft.sources.KeyedLogSource")
      .option("checkpointLocation", ckpt).option("path", dir)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      source.addData(("en", 3L, 30L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = read(dir).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows === Set(("en", 1L), ("de", 2L), ("en", 3L)))
    // epoch replay idempotence: re-running an epoch's writer with the same
    // (epoch, partition) FINAL name REPLACES its file instead of
    // duplicating rows, even from a different task attempt. Parse the
    // query id off the suffix-anchored -e<epoch>-<partition>.log tail (a
    // prefix split on "-e" would truncate UUIDs containing that substring).
    val files = new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".log"))
    val qid = files.head match {
      case s if s.startsWith("part-") =>
        "-e\\d+-\\d+\\.log$".r.findFirstMatchIn(s)
          .map(m => s.substring("part-".length, m.start))
          .getOrElse(fail(s"unexpected sink file name: $s"))
    }
    val factory = KeyedLogStreamingWriterFactory(dir, qid, LakeStorage.taskConf())
    val replay = factory.createWriter(0, 99L, 0L)
    replay.write(org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("fr"), 9L, 90L))
    replay.commit()
    val after = new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".log"))
    assert(after.length === files.length, s"replay duplicated a file: ${after.toSeq}")
  }

  test("streaming source: each micro-batch reads exactly the new files") {
    val dir = Files.createTempDirectory("graft_klog_src_").toString
    val ckpt = Files.createTempDirectory("graft_klog_src_ckpt_").toString
    Files.write(java.nio.file.Paths.get(dir, "a.log"),
      "en\t1\t100\nde\t2\t200\n".getBytes("UTF-8"))
    val q = spark.readStream.format("graft.sources.KeyedLogSource").load(dir)
      .groupBy("key").agg(sum("metric").as("total"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("klog_stream").start()
    try {
      q.processAllAvailable()
      Files.write(java.nio.file.Paths.get(dir, "b.log"),
        "en\t3\t300\nfr\t4\t400\n".getBytes("UTF-8"))
      q.processAllAvailable()
      val state = spark.table("klog_stream").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(state === Map("en" -> 400L, "de" -> 200L, "fr" -> 400L))
      // the second data batch ingested ONLY b.log's rows (offset = seen set)
      val dataBatches = q.recentProgress.filter(_.numInputRows > 0)
      assert(dataBatches.map(_.numInputRows).toSeq === Seq(2L, 2L),
        s"batches read wrong row counts: ${q.recentProgress.map(_.numInputRows).toSeq}")
    } finally q.stop()
  }

  test("aggregate pushdown: scan emits per-file partials, results exact") {
    val dir = fixture()
    val df = read(dir).groupBy("key")
      .agg(expr("count(*)").as("n"), sum("metric").as("total"),
        min("seq").as("lo"), max("seq").as("hi"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedAggregates: [COUNT(*)"),
      s"aggregation not pushed into the scan:\n$p")
    val got = df.collect()
      .map(r => (Option(r.getAs[String]("key")),
        r.getLong(1), Option(r.getAs[Any]("total")), Option(r.getAs[Any]("lo")),
        Option(r.getAs[Any]("hi")))).toSet
    // groups merged across BOTH files; null key is a group; fr's seq is
    // null in every row -> its min/max are null while count stays 1
    assert(got === Set(
      (Some("en"), 3L, Some(450L), Some(1L), Some(4L)),
      (Some("de"), 1L, Some(200L), Some(2L), Some(2L)),
      (Some("bad-line"), 1L, None, None, None),
      (Some("fr"), 1L, Some(400L), None, None),
      (None, 1L, Some(60L), Some(5L), Some(5L))))
    // a filtered query keeps the residual filter -> falls back to the
    // row-level scan (no pushed aggregates in the plan), same answer path
    val filtered = read(dir).filter(col("key") === "en")
      .groupBy("key").agg(sum("metric").as("total"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(filtered.head().getLong(1) === 450L)
  }

  test("null keys only pass when no key predicate is pushed") {
    val dir = fixture()
    def countWith(filters: Array[org.apache.spark.sql.sources.Filter]) = {
      val scan = KeyedLogScan(dir, new StructType().add("key", "string"), filters)
      val factory = scan.createReaderFactory()
      scan.planInputPartitions().map { p =>
        val r = factory.createReader(p)
        try Iterator.continually(r.next()).takeWhile(identity).size finally r.close()
      }.sum
    }
    assert(countWith(Array.empty) === 7)
    assert(countWith(Array(IsNotNull("key"))) === 6)
  }

  test("offset is one line of JSON and round-trips any file list") {
    // OffsetSeqLog stores each source's offset on ONE line of the
    // checkpoint file: an embedded newline would shear a multi-file offset
    // into bogus extra offsets on restart.
    val files = Seq("/d/a.log", "/d/b.log", "/d/weird \"name\".log")
    val json = KeyedLogOffset(files).json()
    assert(!json.contains("\n"), s"offset JSON must be single-line: $json")
    assert(KeyedLogOffset.fromJson(json).files === files)
    assert(KeyedLogOffset.fromJson(KeyedLogOffset(Seq.empty).json()).files.isEmpty)
    // the CURRENT offset format is a single version number, also one line
    assert(KeyedLogVersionOffset(17L).json() === """{"v":17}""")
    assert(KeyedLogVersionOffset.fromJson("""{"v":17}""") === KeyedLogVersionOffset(17L))
  }

  test("offsets stay constant-size; seen-log compacts and bounds restart replay") {
    val dir = Files.createTempDirectory("graft_klog_led_").toString
    val ckpt = Files.createTempDirectory("graft_klog_led_ckpt_").toString
    val conf = LakeStorage.taskConf()
    val schema = KeyedLogSource.schema
    val stream = new KeyedLogMicroBatchStream(dir, schema, Array.empty, conf, ckpt)
    assert(stream.latestOffset() === KeyedLogVersionOffset(-1L)) // empty dir: no batch
    val offsets = (0 until 25).map { i =>
      Files.write(java.nio.file.Paths.get(dir, f"f$i%03d.log"),
        s"k$i\t$i\t${i * 10}\n".getBytes("UTF-8"))
      stream.latestOffset().asInstanceOf[KeyedLogVersionOffset]
    }
    assert(offsets.map(_.v) === (0L until 25L), "one seen-log version per trigger with new files")
    // THE bounded-offset claim: checkpointed offset size never grows with
    // the number of files ever ingested (the legacy format grew linearly)
    assert(offsets.map(_.json().length).distinct.size <= 2, // {"v":9} vs {"v":24}
      s"offset JSON must be constant-size: ${offsets.map(_.json())}")
    // no new files -> same version, no empty log entries
    assert(stream.latestOffset() === KeyedLogVersionOffset(24L))
    // compact entries exist at every anchor version (VersionLog.AnchorInterval)
    val ledgerDir = java.nio.file.Paths.get(ckpt, "graft_seen_log")
    def entry(v: Long) = new String(java.nio.file.Files.readAllBytes(
      ledgerDir.resolve(f"$v%020d")), "UTF-8")
    assert(entry(10L).contains("\"all\"") && entry(20L).contains("\"all\""))
    assert(!entry(9L).contains("\"all\"") && !entry(21L).contains("\"all\""))
    // restart: a fresh stream instance replays the seen set from the last
    // compact entry + the deltas after it, NEVER the whole history
    val restarted = new KeyedLogMicroBatchStream(dir, schema, Array.empty, conf, ckpt)
    assert(restarted.ledger.latestVersion === 24L)
    assert(restarted.ledger.replayReads <= graft.core.VersionLog.AnchorInterval + 1,
      s"restart replayed ${restarted.ledger.replayReads} entries (unbounded?)")
    assert(restarted.latestOffset() === KeyedLogVersionOffset(24L)) // nothing re-read
    // a version-range batch plans exactly the files first seen in-window
    val parts = restarted.planInputPartitions(
      KeyedLogVersionOffset(20L), KeyedLogVersionOffset(24L))
    val planned = parts.flatMap(_.asInstanceOf[KeyedLogPartition].files).toSeq
    assert(planned.map(f => new java.io.File(f).getName).sorted ===
      (21 to 24).map(i => f"f$i%03d.log"))
    // legacy full-file-list offset still accepted as a restart's range START
    val legacy = restarted.deserializeOffset(
      KeyedLogOffset(planned.take(2)).json()).asInstanceOf[KeyedLogOffset]
    val migrated = restarted.planInputPartitions(legacy, KeyedLogVersionOffset(24L))
      .flatMap(_.asInstanceOf[KeyedLogPartition].files)
    assert(migrated.map(f => new java.io.File(f).getName).sorted ===
      (0 to 24).map(i => f"f$i%03d.log").diff(
        legacy.files.map(f => new java.io.File(f).getName)),
      "legacy offset migration must read exactly the not-yet-seen files")
  }

  test("a torn seen-log head entry (crash mid-write) is repaired on restart") {
    val dir = Files.createTempDirectory("graft_klog_torn_").toString
    val ckpt = Files.createTempDirectory("graft_klog_torn_ckpt_").toString
    val conf = LakeStorage.taskConf()
    val schema = KeyedLogSource.schema
    val stream = new KeyedLogMicroBatchStream(dir, schema, Array.empty, conf, ckpt)
    Files.write(java.nio.file.Paths.get(dir, "f000.log"), "a\t1\t10\n".getBytes("UTF-8"))
    assert(stream.latestOffset() === KeyedLogVersionOffset(0L))
    Files.write(java.nio.file.Paths.get(dir, "f001.log"), "b\t2\t20\n".getBytes("UTF-8"))
    assert(stream.latestOffset() === KeyedLogVersionOffset(1L))
    // simulate a driver crash inside advance(): the entry file exists (the
    // create-exclusive claim succeeded) but its JSON never reached disk
    val ledgerDir = java.nio.file.Paths.get(ckpt, "graft_seen_log")
    val torn = ledgerDir.resolve(f"${2L}%020d")
    Files.write(torn, Array.emptyByteArray)
    // restart: v2 was never RETURNED from advance(), so it can never be in
    // Spark's offset log — treating the torn entry as absent is always
    // safe, and required (throwing here bricked the checkpoint forever)
    val restarted = new KeyedLogMicroBatchStream(dir, schema, Array.empty, conf, ckpt)
    assert(restarted.ledger.latestVersion === 1L)
    assert(!Files.exists(torn),
      "the torn head entry must be deleted so its version can be re-claimed")
    // the stream continues: the next trigger re-claims the repaired version
    Files.write(java.nio.file.Paths.get(dir, "f002.log"), "c\t3\t30\n".getBytes("UTF-8"))
    assert(restarted.latestOffset() === KeyedLogVersionOffset(2L))
    val planned = restarted.planInputPartitions(
        KeyedLogVersionOffset(1L), KeyedLogVersionOffset(2L))
      .flatMap(_.asInstanceOf[KeyedLogPartition].files)
    assert(planned.map(f => new java.io.File(f).getName).toSeq === Seq("f002.log"))
    // a truncated (partial-JSON) head repairs identically
    val restarted2 = {
      Files.write(ledgerDir.resolve(f"${3L}%020d"), """{"n":["f00""".getBytes("UTF-8"))
      new KeyedLogMicroBatchStream(dir, schema, Array.empty, conf, ckpt)
    }
    assert(restarted2.ledger.latestVersion === 2L)
    // but a torn NON-head entry is real corruption and still throws:
    // entries are written sequentially, so tearing can only hit the head
    Files.write(ledgerDir.resolve(f"${1L}%020d"), Array.emptyByteArray)
    val e = intercept[IllegalStateException] {
      new KeyedLogMicroBatchStream(dir, schema, Array.empty, conf, ckpt)
    }
    assert(e.getMessage.contains("corrupt seen-log entry"))
  }

  test("commit journal: one version per write, windowed incremental reads") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_klog_jrnl_").toString
    def write(rows: Seq[(String, Long, Long)]): Unit =
      rows.toDF("key", "seq", "metric").coalesce(1)
        .write.format("graft.sources.KeyedLogSource").mode("append").save(dir)
    write(Seq(("en", 1L, 10L), ("de", 2L, 20L)))  // journal v0
    write(Seq(("fr", 3L, 30L)))                   // journal v1
    write(Seq(("en", 4L, 40L)))                   // journal v2
    val conf = LakeStorage.taskConf()
    assert(KeyedLogVersionLog.versions(dir, conf) === Seq(0L, 1L, 2L))
    def readWindow(opts: (String, String)*) = {
      val r = spark.read.format("graft.sources.KeyedLogSource")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(dir).collect().map(x => (x.getString(0), x.getLong(1))).toSet
    }
    assert(readWindow() === Set(("en", 1L), ("de", 2L), ("fr", 3L), ("en", 4L)))
    assert(readWindow("start_version" -> "0") === Set(("fr", 3L), ("en", 4L)))
    assert(readWindow("start_version" -> "0", "end_version" -> "1") === Set(("fr", 3L)))
    assert(readWindow("start_version" -> "-1", "end_version" -> "0") ===
      Set(("en", 1L), ("de", 2L)))
    // journaling is exactly-once: re-committing the same file names (an
    // epoch replay) journals nothing
    val v0names = KeyedLogVersionLog.read(dir, conf, 0L)
    assert(KeyedLogVersionLog.commit(dir, conf, v0names) === None)
    assert(KeyedLogVersionLog.versions(dir, conf) === Seq(0L, 1L, 2L))
    // the journal compacts: after enough commits, every anchor
    // marker embeds the full set, and dedup/window reads stay exact
    (5 to 25).foreach(i => write(Seq((s"k$i", i.toLong, i.toLong))))
    assert(KeyedLogVersionLog.versions(dir, conf).max === 23L)
    val m10 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, f"_klogv_${10L}%020d")), "UTF-8")
    val m20 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, f"_klogv_${20L}%020d")), "UTF-8")
    assert(m10.contains("\"all\"") && m20.contains("\"all\""))
    assert(readWindow("start_version" -> "21").map(_._2) === Set(24L, 25L))
    // a journaled file that is GONE (compacted past the cursor) fails
    // loudly instead of silently dropping rows from the change feed
    Files.delete(java.nio.file.Paths.get(dir, KeyedLogVersionLog.read(dir, conf, 1L).head))
    val e = intercept[Exception] { readWindow("start_version" -> "0", "end_version" -> "2") }
    assert(e.getMessage.contains("journaled file"), s"wrong error: ${e.getMessage}")
    // full scans resolve from the journal too, so journal/disk divergence
    // (a live file hand-deleted without a rewrite entry) fails loudly for
    // them as well — corruption is never a silent row drop
    intercept[Exception] { readWindow() }
  }

  test("journal head pointer: fresh/stale/corrupt/absent states all resolve") {
    val dir = Files.createTempDirectory("graft_klog_head_").toString
    val conf = LakeStorage.taskConf()
    (0 until 12).foreach(i =>
      KeyedLogVersionLog.commit(dir, conf, Seq(f"h-$i%03d.log")))
    // fresh pointer: head O(1), versions = 0..head without listing
    assert(KeyedLogVersionLog.head(dir, conf) === Some(11L))
    assert(KeyedLogVersionLog.versions(dir, conf) === (0L to 11L))
    val ptr = java.nio.file.Paths.get(dir, "_klogv_head")
    assert(Files.exists(ptr), "commit must write the head pointer")
    // stale pointer (another process committed since): forward probe
    Files.write(ptr, """{"v":5}""".getBytes("UTF-8"))
    assert(KeyedLogVersionLog.head(dir, conf) === Some(11L))
    // corrupt pointer: listing fallback
    Files.write(ptr, "garbage".getBytes("UTF-8"))
    assert(KeyedLogVersionLog.head(dir, conf) === Some(11L))
    // pointer ahead of reality (marker missing): listing fallback
    Files.write(ptr, """{"v":99}""".getBytes("UTF-8"))
    assert(KeyedLogVersionLog.head(dir, conf) === Some(11L))
    // absent pointer (pre-pointer dirs): listing fallback; next commit
    // rewrites it
    Files.delete(ptr)
    assert(KeyedLogVersionLog.head(dir, conf) === Some(11L))
    KeyedLogVersionLog.commit(dir, conf, Seq("h-next.log"))
    assert(Files.exists(ptr) && KeyedLogVersionLog.head(dir, conf) === Some(12L))
  }

  test("journal commits race safely: sequential versions, no lost names") {
    val dir = Files.createTempDirectory("graft_klog_race_").toString
    val conf = LakeStorage.taskConf()
    val names = (0 until 40).map(i => f"race-$i%03d.log")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = names.grouped(5).toSeq.map { batch =>
        pool.submit(new java.util.concurrent.Callable[Option[Long]] {
          override def call(): Option[Long] =
            KeyedLogVersionLog.commit(dir, conf, batch)
        })
      }
      val versions = futures.map(_.get()).flatten
      assert(versions.sorted === (0L until 8L), s"non-sequential versions: $versions")
    } finally pool.shutdown()
    val all = KeyedLogVersionLog.versions(dir, conf)
      .flatMap(KeyedLogVersionLog.read(dir, conf, _))
    assert(all.sorted === names.sorted, "a racing commit lost file names")
    assert(all.distinct.length === all.length, "a racing commit duplicated names")
  }

  test("checkpointed restart resumes from a multi-file offset") {
    val dir = Files.createTempDirectory("graft_klog_restart_").toString
    val ckpt = Files.createTempDirectory("graft_klog_restart_ckpt_").toString
    // two files BEFORE the first run, so the committed offset holds >1 file
    Files.write(java.nio.file.Paths.get(dir, "a.log"), "en\t1\t10\n".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(dir, "b.log"), "de\t2\t20\n".getBytes("UTF-8"))
    val out = Files.createTempDirectory("graft_klog_restart_out_").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.KeyedLogSource").load(dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt).option("path", out)
        .format("parquet").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // restart: deserializeOffset must parse the 2-file offset as ONE offset
    Files.write(java.nio.file.Paths.get(dir, "c.log"), "fr\t3\t30\n".getBytes("UTF-8"))
    run()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows.sorted === Seq(("de", 2L), ("en", 1L), ("fr", 3L)),
      s"restart re-read or dropped files: $rows")
  }

  test("plain scans are columnar (vectorized batches), agg-pushdown scans are not") {
    val dir = fixture()
    val plain = read(dir).filter(col("key") === "en")
    val plainPlan = plain.queryExecution.executedPlan
    assert(plainPlan.toString.contains("ColumnarToRow"),
      s"plain scan not vectorized:\n$plainPlan")
    // columnar and row readers agree bit-for-bit (same parser underneath)
    assert(plain.collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSet
      === Set(("en", Some(1L), Some(100L)), ("en", Some(3L), Some(300L)),
        ("en", Some(4L), Some(50L))))
    // aggregate pushdown emits a few partial rows per file — row-based
    val agg = read(dir).groupBy("key").count()
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(aggPlan.contains("PushedAggregates"), s"agg not pushed:\n$aggPlan")
  }

  test("columnar batches handle nulls and >1 batch of rows") {
    val dir = Files.createTempDirectory("graft_klog_col_").toString
    val sb = new StringBuilder
    (1 to 10000).foreach { i =>
      if (i % 1000 == 0) sb.append(s"\t$i\t\n")        // null key + null metric
      else sb.append(s"k${i % 7}\t$i\t${i * 2}\n")
    }
    Files.write(java.nio.file.Paths.get(dir, "big.log"), sb.toString.getBytes("UTF-8"))
    val df = read(dir)
    assert(df.count() === 10000L)
    assert(df.filter(col("key").isNull).count() === 10L)
    assert(df.agg(sum("seq")).head().getLong(0) === (1L to 10000L).sum)
  }

  test("clusterByKey write declares distribution: one file per key cluster") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_klog_clust_").toString
    val df = (1 to 100).map(i => (s"k${i % 5}", i.toLong, i.toLong * 2))
      .toDF("key", "seq", "metric").repartition(8) // deliberately scattered
    df.write.format("graft.sources.KeyedLogSource")
      .option("clusterByKey", "true").mode("append").save(dir)
    // the declared distribution makes Spark cluster rows by key before the
    // write: every key's rows land in exactly one file, sorted by seq
    val fileOfKey = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".log")).flatMap { f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines()
          .map(l => (l.split("\t")(0), f.getName)).toList
      }
    val filesPerKey = fileOfKey.groupBy(_._1).map { case (k, v) =>
      (k, v.map(_._2).distinct.length) }
    assert(filesPerKey.values.forall(_ === 1),
      s"keys split across files despite clusterByKey: $filesPerKey")
    // in-file ordering honors the declared sort (key asc, seq asc)
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".log")).foreach { f =>
      val rows = scala.io.Source.fromFile(f, "UTF-8").getLines()
        .map { l => val p = l.split("\t"); (p(0), p(1).toLong) }.toList
      assert(rows === rows.sorted, s"rows not sorted in ${f.getName}")
    }
    assert(read(dir).count() === 100L)
  }

  test("metadata DELETE: key predicates drop whole clustered files; refusals are loud") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_klog_del_").toString
    val df = ((1 to 60).map(i => (s"k${i % 3}", i.toLong, i.toLong)) :+
      ((null: String), 999L, 7L))
      .toDF("key", "seq", "metric")
    df.write.format("graft.sources.KeyedLogSource")
      .option("clusterByKey", "true").mode("append").save(dir)
    val t = new KeyedLogTable(dir)
    def names() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".log")).map(_.getName).toSet
    val before = names()
    // key equality: only that key's file disappears, survivors untouched
    assert(t.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](EqualTo("key", "k1"))))
    t.deleteWhere(Array[org.apache.spark.sql.sources.Filter](EqualTo("key", "k1")))
    val afterK1 = names()
    assert((before -- afterK1).forall(_.contains("-K=k1")) &&
      (before -- afterK1).nonEmpty)
    assert(read(dir).filter(col("key") === "k1").count() === 0L)
    assert(read(dir).count() === 41L) // 40 keyed + 1 null-key row
    // IS NULL reaches the null-key file
    t.deleteWhere(Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.IsNull("key")))
    assert(read(dir).count() === 40L)
    // the journal carried the delete as a rewrite: incremental cursors
    // from before it fail loudly rather than resurrect dropped rows
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val head = KeyedLogVersionLog.head(dir, conf).get
    assert(KeyedLogVersionLog.isRewrite(dir, conf, head))
    // non-key predicates are refused (no silent partial delete)
    assert(!t.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](EqualTo("metric", 3L))))
    intercept[IllegalArgumentException] {
      t.deleteWhere(Array[org.apache.spark.sql.sources.Filter](EqualTo("metric", 3L)))
    }
    // a hand-placed (never journaled) file is INVISIBLE on a
    // journal-carrying dir — reads resolve from the journal, so it
    // neither serves rows nor blocks the metadata delete
    Files.write(java.nio.file.Paths.get(dir, "plain.log"),
      "k0\t1\t1\n".getBytes("UTF-8"))
    assert(read(dir).count() === 40L,
      "unjournaled files must not serve rows on a journaled dir")
    assert(t.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](EqualTo("key", "k0"))))
    // on a JOURNAL-LESS dir (listing reads), an unclustered file makes
    // any metadata delete unsound: refused
    val rawDir = Files.createTempDirectory("graft_klog_raw_").toString
    Files.write(java.nio.file.Paths.get(rawDir, "part-x-0-K=k0.log"),
      "k0\t1\t1\n".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(rawDir, "plain.log"),
      "k0\t2\t2\n".getBytes("UTF-8"))
    val tRaw = new KeyedLogTable(rawDir)
    assert(!tRaw.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](EqualTo("key", "k0"))))
    intercept[IllegalArgumentException] {
      tRaw.deleteWhere(Array[org.apache.spark.sql.sources.Filter](EqualTo("key", "k0")))
    }
  }

  test("row-level UPDATE/MERGE: file-granular CoW, hidden staging, one rewrite journal entry") {
    val s = spark.newSession()
    graft.catalog.GraftCatalog.register(s, "gklrl",
      Files.createTempDirectory("graft_klrl_root_").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gklrl.db")
    s.sql("CREATE TABLE gklrl.db.t (key STRING, seq BIGINT, metric BIGINT) " +
      "USING keyedlog PARTITIONED BY (bucket(2, key))")
    s.sql("INSERT INTO gklrl.db.t VALUES " +
      "('a', 1, 10), ('a', 2, 20), ('b', 3, 30), ('c', 4, 40)")
    val dir = s.sql("SHOW TBLPROPERTIES gklrl.db.t").collect()
      .find(_.getString(0) == "graft.location").get.getString(1)
    val local = new java.io.File(new java.net.URI(
      if (dir.startsWith("file:")) dir else s"file://$dir"))
    def names(): Map[String, Long] = local.listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getName -> f.lastModified()).toMap
    val conf = new org.apache.spark.util.SerializableConfiguration(
      s.sessionState.newHadoopConf())
    val v0 = KeyedLogVersionLog.head(dir, conf).get
    val before = names()
    s.sql("UPDATE gklrl.db.t SET metric = 0 WHERE key = 'a'")
    val after = names()
    val replaced = before.keySet -- after.keySet
    val added = after.keySet -- before.keySet
    // runtime group filtering proved: only the matched key's file rewrote,
    // and the replacement kept its cluster tag (bucket-declared table)
    assert(replaced.nonEmpty && replaced.forall(_.contains("-K=a")),
      s"replaced: $replaced")
    assert(added.nonEmpty && added.forall(_.contains("-K=a")), s"added: $added")
    assert(after.view.filterKeys(!added(_)).toMap ==
      before.view.filterKeys(!replaced(_)).toMap,
      "survivor files must be byte-untouched (names + mtimes)")
    // no hidden staged garbage after commit
    assert(local.listFiles().forall(f => !f.getName.startsWith(".rl-")))
    // journal: exactly one new version, tagged as a rewrite (cursors from
    // before it fail loudly rather than resurrect replaced rows)
    val v1 = KeyedLogVersionLog.head(dir, conf).get
    assert(v1 == v0 + 1 && KeyedLogVersionLog.isRewrite(dir, conf, v1))
    // the _klfile metadata column serves on plain reads too
    val kb = s.sql("SELECT DISTINCT _klfile FROM gklrl.db.t WHERE key = 'b'")
      .collect().map(_.getString(0))
    assert(kb.length == 1 && kb.head.contains("-K=b"), kb.toSeq.toString)
    // MERGE upserts through the same machinery
    s.sql("SELECT * FROM (VALUES ('b', 3L, 333L), ('d', 9L, 90L)) " +
      "AS t(key, seq, metric)").createOrReplaceTempView("klrl_src")
    s.sql("""MERGE INTO gklrl.db.t t USING klrl_src s
             ON t.key = s.key AND t.seq = s.seq
             WHEN MATCHED THEN UPDATE SET metric = s.metric
             WHEN NOT MATCHED THEN INSERT *""")
    assert(s.sql("SELECT key, seq, metric FROM gklrl.db.t ORDER BY seq, key")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 1L, 0L), ("a", 2L, 0L), ("b", 3L, 333L), ("c", 4L, 40L),
        ("d", 9L, 90L)))
    // merged files are still all key-clustered: another key UPDATE stays
    // file-granular (the rewrite did not demote the layout)
    assert(names().keySet.forall(_.contains("-K=")))
  }

  test("row-level no-op journals nothing; inserts-only MERGE journals a plain append") {
    val s = spark.newSession()
    graft.catalog.GraftCatalog.register(s, "gklnz",
      Files.createTempDirectory("graft_klnz_root_").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gklnz.db")
    s.sql("CREATE TABLE gklnz.db.t (key STRING, seq BIGINT, metric BIGINT) " +
      "USING keyedlog PARTITIONED BY (bucket(2, key))")
    s.sql("INSERT INTO gklnz.db.t VALUES ('a', 1, 10), ('b', 2, 20)")
    val dir = s.sql("SHOW TBLPROPERTIES gklnz.db.t").collect()
      .find(_.getString(0) == "graft.location").get.getString(1)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      s.sessionState.newHadoopConf())
    val v0 = KeyedLogVersionLog.head(dir, conf).get
    // zero matched rows: no file replaced, nothing staged — and NO
    // journal entry (a phantom rewrite would make every incremental
    // cursor re-deliver the whole table for a no-op)
    s.sql("UPDATE gklnz.db.t SET metric = 0 WHERE key = 'zzz'")
    assert(KeyedLogVersionLog.head(dir, conf).get == v0,
      "a zero-match UPDATE must not journal")
    // inserts-only MERGE: new files land, nothing replaced — journaled
    // as a PLAIN append entry, not a rewrite
    s.sql("SELECT * FROM (VALUES ('c', 9L, 90L)) AS t(key, seq, metric)")
      .createOrReplaceTempView("klnz_src")
    s.sql("""MERGE INTO gklnz.db.t t USING klnz_src s
             ON t.key = s.key AND t.seq = s.seq
             WHEN MATCHED THEN UPDATE SET metric = s.metric
             WHEN NOT MATCHED THEN INSERT *""")
    val v1 = KeyedLogVersionLog.head(dir, conf).get
    assert(v1 == v0 + 1 && !KeyedLogVersionLog.isRewrite(dir, conf, v1),
      "an inserts-only MERGE journals a plain append, not a rewrite")
    assert(s.table("gklnz.db.t").count() == 3)
  }

  test("row-level swap is snapshot-isolated: mid-commit states serve a complete snapshot") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_klsnap_").toString
    Seq(("k1", 1L, 10L), ("k2", 2L, 20L)).toDF("key", "seq", "metric")
      .coalesce(1)
      .write.format("graft.sources.KeyedLogSource").mode("append").save(dir)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val preSwap = read(dir).orderBy("seq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(preSwap == Seq(("k1", 1L, 10L), ("k2", 2L, 20L)))
    val original = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).toSeq
    assert(original.length == 1)
    // MID-COMMIT STATE 1: a replacement file REVEALED (visible name) but
    // the swap's journal entry not yet landed — a reader planned now must
    // see the complete PRE-swap snapshot, not the half-applied state a
    // directory listing would serve
    val replacement = "part-qswap-0.log"
    Files.write(java.nio.file.Paths.get(dir, replacement),
      "k1\t1\t11\nk2\t2\t20\n".getBytes("UTF-8"))
    assert(read(dir).orderBy("seq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq == preSwap,
      "revealed-but-unjournaled replacement must be invisible")
    // the swap's journal entry lands (rebased rewrite, rm/ad recorded)
    val v = KeyedLogVersionLog.commitRewrite(dir, conf,
      removed = original.toSet, added = Seq(replacement))
    val e = KeyedLogVersionLog.entry(dir, conf, v)
    assert(e.rewrite && e.rm === Some(original.sorted) &&
      e.ad === Some(Seq(replacement)),
      s"swap entry must record rm/ad for the changes feed: $e")
    // a rebased NO-OP (removed set no longer live) still writes PRESENT
    // rm/ad keys, empty — the feed must read it as a row-level no-op,
    // never as a whole-table compaction refresh
    val vNoop = KeyedLogVersionLog.commitRewrite(dir, conf,
      removed = Set("ghost-file.log"), added = Nil)
    val eNoop = KeyedLogVersionLog.entry(dir, conf, vNoop)
    assert(eNoop.rewrite && eNoop.rm === Some(Nil) && eNoop.ad === Some(Nil),
      s"no-op rebase must keep rm/ad PRESENT and empty: $eNoop")
    // MID-COMMIT STATE 2: journal landed, originals not yet tombstoned —
    // a reader planned now sees exactly the POST-swap snapshot (the
    // still-present original is journal-dead, so no duplicates)
    assert(read(dir).orderBy("seq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("k1", 1L, 11L), ("k2", 2L, 20L)),
      "post-journal read must serve the post-swap snapshot without duplicates")
    // 3. tombstoning finishes the swap; reads unchanged
    graft.sources.KeyedLogSource.hideReplaced(dir, conf, v, original)
    assert(!new java.io.File(dir, original.head).exists())
    assert(new java.io.File(dir,
      graft.sources.KeyedLogSource.tombstoneName(v, original.head)).exists())
    assert(read(dir).count() == 2L)
  }

  test("keyedlog VERSION AS OF: tombstone-backed snapshots, retention bound, immutability") {
    val s = spark.newSession()
    graft.catalog.GraftCatalog.register(s, "gktt",
      Files.createTempDirectory("graft_ktt_root_").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gktt.db")
    s.sql("CREATE TABLE gktt.db.t (key STRING, seq BIGINT, metric BIGINT) " +
      "USING keyedlog PARTITIONED BY (bucket(2, key))")
    s.sql("INSERT INTO gktt.db.t VALUES ('a', 1, 10), ('b', 2, 20)")   // v0
    s.sql("INSERT INTO gktt.db.t VALUES ('c', 3, 30)")                 // v1
    s.sql("UPDATE gktt.db.t SET metric = 99 WHERE key = 'a'")          // v2 (swap)
    s.sql("DELETE FROM gktt.db.t WHERE key = 'b'")                     // v3 (metadata)
    def rows(q: String) = s.sql(q).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    // v0/v1 serve the REPLACED a-file and DROPPED b-file from tombstones
    assert(rows("SELECT * FROM gktt.db.t VERSION AS OF 0") ==
      Seq(("a", 1L, 10L), ("b", 2L, 20L)))
    assert(rows("SELECT * FROM gktt.db.t VERSION AS OF 1") ==
      Seq(("a", 1L, 10L), ("b", 2L, 20L), ("c", 3L, 30L)))
    assert(rows("SELECT * FROM gktt.db.t VERSION AS OF 2") ==
      Seq(("a", 1L, 99L), ("b", 2L, 20L), ("c", 3L, 30L)))
    assert(rows("SELECT * FROM gktt.db.t") == Seq(("a", 1L, 99L), ("c", 3L, 30L)))
    // TIMESTAMP AS OF resolves on the journal clock (head = now)
    assert(rows("SELECT * FROM gktt.db.t TIMESTAMP AS OF " +
      "(current_timestamp() + INTERVAL 1 HOUR)") ==
      Seq(("a", 1L, 99L), ("c", 3L, 30L)))
    // an AS OF snapshot table is immutable at the connector level
    val asOfTable = new KeyedLogTable(
      s.sql("SHOW TBLPROPERTIES gktt.db.t").collect()
        .find(_.getString(0) == "graft.location").get.getString(1),
      Some(2), asOf = Some(1L))
    intercept[IllegalArgumentException] {
      asOfTable.deleteWhere(Array[org.apache.spark.sql.sources.Filter](EqualTo("key", "a")))
    }
    assert(!asOfTable.canDeleteWhere(
      Array[org.apache.spark.sql.sources.Filter](EqualTo("key", "a"))))
    // unknown version fails loudly
    val eV = intercept[Exception] {
      s.sql("SELECT * FROM gktt.db.t VERSION AS OF 99").collect()
    }
    assert(eV.getMessage.contains("not journaled"), eV.getMessage)
    // retention: sweep the tombstones, the old snapshots fail LOUDLY
    // while the live head is untouched
    s.sql("CALL gktt.system.vacuum('db.t', orphan_retain_ms => 0)")
    val eGone = intercept[Exception] {
      s.sql("SELECT * FROM gktt.db.t VERSION AS OF 0").collect()
    }
    assert(eGone.getMessage.contains("tombstone aged out") ||
      eGone.getMessage.contains("is gone"), eGone.getMessage)
    assert(rows("SELECT * FROM gktt.db.t") == Seq(("a", 1L, 99L), ("c", 3L, 30L)))
  }

  test("row-level abort: pre-journal cleans staged+revealed; post-journal keeps the live copy") {
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val dir = Files.createTempDirectory("graft_klab_").toString
    Files.write(java.nio.file.Paths.get(dir, "a.log"), "k1\t1\t10\n".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(dir, "b.log"), "k2\t2\t20\n".getBytes("UTF-8"))
    val op = new KeyedLogRowLevelOperation(dir, None, Command.UPDATE)
    val conf = op.conf
    // plain pre-journal abort cleans staged output
    val clean = new KeyedLogReplaceWrite(op, dir, "qy", clustered = false)
    val cleanStaged = ".rl-qy-part-qy-0.log"
    Files.write(java.nio.file.Paths.get(dir, cleanStaged), "x\t1\t1\n".getBytes("UTF-8"))
    clean.abort(Array(KeyedLogCommit(Seq(cleanStaged))))
    assert(!new java.io.File(dir, cleanStaged).exists(),
      "pre-journal abort must clean staged files")
    // force a MID-REVEAL failure: the second staged file's final name is
    // blocked by a NON-EMPTY DIRECTORY (delete fails, exists stays true).
    // Nothing destructive has happened — abort must remove the staged AND
    // the already-revealed output, leaving the table byte-identical.
    val write = new KeyedLogReplaceWrite(op, dir, "qx", clustered = false)
    val staged1 = ".rl-qx-part-qx-0.log"
    val staged2 = ".rl-qx-part-qx-1.log"
    Files.write(java.nio.file.Paths.get(dir, staged1), "k1\t1\t11\n".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(dir, staged2), "k2\t2\t22\n".getBytes("UTF-8"))
    assert(new java.io.File(dir, "part-qx-1.log").mkdir())
    Files.write(java.nio.file.Paths.get(dir, "part-qx-1.log", "x"), "z".getBytes("UTF-8"))
    val messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage] =
      Array(KeyedLogCommit(Seq(staged1, staged2)))
    op.scannedFiles = Seq("a.log", "b.log")
    intercept[Exception](write.commit(messages))
    assert(new java.io.File(dir, "part-qx-0.log").exists(),
      "first reveal landed before the failure")
    write.abort(messages)
    assert(!new java.io.File(dir, "part-qx-0.log").exists() &&
      !new java.io.File(dir, staged1).exists() &&
      !new java.io.File(dir, staged2).exists(),
      "pre-journal abort must remove staged and revealed output")
    assert(new java.io.File(dir, "a.log").exists() &&
      new java.io.File(dir, "b.log").exists(),
      "originals are untouched until the journal entry lands")
    // the failed swap left at most the GENESIS anchor (the pre-swap live
    // set, seeded before the reveal so journal-less dirs never expose a
    // reveal window to listing readers) — same rows, no swap entry
    assert(KeyedLogVersionLog.head(dir, conf) === Some(0L),
      "a failed swap journals only the genesis anchor")
    assert(KeyedLogVersionLog.liveSet(dir, conf)
      === Some(Seq("a.log", "b.log")),
      "the genesis anchor is the pre-swap live set")
    assert(read(dir).count() == 2L)
    // POST-JOURNAL abort keeps everything: the revealed files are live
    new java.io.File(new java.io.File(dir, "part-qx-1.log"), "x").delete()
    new java.io.File(dir, "part-qx-1.log").delete()
    val write2 = new KeyedLogReplaceWrite(op, dir, "qz", clustered = false)
    val staged3 = ".rl-qz-part-qz-0.log"
    Files.write(java.nio.file.Paths.get(dir, staged3), "k1\t1\t13\nk2\t2\t20\n".getBytes("UTF-8"))
    val messages2: Array[org.apache.spark.sql.connector.write.WriterCommitMessage] =
      Array(KeyedLogCommit(Seq(staged3)))
    op.scannedFiles = Seq("a.log", "b.log")
    write2.commit(messages2)
    write2.abort(messages2) // e.g. a post-commit driver hiccup
    assert(new java.io.File(dir, "part-qz-0.log").exists(),
      "post-journal abort must keep the revealed (live) files")
    assert(read(dir).count() == 2L)
  }

  test("scan reports size statistics: a small keyed-log table broadcasts") {
    import spark.implicits._
    val dir = fixture() // a few hundred bytes
    val big = (1 to 50000).map(i => (s"${if (i % 3 == 0) "en" else "de"}", i.toLong))
      .toDF("key", "x")
    val joined = big.join(read(dir).select("key", "metric"), Seq("key"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"small connector table not broadcast (no size stats reaching the planner?):\n$plan")
    assert(joined.count() > 0)
  }

  test("runtime (join-key) filtering reaches the scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_klog_rf_").toString
    val sb = new StringBuilder
    (1 to 5000).foreach(i => sb.append(s"k${i % 50}\t$i\t${i * 2}\n"))
    Files.write(java.nio.file.Paths.get(dir, "a.log"), sb.toString.getBytes("UTF-8"))
    // the pruning side needs a SELECTIVE predicate over a real scan for the
    // planner to consider injecting the runtime filter
    val dimDir = Files.createTempDirectory("graft_klog_rf_dim_").toString
    (0 until 50).map(i => (s"k$i", s"l$i")).toDF("key", "label")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("label").isin("l7", "l9"))
    val joined = read(dir).join(dim, Seq("key"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"no runtime filter planned on the v2 scan:\n$plan")
    assert(joined.count() === 200L) // 2 keys x 100 rows each
  }

  test("batch task retry commits the same final name — no duplicate rows") {
    val dir = Files.createTempDirectory("graft_klog_retry_").toString
    val _ = spark.sparkContext
    def attempt(taskId: Long): Unit = {
      val w = KeyedLogWriterFactory(dir, "q9", LakeStorage.taskConf())
        .createWriter(0, taskId)
      w.write(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString("en"), 1L, 10L))
      w.commit()
    }
    attempt(7L)   // original attempt commits, then dies before reporting
    attempt(8L)   // retry must REPLACE, not add a second file
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".log")) === 1)
    assert(read(dir).count() === 1)
  }

  /** Session with storage-partitioned (key-grouped) reads enabled. */
  private def spjSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  private def writeClustered(s: SparkSession, rows: Seq[(String, Long, Long)]): String = {
    import s.implicits._
    val dir = Files.createTempDirectory("graft_klog_spj_").toString
    rows.toDF("key", "seq", "metric").repartition(8)
      .write.format("graft.sources.KeyedLogSource")
      .option("clusterByKey", "true").mode("append").save(dir)
    dir
  }

  test("clustered dir reports key-grouped partitioning: groupBy(key) plans no shuffle") {
    val s = spjSession()
    val dir = writeClustered(s,
      (1 to 100).map(i => (s"k${i % 5}", i.toLong, i.toLong)) ++
        Seq((null.asInstanceOf[String], 999L, 7L)))
    val agg = s.read.format("graft.sources.KeyedLogSource").load(dir)
      .groupBy("key").agg(sum("metric").as("total"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"key aggregation over a clustered dir must not shuffle:\n$plan")
    val totals = agg.collect().map(r => (r.getAs[String]("key"), r.getLong(1))).toMap
    assert(totals(null) === 7L)
    assert(totals("k1") === (1 to 100).filter(_ % 5 == 1).sum.toLong)
    // without the bucketing flag the same dir scans per-file (parallelism
    // first) and the aggregation shuffles as usual
    val plain = read(dir).groupBy("key").agg(sum("metric")).queryExecution
      .executedPlan.toString
    assert(plain.contains("Exchange"), s"flag off must keep the normal plan:\n$plain")
  }

  test("storage-partitioned join of co-clustered dirs plans no shuffle") {
    val s = spjSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SPJ path
    val keys = (0 until 6).map(i => s"k$i")
    val left = writeClustered(s,
      (1 to 120).map(i => (keys(i % 6), i.toLong, i.toLong)))
    val right = writeClustered(s,
      (1 to 60).map(i => (keys(i % 6), i.toLong, i.toLong * 10)))
    def load(d: String) = s.read.format("graft.sources.KeyedLogSource").load(d)
    // aggregate each side per key first (no shuffle: key-grouped), then
    // join on key — co-partitioned storage join, no exchange anywhere
    val joined = load(left).groupBy("key").agg(sum("metric").as("l"))
      .join(load(right).groupBy("key").agg(sum("metric").as("r")), Seq("key"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("BroadcastExchange"),
      s"co-clustered join must be storage-partitioned (no shuffle):\n$plan")
    val rows = joined.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 6)
    val k0 = rows.find(_._1 == "k0").get
    assert(k0._2 === (1 to 120).filter(_ % 6 == 0).sum.toLong)
    assert(k0._3 === (1 to 60).filter(_ % 6 == 0).map(_ * 10).sum.toLong)
  }

  test("a plain append demotes a clustered dir to per-file scanning") {
    val s = spjSession()
    import s.implicits._
    val dir = writeClustered(s, Seq(("a", 1L, 1L), ("b", 2L, 2L)))
    // unclustered append: files without the -K= tag
    Seq(("a", 3L, 3L)).toDF("key", "seq", "metric")
      .write.format("graft.sources.KeyedLogSource").mode("append").save(dir)
    val agg = s.read.format("graft.sources.KeyedLogSource").load(dir)
      .groupBy("key").agg(sum("metric").as("total"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"),
      s"mixed dir cannot report key-grouped partitioning:\n$plan")
    assert(agg.collect().map(r => (r.getString(0), r.getLong(1))).toMap ===
      Map("a" -> 4L, "b" -> 2L))
  }

  test("pushed key filters prune whole file groups at planning time") {
    val s = spjSession()
    val dir = writeClustered(s,
      (1 to 100).map(i => (s"k${i % 5}", i.toLong, i.toLong)) ++
        Seq((null.asInstanceOf[String], 999L, 7L)))
    def partitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
    def load() = s.read.format("graft.sources.KeyedLogSource").load(dir)
    val all = partitions(load())
    assert(all >= 6, s"expected one partition per key group, got $all")
    // point lookup plans exactly one key's file group
    val one = load().filter(col("key") === "k3")
    assert(partitions(one) === 1, "key = v must plan one file group")
    assert(one.agg(sum("metric")).head().getLong(0) ===
      (1 to 100).filter(_ % 5 == 3).sum.toLong)
    // IN-list plans its keys' groups
    val two = load().filter(col("key").isin("k1", "k4"))
    assert(partitions(two) === 2, "key IN must plan the listed groups")
    assert(two.count() === 40L)
    // IS NOT NULL drops only the null-key group
    val nn = load().filter(col("key").isNotNull)
    assert(partitions(nn) === all - 1)
    assert(nn.count() === 100L)
    // the same pruning applies without storage-partitioned grouping
    val plain = read(dir).filter(col("key") === "k3")
    assert(partitions(plain) === 1, "plain scans prune tagged files too")
    assert(plain.count() === 20L)
    // a key no file holds plans nothing and answers zero
    val none = load().filter(col("key") === "zzz")
    assert(partitions(none) === 0)
    assert(none.count() === 0L)
  }

  test("clustered file names round-trip awkward keys (encoding)") {
    val s = spjSession()
    val dir = writeClustered(s, Seq(
      ("sp ace", 1L, 1L), ("sl/ash", 2L, 2L), ("eq=k", 3L, 3L),
      ("unié", 4L, 4L), (null.asInstanceOf[String], 5L, 5L)))
    val rows = s.read.format("graft.sources.KeyedLogSource").load(dir)
      .collect().map(r => (r.getAs[String]("key"), r.getLong(2))).toSet
    assert(rows === Set(("sp ace", 1L), ("sl/ash", 2L), ("eq=k", 3L),
      ("unié", 4L), (null, 5L)))
  }

  test("journal entry cache: repeat reads parse no marker twice; new commits read through") {
    val s = spark.newSession()
    graft.catalog.GraftCatalog.register(s, "gklec",
      Files.createTempDirectory("graft_klec_root_").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gklec.db")
    s.sql("CREATE TABLE gklec.db.t (key STRING, seq BIGINT, metric BIGINT) " +
      "USING keyedlog")
    (0 until 3).foreach { i =>
      s.range(5).selectExpr(s"'k$i' AS key", s"id + ${i * 5} AS seq", "id AS metric")
        .coalesce(1).writeTo("gklec.db.t").append()
    }
    // warm pass parses whatever the liveSet/stats walks need
    assert(s.table("gklec.db.t").count() === 15L)
    val p0 = graft.core.VersionLog.entryParses.get()
    assert(s.table("gklec.db.t").count() === 15L)
    assert(s.table("gklec.db.t").filter(col("metric") >= 0L).count() === 15L)
    val p1 = graft.core.VersionLog.entryParses.get()
    assert(p1 === p0,
      s"repeat reads must hit the entry cache (parses went $p0 -> $p1)")
    // a new commit appends a new marker: it is parsed (read through the
    // cache), and the read sees its rows exactly once
    s.range(5).selectExpr("'k9' AS key", "id + 100 AS seq", "id AS metric")
      .coalesce(1).writeTo("gklec.db.t").append()
    assert(s.table("gklec.db.t").count() === 20L)
    val p2 = graft.core.VersionLog.entryParses.get()
    assert(p2 > p1, "a fresh marker must be parsed once")
    assert(s.table("gklec.db.t").count() === 20L)
    assert(graft.core.VersionLog.entryParses.get() === p2,
      "the fresh marker must now be served from the cache")
  }

  test("manifest entry cache: repeat reads parse no marker; a new commit parses only its own") {
    val s = spark.newSession()
    graft.catalog.GraftCatalog.register(s, "gmec",
      Files.createTempDirectory("graft_mec_root_").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gmec.db")
    s.sql("CREATE TABLE gmec.db.t (id BIGINT, v BIGINT) USING manifest")
    (0 until 3).foreach { i =>
      s.range(5).selectExpr(s"id + ${i * 5} AS id", "id AS v")
        .coalesce(1).writeTo("gmec.db.t").append()
    }
    assert(s.table("gmec.db.t").count() === 15L)
    val p0 = graft.core.VersionLog.entryParses.get()
    assert(s.table("gmec.db.t").count() === 15L)
    assert(s.table("gmec.db.t").filter(col("v") >= 0L).count() === 15L)
    val p1 = graft.core.VersionLog.entryParses.get()
    assert(p1 === p0, s"repeat reads must hit the entry cache (parses went $p0 -> $p1)")
    s.range(5).selectExpr("id + 100 AS id", "id AS v")
      .coalesce(1).writeTo("gmec.db.t").append()
    assert(s.table("gmec.db.t").count() === 20L)
    val p2 = graft.core.VersionLog.entryParses.get()
    assert(p2 === p1 + 1, s"a new commit must parse only its own marker (parses went $p1 -> $p2)")
    assert(s.table("gmec.db.t").count() === 20L)
    assert(graft.core.VersionLog.entryParses.get() === p2,
      "the fresh marker must now be served from the cache")
  }
}
