package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{expressions => E}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{FileStats, ManifestTable, SparkJobs}

/** Manifest data skipping: per-file min/max/nullCount stats harvested from
  * parquet footers at commit time, stored in the commit marker, and used
  * at scan PLANNING time to drop files no pushed filter can match —
  * plus the bounds evaluator's conservative edges (nulls, all-null files,
  * string prefixes, absent stats) and stats survival through checkpoints
  * and vacuum. */
class StatsSkippingSpec extends AnyFunSuite {

  private lazy val root =
    "file://" + Files.createTempDirectory("graft_catalog_skip_").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false") // stable plan shape for probes
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    GraftCatalog.register(s, "gk", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gk.db")
    s
  }

  /** The data files the physical plan will actually read. */
  private def plannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
      .flatMap {
        case ms: ManifestStreamScan => ms.inner.fileIndex.inputFiles.toSeq
        case ps: ParquetScan        => ps.fileIndex.inputFiles.toSeq
        case _                      => Seq.empty
      }

  private def dir(t: String) = s"$root/db/$t"

  private def liveStats(t: String): Map[String, FileStats.Stats] = {
    val d = dir(t)
    ManifestTable.manifestEntries(d, ManifestTable.currentVersion(d).get)._2
  }

  test("commit harvests footer stats into the marker") {
    spark.sql("CREATE TABLE gk.db.s1 (k BIGINT, s STRING, d DATE, x DOUBLE) USING manifest")
    spark.sql(
      "INSERT INTO gk.db.s1 SELECT id, concat('v', lpad(cast(id as string), 3, '0')), " +
        "date_add(DATE'1994-01-01', cast(id as int)), cast(id as double) FROM range(100)")
    val stats = liveStats("s1")
    assert(stats.nonEmpty, "append must carry stats for its files")
    val merged = stats.values.toSeq
    assert(merged.map(_.rowCount).sum === 100L)
    // k spans 0..99 across the files; per-file bounds must cover it
    val kLongs = merged.flatMap(_.col("k")).flatMap(c =>
      (c.min ++ c.max).collect { case FileStats.LongVal(v) => v })
    assert(kLongs.min === 0L && kLongs.max === 99L)
    assert(merged.exists(_.col("s").exists(_.min.contains(FileStats.StringVal("v000")))))
    // DATE stats are epoch days
    assert(merged.flatMap(_.col("d").flatMap(_.min)).nonEmpty)
    // double columns are deliberately NOT indexed (NaN-silent parquet bounds)
    assert(merged.forall(_.col("x").forall(c => c.min.isEmpty && c.max.isEmpty)))
    // null counts are exact
    assert(merged.forall(_.col("k").exists(_.nullCount.contains(0L))))
  }

  test("selective scans plan only the files whose range can match") {
    spark.sql("CREATE TABLE gk.db.s2 (k BIGINT, s STRING) USING manifest")
    // three appends with disjoint key ranges = three+ files with disjoint bounds
    Seq(0, 1, 2).foreach { i =>
      spark.sql(s"INSERT INTO gk.db.s2 SELECT id + ${i * 1000}, " +
        s"concat('r$i-', id) FROM range(100)")
    }
    val all = plannedFiles(spark.table("gk.db.s2"))
    assert(all.size >= 3, s"need one file per append, got ${all.size}")

    val sel = spark.sql("SELECT * FROM gk.db.s2 WHERE k >= 1000 AND k < 1100")
    val pf = plannedFiles(sel)
    assert(pf.nonEmpty && pf.size < all.size,
      s"stats must prune disjoint-range files: planned ${pf.size} of ${all.size}")
    assert(sel.count() === 100L)

    // point lookup prunes to one append's files
    val point = spark.sql("SELECT * FROM gk.db.s2 WHERE k = 2042")
    assert(plannedFiles(point).size < all.size)
    assert(point.count() === 1L)

    // IN-list across two ranges keeps both, drops the third
    val in2 = spark.sql("SELECT * FROM gk.db.s2 WHERE k IN (5, 2042)")
    assert(plannedFiles(in2).size < all.size)
    assert(in2.count() === 2L)

    // string prefix pruning
    val pre = spark.sql("SELECT * FROM gk.db.s2 WHERE s LIKE 'r1-%'")
    assert(plannedFiles(pre).size < all.size)
    assert(pre.count() === 100L)

    // a filter no file can satisfy plans ZERO files and still answers
    val none = spark.sql("SELECT * FROM gk.db.s2 WHERE k > 100000")
    assert(plannedFiles(none).isEmpty)
    assert(none.count() === 0L)

    // an unpruned query still reads everything
    assert(spark.table("gk.db.s2").count() === 300L)
  }

  test("conservative edges: nulls, all-null files, matching ranges stay") {
    spark.sql("CREATE TABLE gk.db.s3 (k BIGINT, s STRING) USING manifest")
    spark.sql("INSERT INTO gk.db.s3 SELECT id, cast(null as string) FROM range(10)")
    spark.sql("INSERT INTO gk.db.s3 SELECT id + 100, concat('x', id) FROM range(10)")
    val all = plannedFiles(spark.table("gk.db.s3"))

    // IS NULL keeps the all-null file, drops the no-null one
    val isNull = spark.sql("SELECT * FROM gk.db.s3 WHERE s IS NULL")
    assert(plannedFiles(isNull).size < all.size)
    assert(isNull.count() === 10L)

    // IS NOT NULL drops the all-null file
    val notNull = spark.sql("SELECT * FROM gk.db.s3 WHERE s IS NOT NULL")
    assert(plannedFiles(notNull).size < all.size)
    assert(notNull.count() === 10L)

    // a comparison can never be TRUE on an all-null column: file pruned
    val cmpNull = spark.sql("SELECT * FROM gk.db.s3 WHERE s < 'a'")
    assert(plannedFiles(cmpNull).size < all.size)
    assert(cmpNull.count() === 0L)

    // OR across both ranges keeps both files
    val or = spark.sql("SELECT * FROM gk.db.s3 WHERE k = 5 OR k = 105")
    assert(or.count() === 2L)
  }

  test("files without stats are never pruned") {
    val d = dir("s4")
    spark.sql("CREATE TABLE gk.db.s4 (k BIGINT, s STRING) USING manifest")
    spark.sql("INSERT INTO gk.db.s4 SELECT id, concat('a', id) FROM range(10)")
    // adopt a file through a raw LEGACY commit (no stats harvested —
    // simulate by committing a marker with the stats stripped)
    spark.sql("INSERT INTO gk.db.s4 SELECT id + 1000, concat('b', id) FROM range(10)")
    val v = ManifestTable.currentVersion(d).get
    val fs = graft.core.LakeStorage.openFor(d)
    val markerPath = new org.apache.hadoop.fs.Path(d, f"_commit_$v%020d")
    val text = {
      val in = fs.open(markerPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    import org.json4s.jackson.JsonMethods
    val stripped = JsonMethods.parse(text) match {
      case o: org.json4s.JObject =>
        JsonMethods.compact(JsonMethods.render(
          org.json4s.JObject(o.obj.filterNot(_._1 == "st"))))
      case other => fail(s"unexpected marker $other")
    }
    fs.delete(markerPath, false)
    val out = fs.create(markerPath, true)
    try out.write(stripped.getBytes("UTF-8")) finally out.close()

    // the stats-less file survives a filter that excludes its true range
    val sel = spark.sql("SELECT * FROM gk.db.s4 WHERE k < 5")
    val planned = plannedFiles(sel)
    assert(ManifestTable.manifestEntries(d, v)._2.keySet.forall(f =>
      !f.contains("1000")), "stripped marker must carry no stats")
    assert(planned.size >= 2, "a file without stats must always be scanned")
    assert(sel.count() === 5L)
  }

  test("stats survive checkpoints and vacuum") {
    val d = dir("s5")
    spark.sql("CREATE TABLE gk.db.s5 (k BIGINT) USING manifest")
    // cross the checkpoint interval (10) so resolution anchors at a checkpoint
    (0 until 12).foreach { i =>
      spark.sql(s"INSERT INTO gk.db.s5 SELECT id + ${i * 100} FROM range(10)")
    }
    ManifestTable.vacuum(d, keep = 2)
    val stats = liveStats("s5")
    assert(stats.nonEmpty, "checkpoint-anchored resolution must keep stats")
    val all = plannedFiles(spark.table("gk.db.s5"))
    val sel = spark.sql("SELECT * FROM gk.db.s5 WHERE k BETWEEN 500 AND 509")
    assert(plannedFiles(sel).size < all.size)
    assert(sel.count() === 10L)
  }

  test("DML interplay: rewritten files carry fresh stats; discovery skips") {
    val d = dir("s6")
    spark.sql("CREATE TABLE gk.db.s6 (k BIGINT, s STRING) USING manifest")
    spark.sql("INSERT INTO gk.db.s6 SELECT id, concat('a', id) FROM range(100)")
    spark.sql("INSERT INTO gk.db.s6 SELECT id + 1000, concat('b', id) FROM range(100)")
    val before = ManifestTable.currentVersion(d).get
    // fast-path DELETE whose condition is outside every file's range:
    // stats prove no file is affected — no rewrite, no new version
    spark.sql("DELETE FROM gk.db.s6 WHERE k > 50000")
    assert(ManifestTable.currentVersion(d).get === before,
      "a provably-no-op DELETE must not commit")
    // a real DELETE rewrites only the matching file; its rewrite gets stats
    spark.sql("DELETE FROM gk.db.s6 WHERE k BETWEEN 1000 AND 1049")
    assert(spark.table("gk.db.s6").count() === 150L)
    val stats = liveStats("s6")
    assert(stats.nonEmpty)
    // skipping still effective after the rewrite
    val all = plannedFiles(spark.table("gk.db.s6"))
    val sel = spark.sql("SELECT * FROM gk.db.s6 WHERE k < 100")
    assert(plannedFiles(sel).size < all.size)
    assert(sel.count() === 100L)
  }

  test("time travel and incremental reads skip on the same stats") {
    val d = dir("s7")
    spark.sql("CREATE TABLE gk.db.s7 (k BIGINT) USING manifest")
    spark.sql("INSERT INTO gk.db.s7 SELECT id FROM range(100)")
    val v1 = ManifestTable.currentVersion(d).get
    spark.sql("INSERT INTO gk.db.s7 SELECT id + 1000 FROM range(100)")
    spark.sql("INSERT INTO gk.db.s7 SELECT id + 2000 FROM range(100)")
    // VERSION AS OF still prunes within the old snapshot
    val tt = spark.sql(s"SELECT * FROM gk.db.s7 VERSION AS OF $v1 WHERE k < 10")
    assert(tt.count() === 10L)
    // incremental read over (v1, head] with a filter excluding one window file
    val inc = spark.read.option("start_version", v1).table("gk.db.s7")
      .where("k >= 2000")
    val plannedInc = plannedFiles(inc)
    val plannedAll = plannedFiles(
      spark.read.option("start_version", v1).table("gk.db.s7"))
    assert(plannedInc.size < plannedAll.size,
      "CDC window scans must skip by stats too")
    assert(inc.count() === 100L)
  }

  test("clusterBy compaction turns an unprunable layout into a prunable one") {
    val d = dir("s9")
    spark.sql("CREATE TABLE gk.db.s9 (k BIGINT, pad STRING) USING manifest")
    // three interleaved single-file inserts (k ≡ r mod 3): every file
    // spans the whole key range, so no filter can prune anything
    Seq(0, 1, 2).foreach { r =>
      spark.range(3000)
        .selectExpr(s"id * 3 + $r AS k", "repeat(uuid(), 4) AS pad")
        .coalesce(1).writeTo("gk.db.s9").append()
    }
    val all = plannedFiles(spark.table("gk.db.s9"))
    val q = "SELECT * FROM gk.db.s9 WHERE k BETWEEN 4000 AND 4300"
    assert(plannedFiles(spark.sql(q)).size === all.size,
      "interleaved layout: stats cannot prune")
    val expected = spark.sql(q).count()
    // OPTIMIZE ... ZORDER analogue: range-cluster the rewrite on k (small
    // target size forces several files, each covering a narrow k range)
    ManifestTable.compact(spark, d, targetFileBytes = 64 * 1024,
      clusterBy = Seq("k"))
    val allAfter = plannedFiles(spark.table("gk.db.s9"))
    assert(allAfter.size >= 3, s"compaction must emit several files, got ${allAfter.size}")
    val planned = plannedFiles(spark.sql(q))
    assert(planned.nonEmpty && planned.size < allAfter.size,
      s"clustered layout must prune: ${planned.size} of ${allAfter.size}")
    assert(spark.sql(q).count() === expected)
  }

  test("t.files surfaces log row counts; scans report exact numRows") {
    spark.sql("CREATE TABLE gk.db.s8 (k BIGINT) USING manifest")
    spark.sql("INSERT INTO gk.db.s8 SELECT id FROM range(100)")
    spark.sql("INSERT INTO gk.db.s8 SELECT id + 1000 FROM range(50)")
    val rows = spark.sql("SELECT row_count FROM gk.db.s8.files").collect()
    assert(rows.forall(!_.isNullAt(0)), "every committed file must carry stats")
    assert(rows.map(_.getLong(0)).sum === 150L)
    // the scan's v2 statistics carry the exact cardinality from the log
    val scans = spark.table("gk.db.s8").queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    val numRows = scans.collectFirst {
      case ms: ManifestStreamScan => ms.estimateStatistics().numRows()
    }
    assert(numRows.exists(n => n.isPresent && n.getAsLong === 150L),
      s"scan must report exact stats-derived numRows, got $numRows")
    // a pruned scan reports the planned subset's cardinality
    val pruned = spark.sql("SELECT * FROM gk.db.s8 WHERE k >= 1000")
      .queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
      .collectFirst { case ms: ManifestStreamScan => ms.estimateStatistics().numRows() }
    assert(pruned.exists(n => n.isPresent && n.getAsLong === 50L))
  }

  test("unfiltered COUNT(*) is metadata-only: answered from the log, no file opened") {
    spark.sql("CREATE TABLE gk.db.mc (id BIGINT, v STRING) USING manifest " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO gk.db.mc SELECT id, CAST(id AS STRING) FROM range(100)")
    spark.sql("INSERT INTO gk.db.mc SELECT id, CAST(id AS STRING) FROM range(100, 250)")
    def run(sql: String): (Long, org.apache.spark.sql.execution.SparkPlan) = {
      val df = spark.sql(sql)
      val n = df.collect()(0).getLong(0) // collect: evidence reads THIS execution
      (n, df.queryExecution.executedPlan)
    }
    val (n1, p1) = run("SELECT count(*) FROM gk.db.mc")
    assert(n1 === 250L)
    assert(p1.toString.contains("LocalTableScan"),
      s"count(*) must serve from the log:\n$p1")
    assert(p1.collect { case b: BatchScanExec => b }.isEmpty,
      s"metadata count must not plan a file scan:\n$p1")
    // time travel counts the SNAPSHOT's files, still metadata-only
    val (nv, pv) = run("SELECT count(*) FROM gk.db.mc VERSION AS OF 1")
    assert(nv === 100L)
    assert(pv.toString.contains("LocalTableScan"), s"travelled count:\n$pv")
    // a data filter disables the fast path (a real scan plans) and stays exact
    val (nf, pf) = run("SELECT count(*) FROM gk.db.mc WHERE id >= 200")
    assert(nf === 50L)
    assert(pf.collect { case b: BatchScanExec => b }.nonEmpty,
      s"filtered count must scan:\n$pf")
    // MIN/MAX/COUNT(col) on an integral column serve from the log bounds
    val mm = spark.sql("SELECT min(id), max(id), count(id) FROM gk.db.mc")
    val mmRow = mm.collect()(0)
    assert((mmRow.getLong(0), mmRow.getLong(1), mmRow.getLong(2)) === ((0L, 249L, 250L)))
    val mmPlan = mm.queryExecution.executedPlan
    assert(mmPlan.toString.contains("LocalTableScan") &&
      mmPlan.collect { case b: BatchScanExec => b }.isEmpty,
      s"min/max/count(col) must serve from the log:\n$mmPlan")
    // a string column's bounds are not served (only loss-less integral
    // stats are) — falls through to a real scan, still exact
    val sm = spark.sql("SELECT max(v) FROM gk.db.mc")
    assert(sm.collect()(0).getString(0) === "99")
    // COUNT(*) stays metadata-only under pending deletion vectors: the
    // log records each vector's exact cardinality (stored − vectored =
    // live); MIN/MAX refuse (the vector may have deleted the extreme row)
    spark.sql("DELETE FROM gk.db.mc WHERE id % 10 = 0")
    val (nd, pd) = run("SELECT count(*) FROM gk.db.mc")
    assert(nd === 225L)
    assert(pd.toString.contains("LocalTableScan"),
      s"vectored count must serve stored − vectored from the log:\n$pd")
    val mmd = spark.sql("SELECT min(id) FROM gk.db.mc")
    assert(mmd.collect()(0).getLong(0) === 1L)
    assert(mmd.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.nonEmpty,
      "vectored min must fall back to a real read")
    // purging the vectors rewrites survivors with fresh stats: served again
    spark.sql("CALL gk.system.purge_deletes('db.mc')")
    val (np, pp) = run("SELECT count(*) FROM gk.db.mc")
    assert(np === 225L)
    assert(pp.toString.contains("LocalTableScan"),
      s"post-purge count must serve from the log again:\n$pp")
    // an all-null integral column serves NULL bounds (nothing constrains)
    spark.sql("CREATE TABLE gk.db.mcn (id BIGINT, y BIGINT) USING manifest")
    spark.sql("INSERT INTO gk.db.mcn SELECT id, CAST(null AS BIGINT) FROM range(10)")
    val nul = spark.sql("SELECT min(y), max(y), count(y), count(*) FROM gk.db.mcn")
    val nulRow = nul.collect()(0)
    assert(nulRow.isNullAt(0) && nulRow.isNullAt(1) &&
      nulRow.getLong(2) === 0L && nulRow.getLong(3) === 10L)
    assert(nul.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "all-null bounds must still serve from the log")
    // DATE bounds serve too (the log indexes dates as epoch days)
    spark.sql("CREATE TABLE gk.db.mcd (d DATE) USING manifest")
    spark.sql("INSERT INTO gk.db.mcd " +
      "SELECT date_add(DATE'2020-01-01', CAST(id AS INT)) FROM range(10)")
    val dt = spark.sql("SELECT min(d), max(d) FROM gk.db.mcd")
    assert(dt.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "date bounds must serve from the log")
    val dtRow = dt.collect()(0)
    assert(dtRow.getDate(0).toString === "2020-01-01" &&
      dtRow.getDate(1).toString === "2020-01-10")
  }

  test("grouped aggregates serve from the log when group columns are file-constant") {
    spark.sql("CREATE TABLE gk.db.mg (lang STRING, id BIGINT) USING manifest")
    // one commit per language: every file is lang-constant (the per-source
    // append layout), so per-file stats identify each file's group exactly
    Seq(("en", 0, 10), ("de", 100, 20), ("fr", 200, 30)).foreach {
      case (l, base, n) =>
        spark.sql(s"INSERT INTO gk.db.mg SELECT '$l', id + $base FROM range($n)")
    }
    def grouped() = spark.sql("SELECT lang, count(*) AS n, min(id) AS mn, " +
      "max(id) AS mx FROM gk.db.mg GROUP BY lang")
    val g = grouped()
    val rows = g.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.toSeq === Seq(("de", 20L, 100L, 119L), ("en", 10L, 0L, 9L),
      ("fr", 30L, 200L, 229L)))
    assert(g.queryExecution.executedPlan.toString.contains("LocalTableScan") &&
      g.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.isEmpty,
      s"grouped agg must serve from the log:\n${g.queryExecution.executedPlan}")
    // an all-null file forms the NULL group
    spark.sql("INSERT INTO gk.db.mg SELECT CAST(null AS STRING), id + 400 FROM range(5)")
    val withNull = grouped()
    val nullRow = withNull.collect().find(_.isNullAt(0))
    assert(nullRow.exists(r => r.getLong(1) === 5L && r.getLong(2) === 400L))
    assert(withNull.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    // ONE mixed file (two languages) refuses the whole pushdown — a real
    // scan plans and the answer stays exact
    spark.range(0, 10).coalesce(1)
      .selectExpr("CASE WHEN id < 5 THEN 'en' ELSE 'de' END AS lang",
        "id + 300 AS id")
      .writeTo("gk.db.mg").append()
    val mixed = grouped()
    assert(mixed.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.nonEmpty,
      "a group-mixed file must refuse the metadata path")
    val after = mixed.collect().filter(!_.isNullAt(0))
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(after.toSeq === Seq(("de", 25L), ("en", 15L), ("fr", 30L)))
    // a group whose EVERY stored row is vector-deleted does not exist:
    // the served fold must drop it, not emit a zero-count row
    spark.sql("CREATE TABLE gk.db.mgdv (lang STRING, id BIGINT) USING manifest " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    Seq(("en", 0), ("de", 100)).foreach { case (l, base) =>
      spark.sql(s"INSERT INTO gk.db.mgdv SELECT '$l', id + $base FROM range(10)")
    }
    spark.sql("DELETE FROM gk.db.mgdv WHERE lang = 'en'") // full-file vector
    val gdv = spark.sql(
      "SELECT lang, count(*) AS n FROM gk.db.mgdv GROUP BY lang")
    val gdvRows = gdv.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(gdvRows.toSeq === Seq(("de", 10L)),
      s"fully-vectored group must vanish, got ${gdvRows.toSeq}")
    assert(gdv.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "vectored grouped count must still serve from the log")
  }

  test("metadata-served aggregates finish in one Spark job; unservable ones keep Spark's aggregate") {
    spark.sql("CREATE TABLE gk.db.mj (lang STRING, id BIGINT) USING manifest " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    Seq(("en", 0, 10), ("de", 100, 20)).foreach { case (l, base, n) =>
      spark.sql(s"INSERT INTO gk.db.mj SELECT '$l', id + $base FROM range($n)")
    }
    spark.sql("CREATE TABLE gk.db.mje (lang STRING, id BIGINT) USING manifest")
    // with AQE on, a partial pushdown's exchange would run as a job of its own
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      def served(sql: String): Seq[Seq[Any]] = {
        val df = spark.sql(sql)
        val (rows, jobs) = SparkJobs.counted(spark)(df.collect())
        val plan = df.queryExecution.executedPlan.toString
        assert(jobs === 1, s"$sql ran $jobs jobs:\n$plan")
        assert(plan.contains("LocalTableScan") && !plan.contains("Exchange") &&
          !plan.contains("HashAggregate"), s"$sql:\n$plan")
        rows.toSeq.map(_.toSeq).sortBy(_.mkString(","))
      }
      assert(served("SELECT count(*) FROM gk.db.mj") === Seq(Seq(30L)))
      assert(served("SELECT min(id), max(id) FROM gk.db.mj") === Seq(Seq(0L, 119L)))
      assert(served("SELECT lang, count(*) FROM gk.db.mj GROUP BY lang") ===
        Seq(Seq("de", 20L), Seq("en", 10L)))
      assert(served("SELECT count(*) FROM gk.db.mje") === Seq(Seq(0L)))
      assert(served("SELECT min(id), max(id) FROM gk.db.mje") === Seq(Seq(null, null)))
      assert(served("SELECT lang, count(*) FROM gk.db.mje GROUP BY lang") === Seq.empty)
      def aggregated(sql: String): Row = {
        val df = spark.sql(sql)
        val row = df.collect().head
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("HashAggregate") && plan.contains("BatchScan"), s"$sql:\n$plan")
        row
      }
      assert(aggregated("SELECT sum(id) FROM gk.db.mj").getLong(0) === (0L until 10L).sum + (100L until 120L).sum)
      spark.sql("DELETE FROM gk.db.mj WHERE id % 10 = 0")
      assert(aggregated("SELECT count(id) FROM gk.db.mj").getLong(0) === 27L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("streaming micro-batches skip files by stats and still answer exactly") {
    val d = dir("s10")
    spark.sql("CREATE TABLE gk.db.s10 (k BIGINT) USING manifest")
    spark.range(100).selectExpr("id AS k")
      .coalesce(1).writeTo("gk.db.s10").append()                       // v1
    spark.range(100).selectExpr("id + 1000 AS k")
      .coalesce(1).writeTo("gk.db.s10").append()                       // v2
    val declared = StructType(Seq(StructField("k", LongType)))
    val filt = E.GreaterThanOrEqual(
      E.AttributeReference("k", LongType)(), E.Literal(1000L))
    def parts(filters: Seq[E.Expression]): Int =
      new ManifestMicroBatchStream(d, declared, declared, 0L, filters)
        .planInputPartitions(ManifestVersionOffset(0L), ManifestVersionOffset(2L))
        .length
    assert(parts(Seq(filt)) < parts(Nil),
      "a filtered stream must plan fewer files than an unfiltered one")

    // end-to-end: the filtered stream drains to exactly the matching rows
    val out = java.nio.file.Files.createTempDirectory("graft_skip_stream_").toString
    val q = spark.readStream.table("gk.db.s10").where("k >= 1000")
      .writeStream.format("parquet")
      .option("path", s"$out/data").option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.read.parquet(s"$out/data")
    assert(got.count() === 100L)
    assert(got.agg(org.apache.spark.sql.functions.min("k")).head().getLong(0) === 1000L)
  }

  test("scheme-less table roots read correctly (path qualification)") {
    // Verify/Bench register catalogs on raw /tmp paths (no file:// scheme);
    // the log-served file index must qualify its paths or the base index's
    // qualified lookups silently match nothing (zero-row scans)
    val s = spark.newSession()
    GraftCatalog.register(s, "gkq",
      java.nio.file.Files.createTempDirectory("graft_skip_plain_").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gkq.db")
    s.sql("CREATE TABLE gkq.db.p (k BIGINT) USING manifest")
    s.sql("INSERT INTO gkq.db.p SELECT id FROM range(50)")
    assert(s.table("gkq.db.p").count() === 50L)
    assert(s.sql("SELECT * FROM gkq.db.p WHERE k < 10").count() === 10L)
  }

  test("bounds evaluator: conservative by construction") {
    import FileStats._
    val s = Stats(10, Map(
      "k" -> ColStats(Some(LongVal(10)), Some(LongVal(20)), Some(0L)),
      "s" -> ColStats(Some(StringVal("mm")), None, Some(2L)), // unknown upper bound
      "n" -> ColStats(None, None, Some(10L)))) // all-null

    def attr(n: String, dt: DataType) = E.AttributeReference(n, dt)()
    def lit(v: Any, dt: DataType) = E.Literal.create(v, dt)

    assert(!mayMatch(E.EqualTo(attr("k", LongType), lit(9L, LongType)), s))
    assert(mayMatch(E.EqualTo(attr("k", LongType), lit(10L, LongType)), s))
    assert(!mayMatch(E.GreaterThan(attr("k", LongType), lit(20L, LongType)), s))
    assert(mayMatch(E.GreaterThanOrEqual(attr("k", LongType), lit(20L, LongType)), s))
    assert(!mayMatch(E.LessThan(attr("k", LongType), lit(10L, LongType)), s))
    // unknown upper bound: only lower-bound prunes apply
    assert(!mayMatch(E.LessThan(attr("s", StringType), lit("m", StringType)), s))
    assert(mayMatch(E.GreaterThan(attr("s", StringType), lit("zzz", StringType)), s))
    // all-null column: no comparison can be TRUE, IS NULL can
    assert(!mayMatch(E.EqualTo(attr("n", LongType), lit(1L, LongType)), s))
    assert(mayMatch(E.IsNull(attr("n", LongType)), s))
    assert(!mayMatch(E.IsNotNull(attr("n", LongType)), s))
    // unknown columns never prune
    assert(mayMatch(E.EqualTo(attr("zz", LongType), lit(1L, LongType)), s))
    // JSON round trip preserves everything
    assert(parse(render(s)).contains(s))

    // the COMPILED runtime pruner (sorted-IN range check) agrees with the
    // per-value evaluator on every edge
    import org.apache.spark.sql.{sources => S}
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("n", LongType)))
    def compiled(f: S.Filter): Boolean =
      FileStats.compileFilterPruner(Seq(f), schema)(s)
    def perValue(f: S.Filter): Boolean = FileStats.mayMatchFilter(f, s, schema)
    val inCases = Seq[S.Filter](
      S.In("k", Array(1L, 2L, 9L)),            // all below min → prune
      S.In("k", Array(21L, 30L)),              // all above max → prune
      S.In("k", Array(9L, 21L)),               // straddles, none inside → prune
      S.In("k", Array(9L, 15L, 21L)),          // one inside → keep
      S.In("k", Array(10L)), S.In("k", Array(20L)), // boundary hits → keep
      S.In("k", Array[Any](null, 15L).map(_.asInstanceOf[Any])), // null + hit
      S.In("k", Array[Any](null)),             // only null → prune
      S.In("n", Array(1L, 2L)),                // all-null column → prune
      S.In("zz", Array(1L)),                   // unknown column → keep
      S.In("s", Array("aa", "zz")),            // unbounded max: keep
      S.In("s", Array("aa", "ll")))            // below min only → prune
    inCases.foreach { f =>
      assert(compiled(f) === perValue(f), s"compiled != per-value for $f")
    }
    assert(!compiled(S.In("k", Array(1L, 2L, 9L))))
    assert(compiled(S.In("k", Array(9L, 15L, 21L))))
    // non-IN shapes delegate to the same evaluator
    assert(compiled(S.And(S.GreaterThan("k", 5L), S.LessThan("k", 12L))))
    assert(!compiled(S.GreaterThan("k", 25L)))
  }

  test("restatFiles: stats-only backfill — no rewrite, idempotent, live set untouched") {
    import org.apache.spark.sql.functions._
    spark.sql("CREATE TABLE gk.db.restat (k BIGINT, v STRING) USING manifest")
    spark.sql("INSERT INTO gk.db.restat SELECT id, CAST(id AS STRING) FROM range(100)")
    spark.sql("INSERT INTO gk.db.restat SELECT id + 100, CAST(id AS STRING) FROM range(100)")
    val dir = s"$root/db/restat"
    val v0 = ManifestTable.currentVersion(dir).get
    val (files0, stats0) = ManifestTable.manifestEntries(dir, v0)
    assert(files0.nonEmpty)
    assert(stats0.values.forall(_.col("k").forall(_.ndvSketch.isEmpty)),
      "pre-declaration files must carry no sketches")
    // declare late, then backfill as a stats-only commit
    spark.sql("ALTER TABLE gk.db.restat SET TBLPROPERTIES " +
      s"('${GraftCatalog.NdvColsProp}'='k')")
    val (v1, n1) = ManifestTable.restatFiles(dir, Seq("k"))
    assert(n1 == files0.size, "every pre-declaration file restats")
    assert(v1 == v0 + 1)
    val (files1, stats1) = ManifestTable.manifestEntries(dir, v1)
    assert(files1.sorted == files0.sorted, "stats-only commit moves no files")
    assert(files1.forall(f => stats1(f).col("k").exists(_.ndvSketch.isDefined)),
      "every live file now carries the sketch")
    // idempotent: nothing missing → no commit at all
    val (v2, n2) = ManifestTable.restatFiles(dir, Seq("k"))
    assert(n2 == 0 && v2 == v1)
    // mode=all recomputes everything (one more version, same file set)
    val (v3, n3) = ManifestTable.restatFiles(dir, Seq("k"), onlyMissing = false)
    assert(n3 == files0.size && v3 == v1 + 1)
    // contents never changed
    assert(spark.table("gk.db.restat").agg(sum("k")).head.getLong(0) ==
      (0L until 200L).sum)
    // procedure-level guards are loud
    val e = intercept[Exception](spark.sql(
      "CALL gk.system.collect_stats('db.restat', mode => 'sometimes')"))
    assert(e.getMessage.contains("missing") && e.getMessage.contains("all"))
    spark.sql("CREATE TABLE gk.db.nodecl (k BIGINT) USING manifest")
    val e2 = intercept[Exception](spark.sql(
      "CALL gk.system.collect_stats('db.nodecl')"))
    assert(e2.getMessage.contains("declares no stat columns"))
  }

  test("collect_stats(columns => ...) declares and backfills in one call (the ANALYZE workflow)") {
    import org.apache.spark.sql.functions._
    // the `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` workflow as
    // one procedure call (Spark's SQL spelling hard-refuses v2 tables in
    // ResolveSessionCatalog, so the procedure is the front door)
    spark.sql("CREATE TABLE gk.db.an (k BIGINT, v STRING) USING manifest")
    spark.sql("INSERT INTO gk.db.an SELECT id, CAST(id AS STRING) FROM range(150)")
    val dir = s"$root/db/an"
    val row = spark.sql("CALL gk.system.collect_stats('db.an', columns => 'k')").head()
    assert(row.getLong(1) > 0, "pre-declaration files must backfill")
    // the declaration landed (future writes sketch) AND history carries it
    def declared(): String = spark.sql("SHOW TBLPROPERTIES gk.db.an").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
      .getOrElse(GraftCatalog.NdvColsProp, "")
    assert(declared() == "k")
    val v = ManifestTable.currentVersion(dir).get
    val (files, stats) = ManifestTable.manifestEntries(dir, v)
    assert(files.nonEmpty &&
      files.forall(f => stats(f).col("k").exists(_.ndvSketch.isDefined)),
      "every live file serves the sketch after the one-call path")
    // a later call MERGES new columns into the declaration (k kept)
    spark.sql("CALL gk.system.collect_stats('db.an', columns => 'v')")
    assert(declared().split(",").toSet == Set("k", "v"))
    // unknown columns refuse through the same validation the ALTER runs
    val e3 = intercept[Exception](spark.sql(
      "CALL gk.system.collect_stats('db.an', columns => 'nope')"))
    assert(e3.getMessage.contains("nope"))
    // contents untouched by any of it
    assert(spark.table("gk.db.an").agg(sum("k")).head.getLong(0) ==
      (0L until 150L).sum)
  }
}
