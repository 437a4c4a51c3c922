package graft.core

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** File-manifest-committed table versions: commit visibility, append
  * without rewrite, optimistic multi-writer commits, vacuum keep-window
  * and orphan removal, compact round-trip (incl. rebase over a concurrent
  * append), and — the property the manifest exists for — a reader loop
  * concurrent with compaction never observing missing or partial data. */
class ManifestTableSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def freshDir(): String =
    "file://" + Files.createTempDirectory("graft_manifest_").toString

  private def df(n: Int, parts: Int = 4) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"row$i")).toDF("id", "v").repartition(parts)
  }

  /** An orphan data pool: parquet written into a `d-` dir with no manifest
    * referencing it — what a writer crash before commit leaves behind. */
  private def writeOrphanPool(dir: String, n: Int): String = {
    val pool = s"$dir/d-orphan-probe-$n"
    df(n).write.parquet(pool)
    pool
  }

  test("no committed version: currentVersion None, read throws") {
    val dir = freshDir()
    assert(ManifestTable.currentVersion(dir).isEmpty)
    intercept[IllegalStateException](ManifestTable.read(spark, dir))
  }

  test("write commits monotonically increasing versions; read sees the latest") {
    val dir = freshDir()
    assert(ManifestTable.write(df(10), dir) === 1L)
    assert(ManifestTable.write(df(25), dir) === 2L)
    assert(ManifestTable.currentVersion(dir) === Some(2L))
    assert(ManifestTable.read(spark, dir).count() === 25L)
  }

  test("head pointer: O(1) resolution when fresh; stale/corrupt/absent recover") {
    val dir = freshDir()
    (1 to 25).foreach(i => ManifestTable.append(df(i), dir))
    // fresh pointer (written by the last commit): constant probes however
    // many versions are retained — pointer read + marker hit + one miss
    val (head, probes) = ManifestTable.currentVersionProbed(dir)
    assert(head === Some(25L))
    assert(probes === 3, s"expected 3 fs ops with a fresh pointer, got $probes")
    val fs = LakeStorage.openFor(dir)
    val ptr = new Path(dir, "_head")
    // stale pointer (k commits behind): k+1 forward probes, correct head
    val out = fs.create(ptr, true)
    try out.write("""{"v":20}""".getBytes("UTF-8")) finally out.close()
    val (h2, p2) = ManifestTable.currentVersionProbed(dir)
    assert(h2 === Some(25L) && p2 === 2 + 5 + 1, s"stale-pointer probes: $p2")
    // corrupt pointer: falls back to the listing, still correct
    val out2 = fs.create(ptr, true)
    try out2.write("not json".getBytes("UTF-8")) finally out2.close()
    assert(ManifestTable.currentVersionProbed(dir)._1 === Some(25L))
    // pointer ahead of reality (marker missing): fallback, still correct
    val out3 = fs.create(ptr, true)
    try out3.write("""{"v":99}""".getBytes("UTF-8")) finally out3.close()
    assert(ManifestTable.currentVersionProbed(dir)._1 === Some(25L))
    // absent pointer: fallback; the next commit rewrites it
    fs.delete(ptr, false)
    assert(ManifestTable.currentVersionProbed(dir)._1 === Some(25L))
    ManifestTable.append(df(1), dir)
    val (h3, p3) = ManifestTable.currentVersionProbed(dir)
    assert(h3 === Some(26L) && p3 === 3, "commit must refresh the pointer")
  }

  test("a reader waits out a claimed-but-unfilled marker instead of throwing") {
    val dir = freshDir()
    ManifestTable.write(df(10), dir)
    val added = ManifestTable.stagePool(df(5), dir)
    // a committer claims v2 with an empty marker and fills it ~100 ms later
    val marker = new java.io.File(new java.net.URI(s"$dir/_commit_${"%020d".format(2L)}")).toPath
    Files.createFile(marker)
    val body = added.map(f => "\"" + f + "\"").mkString("""{"a":[""", ",", """],"r":[]}""")
    val filler = new Thread(() => {
      Thread.sleep(100)
      Files.write(marker, body.getBytes("UTF-8")); ()
    })
    filler.start()
    try assert(ManifestTable.read(spark, dir).count() === 15L)
    finally filler.join()
    assert(ManifestTable.currentVersion(dir) === Some(2L))
  }

  test("append commits only delta files; base files are re-listed, not rewritten") {
    val dir = freshDir()
    ManifestTable.write(df(10), dir)
    val v1Files = ManifestTable.manifest(dir, 1L).toSet
    assert(ManifestTable.append(df(5), dir) === 2L)
    val v2Files = ManifestTable.manifest(dir, 2L).toSet
    assert(v1Files.subsetOf(v2Files), "append must re-list the base files")
    assert((v2Files -- v1Files).nonEmpty, "append must add its delta files")
    assert(ManifestTable.read(spark, dir).count() === 15L)
    assert(ManifestTable.read(spark, dir, Some(1L)).count() === 10L)
  }

  test("time travel: any unvacuumed committed version stays readable; others reject") {
    val dir = freshDir()
    ManifestTable.write(df(10), dir)
    ManifestTable.write(df(25), dir)
    ManifestTable.write(df(40), dir)
    assert(ManifestTable.allVersions(dir) === Seq(1L, 2L, 3L))
    assert(ManifestTable.read(spark, dir, Some(1L)).count() === 10L)
    assert(ManifestTable.read(spark, dir, Some(2L)).count() === 25L)
    assert(ManifestTable.read(spark, dir).count() === 40L)
    // an uncommitted version number must reject, not resolve to anything
    writeOrphanPool(dir, 99)
    intercept[IllegalStateException](ManifestTable.read(spark, dir, Some(4L)))
    // vacuumed-away version rejects too (marker removed with the data)
    ManifestTable.vacuum(dir, keep = 2)
    intercept[IllegalStateException](ManifestTable.read(spark, dir, Some(1L)))
    assert(ManifestTable.read(spark, dir, Some(2L)).count() === 25L)
  }

  test("reads resolve through the log: no directory listing on any read path") {
    val s = spark.newSession()
    val root = Files.createTempDirectory("graft_resolve_root_").toString
    graft.catalog.GraftCatalog.register(s, "gres", root)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gres.db")
    s.sql("CREATE TABLE gres.db.t (id BIGINT) USING manifest")
    val head = 2 * VersionLog.AnchorInterval + 2 // past two anchors
    (1L to head).foreach(i => s.sql(s"INSERT INTO gres.db.t VALUES ($i)"))
    val dir = s"$root/db/t"
    assert(ManifestTable.currentVersionProbed(dir) === ((Some(head), 3)),
      "the last commit must leave a fresh head pointer")
    def listingsOf[T](what: String)(body: => T): T = {
      val before = VersionLog.listings.get()
      val out = body
      assert(VersionLog.listings.get() === before, s"$what listed the table directory")
      out
    }
    val sum = (1L to head).sum
    assert(listingsOf("ManifestTable.read")(ManifestTable.read(s, dir).count()) === head)
    assert(listingsOf("a catalog SELECT")(
      s.sql("SELECT sum(id) FROM gres.db.t").head().getLong(0)) === sum)
    assert(listingsOf("VERSION AS OF")(
      s.sql("SELECT sum(id) FROM gres.db.t VERSION AS OF 3").head().getLong(0)) === 6L)
    assert(listingsOf("a start_version read")(
      s.read.option("start_version", (head - 2).toString).table("gres.db.t")
        .agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)) === 2 * head - 1)
    // rejections still name the versions: vacuumed and never-committed
    s.sql("CALL gres.system.vacuum('db.t', keep => 2, orphan_retain_ms => 0)")
    Seq(1L, head + 1).foreach { v =>
      val e = intercept[Exception] {
        s.sql(s"SELECT * FROM gres.db.t VERSION AS OF $v").collect()
      }
      assert(e.getMessage.contains("not committed"), e.getMessage)
    }
  }

  test("an unreferenced data pool is invisible to readers") {
    val dir = freshDir()
    ManifestTable.write(df(10), dir)
    // simulate a crash between data write and marker
    writeOrphanPool(dir, 99)
    assert(ManifestTable.currentVersion(dir) === Some(1L))
    assert(ManifestTable.read(spark, dir).count() === 10L)
  }

  test("compact rewrites into fewer files as a new committed version, rows preserved") {
    val dir = freshDir()
    ManifestTable.write(df(200, parts = 16), dir)
    val (before, after) = ManifestTable.compact(spark, dir)
    assert(before === 16L)
    assert(after < before)
    assert(ManifestTable.currentVersion(dir) === Some(2L))
    assert(ManifestTable.read(spark, dir).count() === 200L)
  }

  test("vacuum removes expired versions and aged crash orphans, keeps the grace window") {
    val dir = freshDir()
    ManifestTable.write(df(10), dir)  // v1
    ManifestTable.write(df(20), dir)  // v2
    ManifestTable.write(df(30), dir)  // v3
    val orphan = writeOrphanPool(dir, 5)
    val fs = LakeStorage.openFor(dir)
    // age the orphan past the retention window: a genuinely dead crash
    // leftover, not a writer's in-flight staging pool
    fs.setTimes(new Path(orphan), 1000L, -1L)
    val v2Pool = new Path(dir, ManifestTable.manifest(dir, 2L).head).getParent
    val v3Pool = new Path(dir, ManifestTable.manifest(dir, 3L).head).getParent
    val removed = ManifestTable.vacuum(dir, keep = 2)
    assert(removed === 2) // v1's pool + the aged orphan; v2 grace; v3 current
    assert(!fs.exists(new Path(orphan)))
    assert(fs.exists(v2Pool))
    assert(fs.exists(v3Pool))
    assert(ManifestTable.read(spark, dir).count() === 30L)
    // marker below the keep-window is gone too
    assert(ManifestTable.allVersions(dir) === Seq(2L, 3L))
  }

  test("vacuum spares a FRESH never-committed pool (concurrent writer's staging area)") {
    val dir = freshDir()
    ManifestTable.write(df(10), dir)  // v1
    ManifestTable.write(df(20), dir)  // v2
    ManifestTable.write(df(30), dir)  // v3
    // an in-flight writer has staged its pool but not yet committed: the
    // pool is unreferenced, but deleting it would corrupt the writer's
    // imminent commit (manifest pointing at deleted files)
    val inFlight = writeOrphanPool(dir, 7)
    val fs = LakeStorage.openFor(dir)
    val removed = ManifestTable.vacuum(dir, keep = 2)
    assert(removed === 1) // only v1's (committed, expired) pool
    assert(fs.exists(new Path(inFlight)), "fresh staging pool must survive vacuum")
    // the spared pool can still be committed afterwards — the scenario
    // the retention window exists to protect
    val staged = fs.listStatus(new Path(inFlight))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s"${new Path(inFlight).getName}/${s.getPath.getName}").toSeq.sorted
    ManifestTable.commitStagedAppend(dir, staged)
    assert(ManifestTable.read(spark, dir).count() === 37L)
  }

  test("vacuum(keep=1) after repeated compaction leaves only the current version") {
    val dir = freshDir()
    ManifestTable.write(df(50, parts = 8), dir)
    ManifestTable.compact(spark, dir)
    ManifestTable.compact(spark, dir)
    val removed = ManifestTable.vacuum(dir, keep = 1)
    assert(removed === 2)
    assert(ManifestTable.read(spark, dir).count() === 50L)
  }

  test("two interleaved appenders commit sequential versions, no data loss") {
    val dir = freshDir()
    ManifestTable.write(df(10), dir) // v1: rows 1..10
    val failure = new AtomicReference[Throwable](null)
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try (1 to 5).foreach { _ => ManifestTable.append(df(3), dir) }
        catch { case x: Throwable => failure.compareAndSet(null, x) }
      })
    }
    // generous join: each append runs a Spark job, and the full test suite
    // loads every core — a descheduled appender is slow, not wrong
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    assert(threads.forall(!_.isAlive), "appender thread still running after 300 s")
    assert(failure.get() === null, s"appender failed: ${failure.get()}")
    // 10 appends of 3 rows each on top of 10: every committed append kept
    assert(ManifestTable.currentVersion(dir) === Some(11L))
    assert(ManifestTable.allVersions(dir) === (1L to 11L))
    assert(ManifestTable.read(spark, dir).count() === 10L + 10L * 3L)
  }

  test("compact rebases over a concurrent append instead of dropping it") {
    val dir = freshDir()
    ManifestTable.write(df(100, parts = 8), dir) // v1
    // interleave: start a compaction-like rewrite of v1, then append, then
    // let the compaction commit — its manifest must carry the appended files
    val appended = ManifestTable.append(df(7), dir) // v2 lands "during" compact
    assert(appended === 2L)
    // compact reads current (v2: 107 rows) — to exercise the REBASE path we
    // call the internals the way a racing compactor would: compact() itself
    // re-reads before committing, so race it with a real thread.
    val raceDir = freshDir()
    ManifestTable.write(df(100, parts = 8), raceDir)
    val appender = new Thread(() => {
      (1 to 5).foreach { _ => ManifestTable.append(df(2), raceDir) }
    })
    appender.start()
    val compactor = new Thread(() => {
      (1 to 3).foreach { _ => ManifestTable.compact(spark, raceDir) }
    })
    compactor.start()
    appender.join(60000); compactor.join(60000)
    assert(ManifestTable.read(spark, raceDir).count() === 100L + 5L * 2L,
      "a compaction commit dropped a concurrently appended file")
  }

  test("delta log: 200 commits keep markers O(delta) and resolution O(interval)") {
    val dir = freshDir()
    ManifestTable.write(df(4, parts = 1), dir) // v1: snapshot
    (1 to 199).foreach(_ => ManifestTable.append(df(1, parts = 1), dir))
    assert(ManifestTable.currentVersion(dir) === Some(200L))
    val fs = LakeStorage.openFor(dir)
    // the v200 marker names ONE pool's file, not all 200+ live files —
    // commit cost is O(delta), the property that holds at 10⁶ files
    val lastMarker = fs.getFileStatus(new Path(dir, f"_commit_${200L}%020d"))
    assert(lastMarker.getLen < 1024,
      s"marker is ${lastMarker.getLen} B — full-list, not delta-encoded")
    // resolution reads at most one checkpoint interval of markers, never
    // the whole history
    Seq(1L, 57L, 123L, 200L).foreach { v =>
      val depth = ManifestTable.resolutionDepth(dir, v)
      assert(depth <= VersionLog.AnchorInterval + 1,
        s"resolving v$v read $depth log objects — unbounded replay")
    }
    // checkpoints exist at every interval boundary
    val ckpts = fs.listStatus(new Path(dir))
      .map(_.getPath.getName).count(_.startsWith("_ckpt_"))
    assert(ckpts === 200 / VersionLog.AnchorInterval)
    // resolved snapshots are exactly right, at the head and mid-history
    assert(ManifestTable.read(spark, dir).count() === 4L + 199L)
    assert(ManifestTable.read(spark, dir, Some(100L)).count() === 4L + 99L)
  }

  test("diff replays only the window's markers and matches endpoint set difference") {
    val dir = freshDir()
    ManifestTable.write(df(4, parts = 2), dir)                  // v1 snapshot
    ManifestTable.append(df(2, parts = 1), dir)                 // v2 delta
    ManifestTable.append(df(2, parts = 1), dir)                 // v3 delta
    val v3files = ManifestTable.manifest(dir, 3L)
    // v4: rewrite (remove one of v2/v3's files, add a fresh one)
    val victim = ManifestTable.manifest(dir, 3L).last
    val added = ManifestTable.stagePool(df(1, parts = 1), dir)
    ManifestTable.commitRewrite(dir, removed = Seq(victim), added = added)
    // every window's replayed diff == the endpoint set difference
    for (from <- 1L to 4L; to <- from to 4L) {
      val (a, r) = ManifestTable.diff(dir, from, to)
      val fromSet = ManifestTable.manifest(dir, from).toSet
      val toSet = ManifestTable.manifest(dir, to).toSet
      assert(a === (toSet -- fromSet).toSeq.sorted, s"added mismatch $from->$to")
      assert(r === (fromSet -- toSet).toSeq.sorted, s"removed mismatch $from->$to")
    }
    // a file added AND removed inside the window cancels out (the victim
    // was added at v2-or-v3 and removed at v4 -> absent from 1->4's adds)
    assert(!ManifestTable.diff(dir, 1L, 4L)._1.contains(victim))
    // snapshot markers inside the window (compaction) fall back correctly
    ManifestTable.compact(spark, dir)                           // v5 snapshot
    ManifestTable.append(df(1, parts = 1), dir)                 // v6 delta
    for (from <- Seq(1L, 4L); to <- Seq(5L, 6L)) {
      val (a, r) = ManifestTable.diff(dir, from, to)
      val fromSet = ManifestTable.manifest(dir, from).toSet
      val toSet = ManifestTable.manifest(dir, to).toSet
      assert(a === (toSet -- fromSet).toSeq.sorted && r === (fromSet -- toSet).toSeq.sorted,
        s"snapshot-window diff mismatch $from->$to")
    }
    assert(v3files.nonEmpty) // silence unused warning paranoia
  }

  test("vacuum on a delta log anchors the cutoff; kept delta versions stay readable") {
    val dir = freshDir()
    ManifestTable.write(df(10), dir)                        // v1: snapshot
    (1 to 6).foreach(_ => ManifestTable.append(df(2), dir)) // v2..v7: deltas
    ManifestTable.vacuum(dir, keep = 3)                     // cutoff = v5
    assert(ManifestTable.allVersions(dir) === Seq(5L, 6L, 7L))
    // v5..v7 are delta commits whose snapshot anchor (v1) was truncated —
    // they must resolve through the checkpoint vacuum wrote at the cutoff
    assert(ManifestTable.read(spark, dir, Some(5L)).count() === 10L + 4L * 2L)
    assert(ManifestTable.read(spark, dir, Some(6L)).count() === 10L + 5L * 2L)
    assert(ManifestTable.read(spark, dir).count() === 10L + 6L * 2L)
  }

  test("legacy full-list array markers stay readable and appendable") {
    val dir = freshDir()
    ManifestTable.write(df(10), dir) // v1 in the current snapshot format
    val files = ManifestTable.manifest(dir, 1L)
    // rewrite v1's marker in the pre-delta legacy format: a bare JSON array
    val fs = LakeStorage.openFor(dir)
    val p = new Path(dir, f"_commit_${1L}%020d")
    fs.delete(p, false)
    val out = fs.create(p, false)
    try out.write(
      files.map("\"" + _ + "\"").mkString("[", ",", "]").getBytes("UTF-8"))
    finally out.close()
    assert(ManifestTable.manifest(dir, 1L) === files)
    assert(ManifestTable.read(spark, dir).count() === 10L)
    ManifestTable.append(df(5), dir) // delta on top of a legacy anchor
    assert(ManifestTable.read(spark, dir).count() === 15L)
  }

  test("reader loop concurrent with compaction never sees missing or partial data") {
    val dir = freshDir()
    ManifestTable.write(df(300, parts = 12), dir)
    val failure = new AtomicReference[Throwable](null)
    @volatile var stop = false
    val reader = new Thread(() => {
      try {
        while (!stop) {
          val n = ManifestTable.read(spark, dir).count()
          if (n != 300L)
            failure.compareAndSet(null,
              new AssertionError(s"reader observed $n rows, expected 300"))
        }
      } catch { case t: Throwable => failure.compareAndSet(null, t) }
    })
    reader.start()
    try {
      // compact repeatedly while the reader hammers; also vacuum with a
      // grace window so a reader that resolved the manifest just before a
      // commit still finds its files. keep=3 (two grace versions): the
      // window must cover the SLOWEST in-flight read — under a fully
      // loaded test JVM a reader can be descheduled across one whole
      // compact+vacuum cycle, which keep=2 does not survive (the same
      // sizing rule production retention follows)
      (1 to 3).foreach { _ =>
        ManifestTable.compact(spark, dir)
        ManifestTable.vacuum(dir, keep = 3)
      }
    } finally {
      stop = true
      reader.join(30000)
    }
    assert(failure.get() === null, s"concurrent reader failed: ${failure.get()}")
    assert(ManifestTable.read(spark, dir).count() === 300L)
  }

  test("branch: write-audit-publish round trip, vacuum protection, drop") {
    val dir = freshDir()
    ManifestTable.write(df(10), dir) // main v1
    assert(ManifestTable.createBranch(dir, "ingest") === 1L)
    assert(ManifestTable.branches(dir) === Map("ingest" -> 1L))
    // stage two appends on the branch — main stays at its fork contents
    ManifestTable.appendToBranch(df(5), dir, "ingest")
    ManifestTable.appendToBranch(df(3), dir, "ingest")
    assert(ManifestTable.read(spark, dir).count() === 10L, "main must not see staged rows")
    // audit the branch state
    val br = ManifestTable.branchState(dir, "ingest")
    assert(br.files.length > ManifestTable.state(dir, 1L).files.length)
    // vacuum while the branch is unpublished: its pools must survive
    ManifestTable.write(df(2), dir) // main v2 (replaces, makes v1 pools old)
    ManifestTable.vacuum(dir, keep = 1, orphanRetainMs = 0L)
    assert(spark.read.parquet(br.files.map(f => s"$dir/$f"): _*).count() === 18L,
      "vacuum deleted branch-referenced pools")
    // publish: branch delta (adds + fork-base removes) lands atomically.
    // main moved on since the fork by REPLACING the snapshot — the
    // publish's removes (v1 files) are gone, so it must abort loudly
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.fastForward(dir, "ingest")
    }
    // re-branch from the current head and publish appends only: rebases
    // cleanly even while main appends concurrently
    ManifestTable.createBranch(dir, "ingest2")
    ManifestTable.appendToBranch(df(7), dir, "ingest2")
    ManifestTable.append(df(4), dir) // concurrent main append after fork
    val pub = ManifestTable.fastForward(dir, "ingest2")
    assert(ManifestTable.currentVersion(dir) === Some(pub))
    assert(ManifestTable.read(spark, dir).count() === 2L + 4L + 7L,
      "publish must carry branch adds AND keep the concurrent main append")
    // idempotent: unchanged branch re-publish is a no-op
    assert(ManifestTable.fastForward(dir, "ingest2") === pub)
    // drop removes the ref; its staged pools become vacuum fodder
    assert(ManifestTable.dropBranch(dir, "ingest"))
    assert(ManifestTable.branches(dir).keySet === Set("ingest2"))
    // name rules: tags and branches share the VERSION AS OF namespace
    intercept[IllegalArgumentException](ManifestTable.createBranch(dir, "123"))
    ManifestTable.tag(dir, "rel-x", pub)
    intercept[IllegalArgumentException](ManifestTable.createBranch(dir, "rel-x"))
    intercept[IllegalArgumentException](ManifestTable.tag(dir, "ingest2", pub))
  }

  test("branch: incremental re-publish ships only net-new commits, never duplicates") {
    val dir = freshDir()
    ManifestTable.write(df(10), dir) // main v1
    ManifestTable.createBranch(dir, "stage")
    ManifestTable.appendToBranch(df(5), dir, "stage")
    ManifestTable.fastForward(dir, "stage")
    assert(ManifestTable.read(spark, dir).count() === 15L)
    // the branch gains commits AFTER the publish; main also appends
    ManifestTable.append(df(4), dir)
    ManifestTable.appendToBranch(df(3), dir, "stage")
    val pub2 = ManifestTable.fastForward(dir, "stage")
    assert(ManifestTable.read(spark, dir).count() === 15L + 4L + 3L,
      "second publish must ship ONLY the post-publish delta (the old " +
        "fork-base diff re-added the first publish's files)")
    val files = ManifestTable.manifest(dir, pub2)
    assert(files.distinct.length === files.length, "published file list has duplicates")
    // publish with nothing new staged: no-op
    assert(ManifestTable.fastForward(dir, "stage") === pub2)
    assert(ManifestTable.read(spark, dir).count() === 22L)
    // snapshot-replace on the branch after publishing: the re-publish
    // removes the branch's previously published files but carries main's
    // own concurrent append (rows the branch never claimed to audit)
    ManifestTable.writeToBranch(df(2), dir, "stage")
    ManifestTable.fastForward(dir, "stage")
    assert(ManifestTable.read(spark, dir).count() === 2L + 4L)
  }

  test("incremental publish races: twin publishers + concurrent main appends lose nothing, duplicate nothing") {
    val dir = freshDir()
    ManifestTable.write(df(10), dir)
    ManifestTable.createBranch(dir, "p")
    var expected = 10L
    (1 to 3).foreach { round =>
      ManifestTable.appendToBranch(df(round * 4), dir, "p") // staged delta
      expected += round * 4
      // two publishers race each other AND a concurrent main appender;
      // the per-file idempotent delta + watermark must ship each staged
      // file exactly once whoever wins, and carry the append
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = Seq(
        new Thread(() =>
          try { ManifestTable.fastForward(dir, "p"); () }
          catch { case e: Throwable => errors.add(e); () }),
        new Thread(() =>
          try { ManifestTable.fastForward(dir, "p"); () }
          catch { case e: Throwable => errors.add(e); () }),
        new Thread(() =>
          try { ManifestTable.append(df(3), dir); () }
          catch { case e: Throwable => errors.add(e); () }))
      ts.foreach(_.start()); ts.foreach(_.join())
      expected += 3
      assert(errors.isEmpty, s"round $round: ${errors.toArray.mkString(", ")}")
      assert(ManifestTable.read(spark, dir).count() === expected,
        s"round $round row count")
      val files = ManifestTable.manifest(dir,
        ManifestTable.currentVersion(dir).get)
      assert(files.distinct.length === files.length,
        s"round $round published duplicate file entries")
    }
  }

  test("branch hygiene: writes to a dropped branch fail loudly; zombies never wedge vacuum; torn watermark degrades") {
    val dir = freshDir()
    ManifestTable.write(df(10), dir)
    ManifestTable.createBranch(dir, "b")
    ManifestTable.appendToBranch(df(3), dir, "b")
    ManifestTable.dropBranch(dir, "b")
    // a writer racing the drop must fail, not resurrect a fork-less log
    val e = intercept[Exception] {
      ManifestTable.appendToBranch(df(2), dir, "b")
    }
    assert(e.getMessage.contains("dropped") || e.getMessage.contains("no branch"))
    // simulate the zombie a pre-fix racer could leave (markers, no _fork):
    // vacuum must tolerate it instead of throwing forever
    val zombieLog = s"$dir/_branch_zomb"
    ManifestTable.commitStagedAppend(zombieLog,
      ManifestTable.stagePool(df(2), dir), dataDir = Some(dir))
    assert(ManifestTable.branches(dir).contains("zomb"))
    ManifestTable.vacuum(dir, keep = 2, orphanRetainMs = 0L) // must not throw
    assert(ManifestTable.read(spark, dir).count() === 10L)
    // a torn/empty _published watermark (crash between create and write)
    // parses as absent: publish still succeeds and stays exact
    ManifestTable.createBranch(dir, "w")
    ManifestTable.appendToBranch(df(4), dir, "w")
    assert(ManifestTable.fastForward(dir, "w") > 0)
    assert(ManifestTable.read(spark, dir).count() === 14L)
    val fs = LakeStorage.openFor(dir)
    val wm = new Path(s"$dir/_branch_w", "_published")
    fs.create(wm, true).close() // truncate to empty
    ManifestTable.appendToBranch(df(5), dir, "w")
    ManifestTable.fastForward(dir, "w") // re-widened diff, idempotent adds
    assert(ManifestTable.read(spark, dir).count() === 19L,
      "publish after a torn watermark must neither fail nor duplicate")
  }

  test("pool writes force INT64 micros timestamps WITHOUT touching session conf") {
    // manifest data files need INT64 MICROS for footer min/max (data
    // skipping / transform pruning), but the session's own setting — and
    // any user write racing the pool write — must never observe the
    // override (the old session-conf set/restore leaked it)
    val key = "spark.sql.parquet.outputTimestampType"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "INT96")
    try {
      val dir = freshDir()
      val tdf = spark.range(100).selectExpr("id",
        "timestampadd(HOUR, CAST(id AS INT), TIMESTAMP'2024-01-01 00:00:00') AS ts")
      ManifestTable.write(tdf, dir)
      // INT96 yields NO usable footer stats (FileStats skips it); LongVal
      // min/max on ts proves the pool was written as INT64 micros
      val st = ManifestTable.state(dir, ManifestTable.currentVersion(dir).get)
      val tsStats = st.files.flatMap(f => st.stats.get(f).flatMap(_.col("ts")))
      assert(tsStats.nonEmpty && tsStats.forall(_.min.isDefined),
        s"pool files carry no ts min/max — written INT96? $tsStats")
      // the session conf is untouched by the pool write...
      assert(spark.conf.get(key) === "INT96")
      // ...and a user write honors it: INT96 ts column -> no extractable stats
      val userDir = freshDir() + "/user"
      tdf.write.parquet(userDir)
      val fs = LakeStorage.openFor(userDir)
      val names = fs.listStatus(new Path(userDir))
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath.getName).toSeq
      val userStats = FileStats.collect(userDir, names)
      assert(userStats.values.forall(_.col("ts").forall(_.min.isEmpty)),
        "user write unexpectedly produced INT64 stats — session conf leaked")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("appendIdempotent: per-tag exactly-once, crashed half-stage recovered, fresh tags append") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.write(df(10), dir)                              // v1
    val batch = (100 to 104).map(i => (i.toLong, s"b$i")).toDF("id", "v")
    // first landing commits
    val v1 = ManifestTable.appendIdempotent(batch, dir, "batch-7")
    def rows() = ManifestTable.read(spark, dir).count()
    val after = rows()
    assert(after === 15L)
    // the foreachBatch retry: same tag, same rows -> NO second commit
    val v2 = ManifestTable.appendIdempotent(batch, dir, "batch-7")
    assert(v2 === v1, "retry must resolve to the original commit")
    assert(rows() === 15L, "retry duplicated rows")
    assert(ManifestTable.currentVersion(dir).contains(v1))
    // crashed half-stage: a partial UNCOMMITTED pool under the next tag's
    // name must be safely overwritten, not duplicated and not fatal
    val pool = new java.io.File(dir.stripPrefix("file://"), "d-tag-batch-8")
    pool.mkdirs()
    java.nio.file.Files.write(pool.toPath.resolve("part-junk.parquet"),
      "not parquet".getBytes)
    val next = (200 to 202).map(i => (i.toLong, s"c$i")).toDF("id", "v")
    ManifestTable.appendIdempotent(next, dir, "batch-8")
    assert(rows() === 18L)
    // distinct fresh tags keep appending
    ManifestTable.appendIdempotent(batch, dir, "batch-9")
    assert(rows() === 23L)
    // unsafe tag rejected before any write
    intercept[IllegalArgumentException] {
      ManifestTable.appendIdempotent(batch, dir, "../escape")
    }
  }

  test("an empty write reads back with 0 rows and its schema") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("v", StringType)))
    // no partitions at all, and four partitions that are all empty
    val noPartitions = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(noPartitions.rdd.getNumPartitions === 0)
    Seq(noPartitions, df(0)).foreach { empty =>
      val dir = freshDir()
      assert(ManifestTable.write(empty, dir) === 1L)
      assert(ManifestTable.state(dir, 1L).files.size === 1,
        "an empty write stages one file that carries the schema")
      val back = ManifestTable.read(spark, dir)
      assert(back.count() === 0L)
      assert(back.schema.map(f => (f.name, f.dataType, f.nullable)) ===
        schema.map(f => (f.name, f.dataType, true)))
    }
  }

  test("a pool write stages as many files as df.write does: repartition(12), empty partition 0") {
    // one row in each of partitions 1..11: partition 0 still writes a file
    val sparse = spark.range(0, 12, 1, 12).filter("id > 0").toDF()
    Seq(df(100, 12), sparse).foreach { data =>
      val plain = freshDir() + "/plain"
      data.write.parquet(plain)
      val expected = new java.io.File(plain.stripPrefix("file://")).list()
        .count(n => n.startsWith("part-") && n.endsWith(".parquet"))
      val dir = freshDir()
      ManifestTable.write(data, dir)
      assert(ManifestTable.state(dir, 1L).files.size === expected)
    }
    Seq(df(100, 12), sparse).foreach { data =>
      val dir = freshDir()
      ManifestTable.write(data, dir)
      assert(ManifestTable.state(dir, 1L).files.size === 12)
    }
  }

  test("appendIdempotent clears a crashed attempt's tag pool: one landing, none of its files") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.write(df(10), dir)                              // v1
    // a crashed attempt left readable parquet and a _SUCCESS marker in
    // the tag's pool; committing any of it would add 7 duplicate rows
    val pool = new java.io.File(dir.stripPrefix("file://"), "d-tag-crash")
    df(7, 2).write.parquet(pool.toString)
    val crashed = pool.list().toSet
    assert(crashed.exists(_.endsWith(".parquet")))
    val batch = (100 to 104).map(i => (i.toLong, s"b$i")).toDF("id", "v")
    val v = ManifestTable.appendIdempotent(batch, dir, "crash")
    assert(v === 2L)
    assert(ManifestTable.read(spark, dir).count() === 15L)
    val committed = ManifestTable.state(dir, v).files.filter(_.startsWith("d-tag-crash/"))
    assert(committed.nonEmpty)
    assert(committed.map(_.stripPrefix("d-tag-crash/")).toSet.intersect(crashed).isEmpty)
    assert(pool.list().toSet.intersect(crashed).isEmpty, "the crashed files were cleared")
    // the rerun resolves to the landed version and writes nothing
    assert(ManifestTable.appendIdempotent(batch, dir, "crash") === v)
    assert(ManifestTable.read(spark, dir).count() === 15L)
  }
}
