package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ManifestTable

/** SQL maintenance procedures (`CALL graft.system.*`): compaction
  * (bucket-preserving), vacuum, and rollback — the table-format
  * operations previously reachable only through the Scala API. */
class CatalogProcedureSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    GraftCatalog.register(s, "gp", root)
    s
  }
  private lazy val root =
    "file://" + Files.createTempDirectory("graft_proc_").toString

  private def ensureDb(): Unit =
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gp.db")

  private def dataDir(table: String) = s"$root/db/$table"

  test("CALL compact rewrites small files into one and reports counts") {
    ensureDb()
    spark.sql("CREATE TABLE gp.db.cp (id BIGINT, v STRING) USING manifest")
    (1 to 4).foreach { i =>
      spark.sql(s"INSERT INTO gp.db.cp SELECT id + ${i * 100}, CAST(id AS STRING) FROM range(50)")
    }
    val before = ManifestTable.manifest(dataDir("cp"),
      ManifestTable.currentVersion(dataDir("cp")).get)
    assert(before.length >= 4, s"expected >=4 pre-compaction files, got $before")
    val row = spark.sql("CALL gp.system.compact('db.cp')").head()
    assert(row.getLong(0) === before.length.toLong)
    assert(row.getLong(1) === 1L) // 200 tiny rows -> one 128 MB-target file
    assert(spark.sql("SELECT count(*), sum(id) FROM gp.db.cp").head().toSeq ===
      Seq(200L, (1 to 4).map(i => (0 until 50).map(_ + i * 100).sum.toLong).sum))
  }

  test("CALL compact small_only bin-packs undersized files, never healthy ones") {
    ensureDb()
    spark.sql("CREATE TABLE gp.db.opt (id BIGINT, v STRING) USING manifest")
    // one healthy ~2.5 MB file + five tiny stream-epoch-ish files
    spark.sql("INSERT INTO gp.db.opt SELECT /*+ REPARTITION(1) */ id, " +
      "sha1(CAST(id AS STRING)) FROM range(50000)")
    (1 to 5).foreach { i =>
      spark.sql("INSERT INTO gp.db.opt SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * 1000000}, 'x' FROM range(100)")
    }
    val dir = dataDir("opt")
    def files() = ManifestTable.manifest(dir, ManifestTable.currentVersion(dir).get)
    val before = files()
    assert(before.length === 6)
    val healthy = {
      val st = ManifestTable.state(dir, ManifestTable.currentVersion(dir).get)
      before.filter(f => st.stats(f).sizeBytes.get > 512 * 1024).toSet
    }
    assert(healthy.size === 1, "exactly one file above the small threshold")
    val row = spark.sql(
      "CALL gp.system.compact('db.opt', target_mb => 1, small_only => true)").head()
    assert(row.getLong(0) === 5L, "only the five small files rewrite")
    val after = files()
    assert(healthy.subsetOf(after.toSet),
      "the healthy file must survive the bin-pack untouched")
    assert(after.length === healthy.size + row.getLong(1).toInt)
    assert(spark.sql("SELECT count(*) FROM gp.db.opt").head().getLong(0) === 50500L)
    // a second pass finds nothing to merge (one merged small file at most)
    val again = spark.sql(
      "CALL gp.system.compact('db.opt', target_mb => 1, small_only => true)").head()
    assert(again.getLong(0) <= 1L)
  }

  test("CALL compact auto: acts only past the debt threshold, then converges to a no-op") {
    ensureDb()
    spark.sql("CREATE TABLE gp.db.au (id BIGINT, v STRING) USING manifest")
    // one healthy ~2.5 MB file + two tiny ones: debt (2) below the
    // default threshold (4) — the scheduled pass must touch NOTHING
    spark.sql("INSERT INTO gp.db.au SELECT /*+ REPARTITION(1) */ id, " +
      "sha1(CAST(id AS STRING)) FROM range(50000)")
    (1 to 2).foreach { i =>
      spark.sql("INSERT INTO gp.db.au SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * 1000000}, 'x' FROM range(100)")
    }
    val dir = dataDir("au")
    def files() = ManifestTable.manifest(dir, ManifestTable.currentVersion(dir).get)
    val v0 = ManifestTable.currentVersion(dir).get
    val below = spark.sql(
      "CALL gp.system.compact('db.au', target_mb => 1, auto => true)").head()
    assert(below.getLong(0) === 0L && below.getLong(1) === 0L)
    assert(ManifestTable.currentVersion(dir).get === v0,
      "a below-threshold auto pass must not commit anything")
    // three more tiny inserts push the debt to 5 >= 4: auto bin-packs
    // exactly the indebted files, the healthy one survives untouched
    (3 to 5).foreach { i =>
      spark.sql("INSERT INTO gp.db.au SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * 1000000}, 'x' FROM range(100)")
    }
    val healthy = {
      val st = ManifestTable.state(dir, ManifestTable.currentVersion(dir).get)
      files().filter(f => st.stats(f).sizeBytes.get > 512 * 1024).toSet
    }
    assert(healthy.size === 1)
    val acted = spark.sql(
      "CALL gp.system.compact('db.au', target_mb => 1, auto => true)").head()
    assert(acted.getLong(0) === 5L, "auto must rewrite exactly the indebted files")
    assert(healthy.subsetOf(files().toSet), "healthy file untouched by auto")
    assert(spark.sql("SELECT count(*) FROM gp.db.au").head().getLong(0) === 50500L)
    // converged: the merged output is below the threshold count
    val v1 = ManifestTable.currentVersion(dir).get
    val noop = spark.sql(
      "CALL gp.system.compact('db.au', target_mb => 1, auto => true)").head()
    assert(noop.getLong(0) === 0L &&
      ManifestTable.currentVersion(dir).get === v1,
      "auto must no-op once the debt is collected")
    // auto is the whole decision: composing selectors is refused
    Seq("small_only => true", "where => 'id < 5'", "zorder => 'id,id'",
        "cluster_by => 'id'").foreach { arg =>
      val e = intercept[Exception] {
        spark.sql(s"CALL gp.system.compact('db.au', auto => true, $arg)").collect()
      }
      assert(e.getMessage.contains("auto") || e.getMessage.contains("zorder"),
        s"composition '$arg' must refuse: ${e.getMessage}")
    }
  }

  test("CALL compact on a bucketed table re-buckets (SPJ survives)") {
    ensureDb()
    spark.sql("""CREATE TABLE gp.db.cpb (k BIGINT, v STRING) USING manifest
                 PARTITIONED BY (bucket(4, k))""")
    (1 to 3).foreach { _ =>
      spark.sql("INSERT INTO gp.db.cpb SELECT id % 16, CAST(id AS STRING) FROM range(64)")
    }
    spark.sql("CALL gp.system.compact('db.cpb')").collect()
    val files = ManifestTable.manifest(dataDir("cpb"),
      ManifestTable.currentVersion(dataDir("cpb")).get)
    val pools = files.map(_.split("/", 2).head).distinct
    assert(pools.length === 1 && ManifestTable.bucketsOfPool(pools.head) === Some(4),
      s"compaction demoted bucketing: $pools")
    assert(spark.sql("SELECT sum(k) FROM gp.db.cpb").head().getLong(0) === 3L * 64 / 16 * (0 to 15).sum)
  }

  test("CALL vacuum removes expired pools but keeps readable versions; dry_run touches nothing") {
    ensureDb()
    spark.sql("CREATE TABLE gp.db.vc (id BIGINT) USING manifest")
    spark.sql("INSERT INTO gp.db.vc VALUES (1)")           // v1
    spark.sql("INSERT OVERWRITE gp.db.vc VALUES (2)")      // v2 (v1's pool now unreferenced beyond keep)
    spark.sql("INSERT OVERWRITE gp.db.vc VALUES (3)")      // v3
    // DRY RUN first: reports the same count the real pass will remove,
    // and the table directory is byte-for-byte untouched (no checkpoint
    // anchoring, no marker truncation, no deletes)
    def listing(): Map[String, Long] = {
      val d = new java.io.File(new java.net.URI(dataDir("vc")))
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) :+ f else Seq(f)
      walk(d).map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = listing()
    val wouldRemove = spark.sql(
      "CALL gp.system.vacuum('db.vc', keep => 2, dry_run => true)").head().getInt(0)
    assert(wouldRemove === 1, s"dry run must report the plan, got $wouldRemove")
    assert(listing() == before, "dry run must not touch the table directory")
    assert(spark.sql("SELECT id FROM gp.db.vc VERSION AS OF 1").head().getLong(0) === 1L,
      "dry run must leave even expired versions readable")
    val removed = spark.sql("CALL gp.system.vacuum('db.vc', keep => 2)").head().getInt(0)
    assert(removed === 1, s"expected exactly v1's pool removed, got $removed")
    // kept versions still read
    assert(spark.sql("SELECT id FROM gp.db.vc VERSION AS OF 2").head().getLong(0) === 2L)
    assert(spark.sql("SELECT id FROM gp.db.vc").head().getLong(0) === 3L)
  }

  test("CALL rollback restores an old version as a new commit") {
    ensureDb()
    spark.sql("CREATE TABLE gp.db.rb (id BIGINT) USING manifest")
    spark.sql("INSERT INTO gp.db.rb VALUES (1), (2)")      // v1
    spark.sql("INSERT OVERWRITE gp.db.rb VALUES (99)")     // v2
    val row = spark.sql("CALL gp.system.rollback('db.rb', 1)").head()
    assert((row.getLong(0), row.getLong(1)) === (1L, 3L))
    assert(spark.sql("SELECT sum(id) FROM gp.db.rb").head().getLong(0) === 3L)
    // history preserved: v2 still time-travelable
    assert(spark.sql("SELECT id FROM gp.db.rb VERSION AS OF 2").head().getLong(0) === 99L)
    // rolling back to a vacuumed version fails loudly
    val e = intercept[Exception] {
      spark.sql("CALL gp.system.rollback('db.rb', 7)").collect()
    }
    assert(e.getMessage.contains("not committed"))
  }

  test("CALL compact with cluster_by range-sorts the layout (disjoint file ranges)") {
    ensureDb()
    spark.sql("CREATE TABLE gp.db.cl (id BIGINT, v STRING) USING manifest")
    // interleaved inserts so pre-compaction files all span the id range
    (0 until 3).foreach { r =>
      spark.sql(s"INSERT INTO gp.db.cl SELECT id * 3 + $r, CAST(id AS STRING) FROM range(400)")
    }
    val row = spark.sql(
      "CALL gp.system.compact('db.cl', target_mb => 1, cluster_by => 'id')").head()
    assert(row.getLong(0) >= 3L)
    val files = ManifestTable.manifest(dataDir("cl"),
      ManifestTable.currentVersion(dataDir("cl")).get)
    // per-file [min,max] of the cluster column must not overlap
    val ranges = files.map { f =>
      val r = spark.read.parquet(s"${dataDir("cl")}/$f")
        .agg(org.apache.spark.sql.functions.min("id"),
          org.apache.spark.sql.functions.max("id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi < lo, s"clustered files overlap: $ranges")
      case _ => ()
    }
    assert(spark.sql("SELECT count(*), sum(id) FROM gp.db.cl").head().toSeq ===
      Seq(1200L, (0L until 1200L).sum))
    // bucketed tables refuse cluster_by: the bucket layout is the clustering
    spark.sql("""CREATE TABLE gp.db.clb (k BIGINT, v STRING) USING manifest
                 PARTITIONED BY (bucket(2, k))""")
    spark.sql("INSERT INTO gp.db.clb VALUES (1, 'a')")
    val e = intercept[Exception] {
      spark.sql("CALL gp.system.compact('db.clb', cluster_by => 'v')").collect()
    }
    assert(e.getMessage.contains("cluster_by does not apply"))
  }

  test("CALL compact on a keyedlog table rewrites to one clustered file per key") {
    ensureDb()
    spark.sql("CREATE TABLE gp.db.kcp (key STRING, seq BIGINT, metric BIGINT) USING keyedlog")
    // unclustered appends: many small files, none key-tagged
    (1 to 3).foreach { i =>
      spark.sql(s"INSERT INTO gp.db.kcp SELECT concat('k', id % 4), id + $i * 100, id FROM range(40)")
    }
    val row = spark.sql("CALL gp.system.compact('db.kcp')").head()
    assert(row.getLong(0) >= 3L)
    assert(row.getLong(1) === 4L, "compacted layout must hold one file per key")
    // rows preserved, now key-clustered (files K=-tagged -> SPJ-eligible)
    assert(spark.sql("SELECT count(*), sum(metric) FROM gp.db.kcp").head().toSeq ===
      Seq(120L, 3L * (0 until 40).sum))
    // vacuum on keyedlog = the orphan sweep: hidden residue (.tmp-/.rl-
    // crash leftovers, .rm- pre-image tombstones) past retention goes,
    // younger residue and live data stay; dry_run reports without touching
    val loc = spark.sql("SHOW TBLPROPERTIES gp.db.kcp").collect()
      .find(_.getString(0) == "graft.location").get.getString(1)
    val dir = if (loc.startsWith("file:")) new org.apache.hadoop.fs.Path(loc)
      .toUri.getPath else loc
    val old = new java.io.File(dir, ".rl-dead-part-x-0.log")
    java.nio.file.Files.write(old.toPath, "k\t1\t1\n".getBytes("UTF-8"))
    old.setLastModified(System.currentTimeMillis() - 120000)
    val young = new java.io.File(dir, ".tmp-live-attempt")
    java.nio.file.Files.write(young.toPath, "x".getBytes("UTF-8"))
    val dry = spark.sql(
      "CALL gp.system.vacuum('db.kcp', orphan_retain_ms => 60000, dry_run => true)").head()
    assert(dry.getInt(0) === 1 && old.exists(), "dry run must count without deleting")
    val swept = spark.sql(
      "CALL gp.system.vacuum('db.kcp', orphan_retain_ms => 60000)").head()
    assert(swept.getInt(0) === 1 && !old.exists() && young.exists())
    // `keep` is a manifest concept — keyedlog journal markers are
    // permanent, so a non-default value refuses loudly, never ignores
    val eKeep = intercept[Exception] {
      spark.sql("CALL gp.system.vacuum('db.kcp', keep => 3)").collect()
    }
    assert(eKeep.getMessage.contains("does not apply to keyedlog"))
    assert(spark.sql("SELECT count(*) FROM gp.db.kcp").head().getLong(0) === 120L)
    // purge_deletes stays manifest-only, with a clear error
    val e = intercept[Exception] {
      spark.sql("CALL gp.system.purge_deletes('db.kcp')").collect()
    }
    assert(e.getMessage.contains("manifest tables only"))
    // AUTO on keyedlog: the per-key debt signal gates the full per-key
    // rewrite — freshly compacted (one file per key, zero debt) no-ops...
    val noop = spark.sql("CALL gp.system.compact('db.kcp', auto => true)").head()
    assert(noop.getLong(0) === 0L && noop.getLong(1) === 0L)
    // ...four fragmented appends push the debt to the threshold and the
    // auto pass consolidates back to one file per key
    (1 to 4).foreach { i =>
      spark.sql(s"INSERT INTO gp.db.kcp SELECT concat('k', id % 4), id + ${i * 10000}, id FROM range(8)")
    }
    val acted = spark.sql("CALL gp.system.compact('db.kcp', auto => true)").head()
    assert(acted.getLong(1) === 4L, s"auto must consolidate to one file per key: $acted")
    assert(spark.sql("SELECT count(*) FROM gp.db.kcp").head().getLong(0) === 152L)
    val again = spark.sql("CALL gp.system.compact('db.kcp', auto => true)").head()
    assert(again.getLong(0) === 0L && again.getLong(1) === 0L,
      "auto must no-op once per-key debt is collected")
  }

  test("CALL rollback on keyedlog restores an old version from tombstones") {
    ensureDb()
    spark.sql("CREATE TABLE gp.db.krb (key STRING, seq BIGINT, metric BIGINT) " +
      "USING keyedlog PARTITIONED BY (bucket(2, key))")
    spark.sql("INSERT INTO gp.db.krb VALUES ('a', 1, 10), ('b', 2, 20)")  // v0
    spark.sql("UPDATE gp.db.krb SET metric = 99 WHERE key = 'a'")         // v1 (swap)
    spark.sql("DELETE FROM gp.db.krb WHERE key = 'b'")                    // v2 (metadata)
    def rows() = spark.sql("SELECT key, seq, metric FROM gp.db.krb ORDER BY seq")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows() == Seq(("a", 1L, 99L)))
    // restore v0: the replaced a-file and dropped b-file resurrect from
    // their tombstones; history is never rewritten (a NEW version lands)
    val r = spark.sql("CALL gp.system.rollback('db.krb', 0)").head()
    assert(r.getLong(0) === 0L && r.getLong(1) === 3L)
    assert(rows() == Seq(("a", 1L, 10L), ("b", 2L, 20L)))
    // the pre-restore state is itself still time-travelable
    assert(spark.sql("SELECT metric FROM gp.db.krb VERSION AS OF 1 WHERE key='a'")
      .head().getLong(0) === 99L)
    // unknown version is loud; nothing mutates
    val eV = intercept[Exception] {
      spark.sql("CALL gp.system.rollback('db.krb', 77)").collect()
    }
    assert(eV.getMessage.contains("not journaled"))
    assert(rows() == Seq(("a", 1L, 10L), ("b", 2L, 20L)))
    // past retention: sweep the tombstones, restore to the swapped
    // version refuses loudly BEFORE mutating anything
    spark.sql("CALL gp.system.vacuum('db.krb', orphan_retain_ms => 0)")
    val eGone = intercept[Exception] {
      spark.sql("CALL gp.system.rollback('db.krb', 1)").collect()
    }
    assert(eGone.getMessage.contains("tombstone aged out"), eGone.getMessage)
    assert(rows() == Seq(("a", 1L, 10L), ("b", 2L, 20L)))
  }

  test("t.detail summarizes provider, snapshot, and bucket spec") {
    ensureDb()
    spark.sql("""CREATE TABLE gp.db.det (k STRING, x BIGINT) USING manifest
                 PARTITIONED BY (bucket(4, k))""")
    spark.sql("INSERT INTO gp.db.det SELECT CAST(id AS STRING), id FROM range(100)")
    val d = spark.sql("SELECT * FROM gp.db.det.detail").head()
    assert(d.getString(0) === "manifest")
    assert(d.getLong(2) === 1L)                  // current_version
    assert(d.getLong(3) >= 1L && d.getLong(4) > 0L) // num_files, total_bytes
    assert(d.getLong(5) === 1L)                  // num_versions
    assert(d.getString(6) === "bucket(4, k)")
    spark.sql("CREATE TABLE gp.db.detk (key STRING, seq BIGINT, metric BIGINT) USING keyedlog")
    spark.sql("INSERT INTO gp.db.detk VALUES ('a', 1, 2)")
    val k = spark.sql("SELECT * FROM gp.db.detk.detail").head()
    assert(k.getString(0) === "keyedlog")
    assert(k.isNullAt(2) && k.getLong(3) >= 1L && k.isNullAt(6))
  }

  test("SHOW TBLPROPERTIES surfaces provider, location, and bucketing") {
    ensureDb()
    spark.sql("""CREATE TABLE gp.db.props (k STRING, x BIGINT) USING manifest
                 PARTITIONED BY (bucket(4, k))""")
    spark.sql("INSERT INTO gp.db.props VALUES ('a', 1)")
    val props = spark.sql("SHOW TBLPROPERTIES gp.db.props").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props("graft.provider") === "manifest")
    assert(props("graft.bucketing") === "bucket(4, k)")
    assert(props("graft.current-version") === "1")
    assert(props("graft.location").endsWith("/db/props"))
  }

  test("CALL register_files adopts only unmanaged matching parquet, safely") {
    ensureDb()
    // adoption targets tables over PRE-EXISTING data -> LOCATION tables
    // (catalog-born tables use column mapping and refuse id-less imports)
    val dir = "file://" + Files.createTempDirectory("graft_adopt_loc_").toString
    spark.sql(s"CREATE TABLE gp.db.adopt (id BIGINT, v STRING) USING manifest LOCATION '$dir'")
    spark.sql("INSERT INTO gp.db.adopt SELECT id, CAST(id AS STRING) FROM range(10)")
    // an external import, a hidden dir (never a candidate), and a
    // schema-drifted stray
    spark.range(5).selectExpr("id + 100 AS id", "CAST(id AS STRING) AS v")
      .coalesce(1).write.parquet(s"$dir/import")
    spark.range(3).selectExpr("id AS wrong_col")
      .coalesce(1).write.parquet(s"$dir/_hidden")
    spark.range(2).selectExpr("id AS not_the_schema")
      .coalesce(1).write.parquet(s"$dir/bad")
    // drifted columns fail LOUDLY and commit NOTHING
    val drift = intercept[Exception] {
      spark.sql("CALL gp.system.register_files('db.adopt')").collect()
    }
    assert(drift.getMessage.contains("register_files") &&
      drift.getMessage.contains("not_the_schema"))
    assert(spark.sql("SELECT count(*) FROM gp.db.adopt").head().getLong(0) === 10L,
      "failed registration must commit nothing")
    val fsDir = new java.io.File(new java.net.URI(s"$dir/bad"))
    fsDir.listFiles().foreach(_.delete()); fsDir.delete()
    // TYPE drift under MATCHING names fails just as loudly: a name-only
    // check would commit these and then poison every subsequent scan
    spark.range(2).selectExpr("CAST(id AS STRING) AS id", "CAST(id AS STRING) AS v")
      .coalesce(1).write.parquet(s"$dir/badtype")
    val tdrift = intercept[Exception] {
      spark.sql("CALL gp.system.register_files('db.adopt')").collect()
    }
    assert(tdrift.getMessage.contains("register_files") &&
      tdrift.getMessage.contains("id:string"), s"wrong error: ${tdrift.getMessage}")
    assert(spark.sql("SELECT count(*) FROM gp.db.adopt").head().getLong(0) === 10L,
      "type-drifted registration must commit nothing")
    val tdir = new java.io.File(new java.net.URI(s"$dir/badtype"))
    tdir.listFiles().foreach(_.delete()); tdir.delete()
    // clean import adopts exactly import/'s one file (hidden dir skipped)
    val reg = spark.sql("CALL gp.system.register_files('db.adopt')").head()
    assert(reg.getLong(1) === 1L, s"expected 1 adopted file, got $reg")
    assert(spark.sql("SELECT count(*) FROM gp.db.adopt").head().getLong(0) === 15L)
    // idempotent rerun: already-referenced files are never re-adopted
    assert(spark.sql("CALL gp.system.register_files('db.adopt')").head().getLong(1) === 0L)
    // the name pattern scopes adoption (root-level legacy files)
    val src = new java.io.File(new java.net.URI(s"$dir/import"))
      .listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
    java.nio.file.Files.copy(src, new java.io.File(
      new java.net.URI(s"$dir/legacy-a.parquet")).toPath)
    java.nio.file.Files.copy(src, new java.io.File(
      new java.net.URI(s"$dir/legacy-b.parquet")).toPath)
    val scoped = spark.sql(
      "CALL gp.system.register_files('db.adopt', pattern => 'legacy-a*')").head()
    assert(scoped.getLong(1) === 1L, s"pattern must scope adoption: $scoped")
    assert(spark.sql("SELECT count(*) FROM gp.db.adopt").head().getLong(0) === 20L)
    // row-level DML works ON ADOPTED FILES too — their dir-relative names
    // are not pool-shaped (`import/...`, `legacy-a.parquet`), which the
    // old one-pool-deep path resolution would have rejected at planning
    spark.sql("UPDATE gp.db.adopt SET v = 'adopted!' WHERE id >= 100")
    assert(spark.sql("SELECT count(*) FROM gp.db.adopt WHERE v = 'adopted!'")
      .head().getLong(0) === 10L, "5 import rows + 5 legacy-a rows updated")
    spark.sql("DELETE FROM gp.db.adopt WHERE id = 101 AND v IS NOT NULL")
    assert(spark.sql("SELECT count(*) FROM gp.db.adopt").head().getLong(0) === 18L)
    // bucketed tables refuse adoption (would demote the SPJ layout)
    spark.sql("""CREATE TABLE gp.db.adoptb (k BIGINT, v STRING) USING manifest
                 PARTITIONED BY (bucket(4, k))""")
    val e = intercept[Exception] {
      spark.sql("CALL gp.system.register_files('db.adoptb')").collect()
    }
    assert(e.getMessage.contains("bucket"))
    // catalog-born (column-mapped) tables refuse id-less imports
    spark.sql("CREATE TABLE gp.db.adoptm (id BIGINT, v STRING) USING manifest")
    val em = intercept[Exception] {
      spark.sql("CALL gp.system.register_files('db.adoptm')").collect()
    }
    assert(em.getMessage.contains("column mapping"), s"wrong error: ${em.getMessage}")
  }

  test("CALL register_files source_dir: verified copy-import, source " +
      "untouched, re-import no-op, failure cleans its scratch") {
    ensureDb()
    val dir = "file://" + Files.createTempDirectory("graft_imp_loc_").toString
    spark.sql(s"CREATE TABLE gp.db.imp (id BIGINT, v STRING) USING manifest LOCATION '$dir'")
    spark.sql("INSERT INTO gp.db.imp SELECT id, CAST(id AS STRING) FROM range(10)")
    val land = Files.createTempDirectory("graft_landing_").toString
    spark.range(5).selectExpr("id + 100 AS id", "CAST(id AS STRING) AS v")
      .repartition(2).write.mode("overwrite").parquet(land)
    def landing(): Seq[(String, Long)] = new java.io.File(land).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length())).toSeq.sorted
    val before = landing()
    val reg = spark.sql(
      s"CALL gp.system.register_files('db.imp', source_dir => '$land')").head()
    assert(reg.getLong(1) === before.length.toLong,
      s"expected ${before.length} adopted files, got $reg")
    assert(spark.sql("SELECT count(*) FROM gp.db.imp").head().getLong(0) === 15L)
    assert(landing() === before, "import must never touch the source files")
    // deterministic destinations: a re-CALL maps to the same names,
    // which are already referenced -> nothing copies, nothing commits
    assert(spark.sql(
      s"CALL gp.system.register_files('db.imp', source_dir => '$land')")
      .head().getLong(1) === 0L)
    // an incremental landing: only the NEW file is adopted
    spark.range(1).selectExpr("id + 500 AS id", "CAST(id AS STRING) AS v")
      .coalesce(1).write.mode("overwrite").parquet(s"$land/batch2")
    assert(spark.sql(
      s"CALL gp.system.register_files('db.imp', source_dir => '$land')")
      .head().getLong(1) === 1L)
    assert(spark.sql("SELECT count(*) FROM gp.db.imp").head().getLong(0) === 16L)
    // a schema-drifted landing fails LOUDLY, commits nothing, and cleans
    // its own scratch: the next IN-PLACE register finds nothing to sweep
    val bad = Files.createTempDirectory("graft_landing_bad_").toString
    spark.range(3).selectExpr("id AS wrong_col")
      .coalesce(1).write.mode("overwrite").parquet(bad)
    val drift = intercept[Exception] {
      spark.sql(
        s"CALL gp.system.register_files('db.imp', source_dir => '$bad')").collect()
    }
    assert(drift.getMessage.contains("register_files"), drift.getMessage)
    assert(spark.sql("SELECT count(*) FROM gp.db.imp").head().getLong(0) === 16L,
      "failed import must commit nothing")
    assert(spark.sql("CALL gp.system.register_files('db.imp')").head()
      .getLong(1) === 0L,
      "a failed import must not leave adoptable files under the table dir")
    // missing source dir and empty matches are loud
    val missing = intercept[Exception] {
      spark.sql("CALL gp.system.register_files('db.imp', " +
        "source_dir => '/no/such/dir_xyz')").collect()
    }
    assert(missing.getMessage.contains("no such source directory"),
      missing.getMessage)
  }

  test("snapshot tags: VERSION AS OF name, t.refs, vacuum retention") {
    ensureDb()
    spark.sql("CREATE TABLE gp.db.tags (id BIGINT, v STRING) USING manifest")
    spark.sql("INSERT INTO gp.db.tags SELECT /*+ REPARTITION(1) */ id, 'a' FROM range(10)") // v1
    val tagged = spark.sql("CALL gp.system.tag('db.tags', 'rel-1')").head()
    assert((tagged.getString(0), tagged.getLong(1)) === ("rel-1", 1L))
    // move the table on: replace the snapshot twice so v1's pool becomes
    // vacuum fodder UNLESS the tag retains it
    spark.sql("INSERT OVERWRITE gp.db.tags SELECT /*+ REPARTITION(1) */ id, 'b' FROM range(5)")
    spark.sql("INSERT OVERWRITE gp.db.tags SELECT /*+ REPARTITION(1) */ id, 'c' FROM range(3)")
    spark.sql("INSERT OVERWRITE gp.db.tags SELECT /*+ REPARTITION(1) */ id, 'd' FROM range(2)")
    spark.sql("CALL gp.system.vacuum('db.tags', keep => 2, orphan_retain_ms => 0)")
    // the tagged snapshot reads back whole; untagged old versions are gone
    assert(spark.sql("SELECT count(*) FROM gp.db.tags VERSION AS OF 'rel-1'")
      .head().getLong(0) === 10L)
    assert(spark.sql("SELECT v FROM gp.db.tags VERSION AS OF 'rel-1' LIMIT 1")
      .head().getString(0) === "a")
    assert(ManifestTable.allVersions(dataDir("tags")).toSet === Set(1L, 3L, 4L))
    assert(spark.sql("SELECT count(*) FROM gp.db.tags").head().getLong(0) === 2L)
    // t.refs lists the tag; drop releases it
    val refs = spark.sql("SELECT name, version FROM gp.db.tags.refs").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(refs === Seq(("rel-1", 1L)))
    assert(spark.sql("CALL gp.system.drop_tag('db.tags', 'rel-1')").head().getBoolean(0))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gp.db.tags VERSION AS OF 'rel-1'").collect()
    }
    assert(e.getMessage.contains("no tag"))
    // tagging an uncommitted version is loud
    val e2 = intercept[Exception] {
      spark.sql("CALL gp.system.tag('db.tags', 'nope', 99)").collect()
    }
    assert(e2.getMessage.contains("not committed"))
    // all-digit tag names are rejected: VERSION AS OF resolves numeric
    // literals as versions first, so tag '2024' would be unreadable
    val e3 = intercept[Exception] {
      spark.sql("CALL gp.system.tag('db.tags', '2024', 1)").collect()
    }
    assert(e3.getMessage.contains("all digits"))
  }

  test("CALL compact zorder: interleaved layout via SQL, guards loud") {
    ensureDb()
    spark.sql("CREATE TABLE gp.db.zo (x BIGINT, y BIGINT, pad STRING) USING manifest")
    spark.sql("INSERT INTO gp.db.zo SELECT id % 256, (id * 37) % 256, " +
      "repeat(sha2(CAST(id AS STRING), 256), 4) FROM range(20000)")
    val row = spark.sql(
      "CALL gp.system.compact('db.zo', target_mb => 1, zorder => 'x,y')").head()
    assert(row.getLong(1) > 1, "target_mb=1 must yield multiple files")
    // every output file's log stats box is narrower than the full domain
    // in BOTH dimensions — the layout contract a linear sort can't give
    val dir = dataDir("zo")
    val st = ManifestTable.state(dir, ManifestTable.currentVersion(dir).get)
    def widths(c: String) = st.files.map { f =>
      val cs = st.stats(f).col(c).get
      (cs.max, cs.min) match {
        case (Some(graft.core.FileStats.LongVal(hi)),
              Some(graft.core.FileStats.LongVal(lo))) => hi - lo
        case other => fail(s"no long bounds for $c in $f: $other")
      }
    }
    assert(widths("x").forall(_ < 255L) && widths("y").forall(_ < 255L),
      s"some file spans a full dimension: x=${widths("x")} y=${widths("y")}")
    // guards: exclusive with cluster_by, 2-4 columns, no small_only
    for ((call, msg) <- Seq(
        ("CALL gp.system.compact('db.zo', cluster_by => 'x', zorder => 'x,y')",
          "exclusive"),
        ("CALL gp.system.compact('db.zo', zorder => 'x')", "2 to 4"),
        ("CALL gp.system.compact('db.zo', zorder => 'x,y,x,y,x')", "2 to 4"),
        ("CALL gp.system.compact('db.zo', zorder => 'x,y', small_only => true)",
          "small_only"))) {
      val e = intercept[Exception](spark.sql(call).collect())
      assert(e.getMessage.contains(msg), call)
    }
    assert(spark.sql("SELECT count(*), sum(x), sum(y) FROM gp.db.zo")
      .head().toSeq === Seq(20000L,
        (0L until 20000L).map(_ % 256).sum, (0L until 20000L).map(i => i * 37 % 256).sum))
  }

  test("CALL compact where: scoped rewrite, churn guard, loud guards") {
    ensureDb()
    spark.sql("CREATE TABLE gp.db.sc (id BIGINT, v STRING) USING manifest")
    (0 until 3).foreach { k =>
      spark.sql("INSERT INTO gp.db.sc SELECT id, CAST(id AS STRING) " +
        s"FROM range(${k * 100}, ${(k + 1) * 100})")
    }
    val dir = dataDir("sc")
    def files() = ManifestTable.state(dir,
      ManifestTable.currentVersion(dir).get).files.toSet
    val before = files()
    // scoped: only the two low-range file sets rewrite; the rest survive
    val row = spark.sql(
      "CALL gp.system.compact('db.sc', where => 'id < 200')").head()
    assert(row.getLong(0) >= 2, s"expected >= 2 files selected, got $row")
    val after = files()
    val survivors = before intersect after
    assert(survivors.nonEmpty, "high-range files must survive the scoped rewrite")
    assert((before -- after).nonEmpty && (after -- before).nonEmpty)
    // contents unchanged
    assert(spark.sql("SELECT count(*), sum(id) FROM gp.db.sc").head().toSeq ===
      Seq(300L, (0L until 300L).sum))
    // churn guard: a predicate matching at most ONE file is a no-op
    val noop = spark.sql(
      "CALL gp.system.compact('db.sc', where => 'id > 10000')").head()
    assert(noop.getLong(0) === 0L && files() == after)
    // a constant-false/null predicate matches NOTHING — it must be a
    // no-op, never a full-table rewrite (the mayMatch Literal arm)
    assert(spark.sql("CALL gp.system.compact('db.sc', where => 'false')")
      .head().getLong(0) === 0L && files() == after)
    assert(spark.sql(
      "CALL gp.system.compact('db.sc', where => 'cast(null as boolean)')")
      .head().getLong(0) === 0L && files() == after)
    // guards are loud: small_only exclusive, bucketed refused, bad SQL
    val e1 = intercept[Exception](spark.sql(
      "CALL gp.system.compact('db.sc', where => 'id < 10', small_only => true)").collect())
    assert(e1.getMessage.contains("different file selectors"))
    val e2 = intercept[Exception](spark.sql(
      "CALL gp.system.compact('db.sc', where => 'no_such < 10')").collect())
    assert(e2.getMessage.contains("does not resolve"))
    val e3 = intercept[Exception](spark.sql(
      "CALL gp.system.compact('db.sc', where => 'id')").collect())
    assert(e3.getMessage.contains("must be BOOLEAN"))
    spark.sql("""CREATE TABLE gp.db.scb (k BIGINT, v STRING) USING manifest
                 PARTITIONED BY (bucket(4, k))""")
    val e4 = intercept[Exception](spark.sql(
      "CALL gp.system.compact('db.scb', where => 'k < 10')").collect())
    assert(e4.getMessage.contains("bucketed"))
  }

  test("procedures are discoverable and argument errors are loud") {
    ensureDb()
    val procs = spark.sql("SHOW PROCEDURES IN gp.system").collect().map(_.getString(3))
    assert(procs.toSet ===
      Set("compact", "vacuum", "rollback", "register_files", "purge_deletes",
        "tag", "drop_tag", "branch", "fast_forward", "drop_branch",
        "set_partitioning", "expire_refs", "clone", "collect_stats",
        "add_generated_column"))
    val e = intercept[Exception] {
      spark.sql("CALL gp.system.nope('db.t')").collect()
    }
    assert(e.getMessage.contains("FAILED_TO_LOAD_ROUTINE")) // Spark wraps our "no procedure"
    val e2 = intercept[Exception] {
      spark.sql("CALL gp.system.compact('db.missing')").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("table"))
  }

  test("branch refs: write-audit-publish end to end via SQL") {
    ensureDb()
    spark.sql("CREATE TABLE gp.db.wap (id BIGINT, q STRING) USING manifest")
    spark.sql("INSERT INTO gp.db.wap SELECT id, 'good' FROM range(10)") // main v1
    val br = spark.sql("CALL gp.system.branch('db.wap', 'ingest')").head()
    assert((br.getString(0), br.getLong(1)) === ("ingest", 1L))
    // WRITE: the pipeline session pins the branch; its inserts stage there
    spark.conf.set(GraftCatalog.WapBranchConf, "ingest")
    try {
      spark.sql("INSERT INTO gp.db.wap SELECT id + 100, 'good' FROM range(5)")
      spark.sql("INSERT INTO gp.db.wap SELECT id + 200, 'junk' FROM range(3)")
      // AUDIT inside the session: reads see the staged state...
      assert(spark.sql("SELECT count(*) FROM gp.db.wap").head().getLong(0) === 18L)
      // ...quality-gate DML runs ON THE BRANCH (copy-on-write rewrite
      // committed to the branch log, main untouched)
      spark.sql("DELETE FROM gp.db.wap WHERE q = 'junk'")
      assert(spark.sql("SELECT count(*) FROM gp.db.wap").head().getLong(0) === 15L)
    } finally spark.conf.unset(GraftCatalog.WapBranchConf)
    // outside the session conf: main never saw any of it
    assert(spark.sql("SELECT count(*) FROM gp.db.wap").head().getLong(0) === 10L)
    // explicit audit view without the conf
    assert(spark.sql("SELECT count(*) FROM gp.db.wap VERSION AS OF 'ingest'")
      .head().getLong(0) === 15L)
    // t.refs lists the branch next to tags
    val refRows = spark.sql("SELECT name, type FROM gp.db.wap.refs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(refRows.contains(("ingest", "branch")), s"refs: $refRows")
    // a concurrent main APPEND lands after the fork; publish must carry it
    spark.sql("INSERT INTO gp.db.wap SELECT id + 300, 'main' FROM range(2)")
    val pub = spark.sql("CALL gp.system.fast_forward('db.wap', 'ingest')").head()
    assert(pub.getString(0) === "ingest")
    assert(spark.sql("SELECT count(*) FROM gp.db.wap").head().getLong(0) === 17L,
      "publish must carry branch adds AND the concurrent main append")
    assert(spark.sql("SELECT count(*) FROM gp.db.wap WHERE q = 'junk'")
      .head().getLong(0) === 0L, "the audited delete must publish")
    // publish vs concurrent main DML on fork-base files: stale audit aborts
    spark.sql("CALL gp.system.branch('db.wap', 'ingest2')")
    spark.conf.set(GraftCatalog.WapBranchConf, "ingest2")
    try spark.sql("INSERT INTO gp.db.wap SELECT id + 400, 'b2' FROM range(2)")
    finally spark.conf.unset(GraftCatalog.WapBranchConf)
    spark.sql("UPDATE gp.db.wap SET q = 'touched' WHERE id = 0") // main rewrite
    val race = intercept[Exception] {
      spark.sql("CALL gp.system.fast_forward('db.wap', 'ingest2')").collect()
    }
    assert(race.getMessage.contains("re-audit"), s"wrong error: ${race.getMessage}")
    assert(spark.sql("CALL gp.system.drop_branch('db.wap', 'ingest2')")
      .head().getBoolean(0))
    // a typo'd/missing branch name must FAIL writes, not land on main
    spark.conf.set(GraftCatalog.WapBranchConf, "ingst-typo")
    try {
      val typo = intercept[Exception] {
        spark.sql("INSERT INTO gp.db.wap SELECT 999, 'oops'")
      }
      assert(typo.getMessage.contains("no branch 'ingst-typo'"),
        s"wrong error: ${typo.getMessage}")
      // reads still fall back to main (dimension lookups stay usable)
      assert(spark.sql("SELECT count(*) FROM gp.db.wap").head().getLong(0) > 0L)
    } finally spark.conf.unset(GraftCatalog.WapBranchConf)
    // streaming writes STAGE into a WAP branch (continuous write-audit-
    // publish): epochs commit to the branch log; main is untouched until
    // fast_forward publishes the audited stream output
    val mainBefore = spark.sql("SELECT count(*) FROM gp.db.wap").head().getLong(0)
    spark.sql("CALL gp.system.branch('db.wap', 'stream-in')")
    spark.conf.set(GraftCatalog.WapBranchConf, "stream-in")
    try {
      import spark.implicits._
      implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      ms.addData(1L, 2L, 3L)
      val q = ms.toDF().selectExpr("value + 9000 AS id", "'stream' AS q")
        .writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("wap_ck_").toString)
        .toTable("gp.db.wap")
      q.processAllAvailable(); q.stop()
      // the audit session sees the staged epochs on the branch
      assert(spark.sql("SELECT count(*) FROM gp.db.wap WHERE q = 'stream'")
        .head().getLong(0) === 3L)
    } finally spark.conf.unset(GraftCatalog.WapBranchConf)
    assert(spark.sql("SELECT count(*) FROM gp.db.wap").head().getLong(0) === mainBefore,
      "stream epochs staged to the branch must not touch main")
    spark.sql("CALL gp.system.fast_forward('db.wap', 'stream-in')").collect()
    assert(spark.sql("SELECT count(*) FROM gp.db.wap WHERE q = 'stream'")
      .head().getLong(0) === 3L, "publish must expose the audited stream output")
  }

  test("ref retention: t.refs ages, expire_refs drops stale branches (tags opt-in)") {
    ensureDb()
    spark.sql("CREATE TABLE gp.db.ret (id BIGINT) USING manifest")
    spark.sql("INSERT INTO gp.db.ret SELECT id FROM range(10)")
    spark.sql("CALL gp.system.branch('db.ret', 'stale-br')")
    spark.sql("CALL gp.system.tag('db.ret', 'rel-1')")
    // staleness surfaces on t.refs: both refs carry a fresh clock
    val refRows = spark.sql(
      "SELECT name, type, last_modified_ms, age_ms FROM gp.db.ret.refs").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.get(2), r.getLong(3))).toMap
    assert(refRows.keySet === Set("stale-br", "rel-1"))
    assert(refRows.values.forall { case (_, ms, age) =>
      ms != null && age >= 0L && age < 60000L }, s"bad ref ages: $refRows")
    // a generous window expires nothing
    val none = spark.sql(
      "CALL gp.system.expire_refs('db.ret', 3600000)").head()
    assert(none.getLong(0) === 0L)
    // age 0 expires the branch; the tag survives (default kind = branch)
    Thread.sleep(20)
    val br = spark.sql("CALL gp.system.expire_refs('db.ret', 0)").head()
    assert(br.getLong(0) === 1L && br.getString(1) === "branch:stale-br")
    assert(ManifestTable.branches(dataDir("ret")).isEmpty)
    assert(ManifestTable.tags(dataDir("ret")).keySet === Set("rel-1"))
    // tags go only when asked for explicitly
    val tg = spark.sql(
      "CALL gp.system.expire_refs('db.ret', 0, kind => 'all')").head()
    assert(tg.getLong(0) === 1L && tg.getString(1) === "tag:rel-1")
    assert(ManifestTable.tags(dataDir("ret")).isEmpty)
    // an ACTIVE branch's clock is its last commit, so activity renews it:
    // a fresh write keeps it out of a short retention window that would
    // have caught its creation time
    // margins sized for a loaded box: creation sits ~2s outside the
    // 1.5s window, and the renewing INSERT only has to land within 1.5s
    // of the expire call (a 50ms window flaked when the suite ran wide)
    spark.sql("CALL gp.system.branch('db.ret', 'busy')")
    Thread.sleep(2000)
    spark.conf.set(GraftCatalog.WapBranchConf, "busy")
    try spark.sql("INSERT INTO gp.db.ret SELECT id + 100 FROM range(3)")
    finally spark.conf.unset(GraftCatalog.WapBranchConf)
    val kept = spark.sql("CALL gp.system.expire_refs('db.ret', 1500)").head()
    assert(kept.getLong(0) === 0L,
      "a branch with a recent commit must not expire on a window older than " +
        "its creation")
    // bad kind is loud
    val bad = intercept[Exception] {
      spark.sql("CALL gp.system.expire_refs('db.ret', 0, kind => 'nope')").collect()
    }
    assert(bad.getMessage.contains("branch|tag|all"), s"wrong error: ${bad.getMessage}")
  }

  test("WAP decontamination is O(delta): stored index probed, released slice never re-shingled") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    ensureDb()
    spark.sql("CREATE TABLE gp.db.wapx (doc_id BIGINT, text STRING) USING manifest")
    spark.sql("INSERT INTO gp.db.wapx SELECT id, " +
      "concat('alpha beta gamma delta tok', CAST(id AS STRING), ' omega') " +
      "FROM range(200)") // released corpus, ids < 1000
    // the release ships with its stored LSH index (atomic CTAS)
    graft.operators.Dedup.lshIndex(
        spark.table("gp.db.wapx"), "doc_id", "text", 3)
      .writeTo("gp.db.wapx_idx").create()
    spark.sql("CALL gp.system.branch('db.wapx', 'r1')")
    spark.conf.set(GraftCatalog.WapBranchConf, "r1")
    try {
      spark.sql("INSERT INTO gp.db.wapx SELECT id + 1000, " +
        "concat('alpha beta gamma delta tok', CAST(id AS STRING), ' omega') " +
        "FROM range(20)") // staged batch
      val released = spark.sql(
        "SELECT doc_id, text FROM gp.db.wapx VERSION AS OF 1")
      val staged = spark.table("gp.db.wapx").filter(col("doc_id") >= 1000)
      // 1. FILE level: the staged-slice scan plans ONLY the staged files —
      // per-file doc_id stats skip every released file, so the banding
      // input is O(delta) at the scan, not just after a row filter
      val releasedFiles = ManifestTable.manifest(dataDir("wapx"), 1L).toSet
      val plannedStaged = staged.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.flatMap {
        case ps: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
          ps.fileIndex.inputFiles.toSeq
        case _ => Seq.empty
      }
      assert(plannedStaged.nonEmpty, "staged scan planned no files")
      assert(plannedStaged.forall(f => !releasedFiles.exists(rf => f.endsWith(rf))),
        s"staged-slice scan planned released files: $plannedStaged")
      // 2. PLAN level (qd09's proof, on the WAP shape): every 64-hash
      // minhash signature Aggregate must sit over the STAGED slice (its
      // subtree carries the staged doc_id predicate); a sig-agg subtree
      // over the released slice = the released corpus re-shingled per
      // release. The stored index must be scanned, not recomputed. The
      // plans are the ones the default call runs, with the persisted
      // arrays and candidates inlined, so leaves are the real scans.
      val (pairs, plans) = graft.core.SparkJobs.plans(spark)(
        graft.operators.Dedup.minhashLshPairsAgainstIndex(
          released, spark.table("gp.db.wapx_idx"), staged, "doc_id", "text", 3, 0.8))
      val sigAggs = plans.flatMap(_.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.aggregateExpressions.map(_.toString)
              .count(_.contains("min(xxhash64")) >= 64 => a
      })
      assert(sigAggs.nonEmpty, "signature aggregation missing entirely")
      def scansCorpus(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        p.collectLeaves().exists { l =>
          val s = l.toString
          s.contains("wapx") && !s.contains("wapx_idx")
        }
      def hasStagedFilter(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        p.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter
              if f.condition.toString.contains("1000") => f
        }.nonEmpty
      val releasedSigAggs = sigAggs.filter(a => scansCorpus(a) && !hasStagedFilter(a))
      assert(releasedSigAggs.isEmpty,
        "the released slice was re-shingled for banding — staged batches " +
          "must probe the stored index instead")
      assert(plans.exists(_.collectLeaves().exists(_.toString.contains("wapx_idx"))),
        "plan does not scan the stored index")
      // 3. VALUES: every staged doc near-dups its released twin
      assert(pairs.filter(col("corpus_id") === col("delta_id") - 1000).count() === 20L)
    } finally spark.conf.unset(GraftCatalog.WapBranchConf)
  }
}
