package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ManifestTable

/** The SQL front door: CREATE/DROP/RENAME/SHOW through [[GraftCatalog]],
  * INSERT INTO/OVERWRITE + VERSION AS OF on manifest tables, keyedlog
  * tables readable and writable by name, LOCATION registration of
  * pre-existing data, and plan evidence that catalog reads keep the
  * built-in parquet scan (pushdown intact). */
class CatalogSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    GraftCatalog.register(s, "g", root)
    s
  }
  private lazy val root =
    "file://" + Files.createTempDirectory("graft_catalog_").toString

  private def ensureDb(): Unit =
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")

  test("namespace + manifest table DDL round-trip with versioned inserts") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.t (id BIGINT, v STRING) USING manifest")
    // empty table: declared schema, zero rows
    val empty = spark.sql("SELECT * FROM g.db.t")
    assert(empty.schema.map(_.name) === Seq("id", "v"))
    assert(empty.count() === 0L)
    spark.sql("INSERT INTO g.db.t VALUES (1, 'a'), (2, 'b')")          // v1
    spark.sql("INSERT INTO g.db.t SELECT id + 10, v FROM g.db.t")      // v2 append
    assert(spark.sql("SELECT count(*) FROM g.db.t").head().getLong(0) === 4L)
    assert(spark.sql("SELECT count(*) FROM g.db.t VERSION AS OF 1").head().getLong(0) === 2L)
    spark.sql("INSERT OVERWRITE g.db.t VALUES (9, 'z')")               // v3 replace
    assert(spark.sql("SELECT count(*) FROM g.db.t").head().getLong(0) === 1L)
    assert(spark.sql("SELECT count(*) FROM g.db.t VERSION AS OF 2").head().getLong(0) === 4L)
    // SHOW surfaces
    assert(spark.sql("SHOW NAMESPACES IN g").collect().map(_.getString(0)).contains("db"))
    assert(spark.sql("SHOW TABLES IN g.db").collect().map(_.getString(1)).contains("t"))
  }

  test("catalog reads go through the parquet scan with pushdown intact") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.pushdown (id BIGINT, v STRING) USING manifest")
    spark.sql("INSERT INTO g.db.pushdown SELECT id, CAST(id AS STRING) FROM range(100)")
    val df = spark.sql("SELECT id FROM g.db.pushdown WHERE id = 7")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"), s"no pushdown:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint>"), s"no pruning:\n$plan")
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(7L))
  }

  test("manifest scans accept runtime join filters (file-pruned via log stats + re-pushed)") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.rtf (id BIGINT, v STRING) USING manifest")
    // two single-file commits with disjoint id ranges: the log's min/max
    // stats can prove one of them irrelevant to a runtime IN filter
    spark.range(0, 100).coalesce(1)
      .selectExpr("id", "CAST(id AS STRING) AS v").writeTo("g.db.rtf").append()
    spark.range(100, 200).coalesce(1)
      .selectExpr("id", "CAST(id AS STRING) AS v").writeTo("g.db.rtf").append()
    val scan = spark.table("g.db.rtf").queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get
    val ms = scan.asInstanceOf[ManifestStreamScan]
    // declares its read columns as runtime-filterable (what lets the
    // planner attach a dynamic-pruning subquery on a join key)
    assert(ms.filterAttributes().map(_.describe()).toSet === Set("id", "v"))
    val allFiles = ms.runtimeScan.fileIndex.inputFiles.length
    assert(allFiles === 2, s"expected 2 planned files, got $allFiles")
    // a runtime IN over the join key FILE-prunes via the log's stats (the
    // 100..199 file is never opened) and lands in the survivors' parquet
    // pushedFilters (row-group skipping); an unknown column is ignored
    ms.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array(1L, 2L))))
    assert(ms.runtimeScan.fileIndex.inputFiles.length === 1,
      "runtime IN must drop the file whose stats exclude every key")
    assert(ms.runtimeScan.pushedFilters.exists {
      case org.apache.spark.sql.sources.In("id", _) => true; case _ => false
    }, "runtime IN filter must be re-pushed into the rebuilt parquet scan")
    ms.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("nope", Array(1L))))
    // the filtered scan still plans and reads exactly the surviving rows
    assert(ms.toBatch.planInputPartitions().nonEmpty)
  }

  test("dimension filter runtime-prunes manifest fact files (v2 DPP end to end)") {
    ensureDb()
    spark.sql("DROP TABLE IF EXISTS g.db.dppfact")
    spark.sql("CREATE TABLE g.db.dppfact (id BIGINT, v BIGINT) USING manifest")
    // 8 single-file commits with disjoint id ranges — a clustered fact
    (0 until 8).foreach { i =>
      spark.range(i * 100L, (i + 1) * 100L).coalesce(1)
        .selectExpr("id", "id * 2 AS v").writeTo("g.db.dppfact").append()
    }
    // a scan-backed dimension with a selective filter on a NON-join
    // attribute: static constraint propagation cannot infer a fact-side
    // predicate from it, so any file pruning is attributable to the
    // RUNTIME (dynamic-pruning) filter alone
    val dimDir = Files.createTempDirectory("graft_dpp_dim_").toString
    spark.range(0, 800).selectExpr("id AS d_id", "id AS d_attr")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
      .filter(col("d_attr") < 40).select("d_id") // keys 0..39: 1 of 8 ranges
    val joined = spark.table("g.db.dppfact")
      .join(broadcast(dim), col("id") === col("d_id"))
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    // collect() executes THIS DataFrame's own QueryExecution (head() plans
    // a separate limit(1) execution whose scan instance is a different one)
    val row = joined.collect()(0)
    assert(row.getLong(0) === 40L && row.getLong(1) === (0L until 40L).map(_ * 2).sum)
    // execution attached a dynamic-pruning runtime filter to the fact scan
    // and the scan file-pruned via log stats: 1 surviving file of 8.
    // The EXECUTED adaptive plan wraps stages in leaf QueryStageExec
    // nodes — descend into them to reach the scan that actually ran.
    def allScans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
      }.flatten
    val exec = joined.queryExecution.executedPlan
    val scans = allScans(exec).filter(_.scan.isInstanceOf[ManifestStreamScan])
    assert(scans.nonEmpty, s"no manifest BatchScanExec in:\n$exec")
    val fact = scans.head
    assert(fact.runtimeFilters.nonEmpty,
      s"no runtime (dynamic-pruning) filter attached to the fact scan:\n$exec")
    val ms = fact.scan.asInstanceOf[ManifestStreamScan]
    assert(ms.plannedFiles.length === 8,
      "static planning must keep all 8 files (no inferable fact predicate)")
    assert(ms.runtimeScan.fileIndex.inputFiles.length === 1,
      s"log-stats runtime pruning must keep 1 of 8 files, kept " +
        s"${ms.runtimeScan.fileIndex.inputFiles.length}")
  }

  test("runtime join filters file-prune the VECTORED read path too") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.rtdv (id BIGINT, v BIGINT) USING manifest " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    spark.range(0, 100).coalesce(1).selectExpr("id", "id * 2 AS v")
      .writeTo("g.db.rtdv").append()
    spark.range(100, 200).coalesce(1).selectExpr("id", "id * 2 AS v")
      .writeTo("g.db.rtdv").append()
    spark.sql("DELETE FROM g.db.rtdv WHERE id IN (1, 150)") // vectors on both files
    val scan = spark.table("g.db.rtdv").queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get
    val ra = scan.asInstanceOf[RowAddressScan]
    assert(ra.plannedFiles.length === 2)
    // a runtime IN over keys of the first file drops the second file —
    // stored-row bounds are a superset of live rows, so pruning under
    // vectors stays sound — and the surviving file still applies its vector
    ra.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array(0L, 1L, 2L))))
    assert(ra.toBatch.planInputPartitions().length === 1,
      "runtime IN must drop the stats-excluded vectored file")
    // end-to-end with the vector applied: id=1 was deleted, 0 and 2 remain
    val dim = spark.range(0, 3).selectExpr("id AS d_id")
    val joined = spark.table("g.db.rtdv")
      .join(broadcast(dim), col("id") === col("d_id"))
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    val row = joined.collect()(0)
    assert(row.getLong(0) === 2L && row.getLong(1) === 4L)
  }

  test("CTAS creates a manifest table from the query schema") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.ctas USING manifest AS SELECT id, id * 2 AS dbl FROM range(10)")
    assert(spark.sql("SELECT sum(dbl) FROM g.db.ctas").head().getLong(0) === 90L)
    assert(spark.table("g.db.ctas").schema.map(_.name) === Seq("id", "dbl"))
  }

  test("keyedlog tables are named, insertable, and filter-pushed via SQL") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.logs (key STRING, seq BIGINT, metric BIGINT) USING keyedlog")
    spark.sql("INSERT INTO g.db.logs VALUES ('en', 1, 10), ('de', 2, 20), ('en', 3, 30)")
    assert(spark.sql("SELECT sum(metric) FROM g.db.logs WHERE key = 'en'")
      .head().getLong(0) === 40L)
    val plan = spark.sql("SELECT metric FROM g.db.logs WHERE key = 'en'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("KeyedLogScan"), s"keyedlog scan missing:\n$plan")
    assert(plan.contains("EqualTo(key,en)"), s"key filter not pushed:\n$plan")
    // schema is fixed
    intercept[Exception](
      spark.sql("CREATE TABLE g.db.badlogs (x INT) USING keyedlog"))
  }

  test("LOCATION registers existing manifest data without moving it") {
    ensureDb()
    import spark.implicits._
    val external = "file://" + Files.createTempDirectory("graft_cat_ext_").toString
    ManifestTable.write(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), external)
    spark.sql(
      s"CREATE TABLE g.db.ext (id BIGINT, v STRING) USING manifest LOCATION '$external'")
    assert(spark.sql("SELECT count(*) FROM g.db.ext").head().getLong(0) === 2L)
    spark.sql("INSERT INTO g.db.ext VALUES (3, 'z')")
    assert(ManifestTable.read(spark, external).count() === 3L,
      "insert through the catalog must land in the external manifest root")
  }

  test("CTAS is atomic: a failing query leaves no table behind") {
    ensureDb()
    intercept[Exception](spark.sql(
      "CREATE TABLE g.db.ctas_fail USING manifest AS " +
        "SELECT id, assert_true(id < 5, 'boom') AS chk FROM range(10)"))
    assert(!spark.sql("SHOW TABLES IN g.db").collect()
      .map(_.getString(1)).contains("ctas_fail"),
      "failed CTAS must not publish a table")
    intercept[Exception](spark.table("g.db.ctas_fail").collect())
  }

  test("REPLACE TABLE AS SELECT swaps contents atomically, keeps history") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.rtas USING manifest AS SELECT id FROM range(5)")
    assert(spark.sql("SELECT count(*) FROM g.db.rtas").head().getLong(0) === 5L)
    spark.sql("REPLACE TABLE g.db.rtas USING manifest AS SELECT id * 10 AS id2 FROM range(3)")
    assert(spark.table("g.db.rtas").schema.map(_.name) === Seq("id2"))
    assert(spark.sql("SELECT count(*) FROM g.db.rtas").head().getLong(0) === 3L)
    // pre-replace snapshot still reachable by version (manifest history)
    assert(spark.sql("SELECT count(*) FROM g.db.rtas VERSION AS OF 1").head().getLong(0) === 5L)
    // CREATE OR REPLACE works on both existing and missing tables
    spark.sql("CREATE OR REPLACE TABLE g.db.rtas USING manifest AS SELECT 1 AS one")
    assert(spark.sql("SELECT count(*) FROM g.db.rtas").head().getLong(0) === 1L)
    spark.sql("CREATE OR REPLACE TABLE g.db.rtas2 USING manifest AS SELECT 2 AS two")
    assert(spark.sql("SELECT two FROM g.db.rtas2").head().getInt(0) === 2)
  }

  test("ALTER TABLE ADD/DROP COLUMNS: old files null-fill; mapped renames work") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.evolve (id BIGINT, v STRING) USING manifest")
    spark.sql("INSERT INTO g.db.evolve VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE g.db.evolve ADD COLUMNS (w BIGINT)")
    // pre-alter files read with the new column as null
    assert(spark.sql("SELECT count(*) FROM g.db.evolve WHERE w IS NULL")
      .head().getLong(0) === 2L)
    spark.sql("INSERT INTO g.db.evolve VALUES (3, 'c', 30)")
    assert(spark.sql("SELECT sum(w) FROM g.db.evolve").head().getLong(0) === 30L)
    assert(spark.table("g.db.evolve").schema.map(_.name) === Seq("id", "v", "w"))
    // drop hides the column; data files are untouched
    spark.sql("ALTER TABLE g.db.evolve DROP COLUMN v")
    assert(spark.table("g.db.evolve").schema.map(_.name) === Seq("id", "w"))
    assert(spark.sql("SELECT count(*) FROM g.db.evolve").head().getLong(0) === 3L)
    // catalog-born tables use COLUMN MAPPING (parquet field ids): RENAME
    // is metadata-only — every file ever written resolves by id
    spark.sql("ALTER TABLE g.db.evolve RENAME COLUMN w TO w2")
    assert(spark.table("g.db.evolve").schema.map(_.name) === Seq("id", "w2"))
    assert(spark.sql("SELECT sum(w2) FROM g.db.evolve").head().getLong(0) === 30L)
    // a REUSED dropped name must NOT resurrect the dropped column's data
    spark.sql("ALTER TABLE g.db.evolve ADD COLUMNS (v STRING)")
    assert(spark.sql("SELECT count(*) FROM g.db.evolve WHERE v IS NOT NULL")
      .head().getLong(0) === 0L, "dropped column's bytes leaked into a reused name")
    // non-nullable adds are impossible for existing files
    intercept[Exception](
      spark.sql("ALTER TABLE g.db.evolve ADD COLUMNS (z BIGINT NOT NULL)"))
  }

  test("ALTER COLUMN TYPE widens in place; old INT32/FLOAT files read exact") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.widen (id INT, x FLOAT, v STRING) USING manifest")
    spark.sql("INSERT INTO g.db.widen " +
      "SELECT CAST(id AS INT), CAST(id AS FLOAT) / 2, concat('a', id) FROM range(100)")
    // widen int -> bigint and float -> double: METADATA-ONLY (no rewrite)
    val filesBefore = spark.sql("SELECT count(*) FROM g.db.widen.files").head().getLong(0)
    spark.sql("ALTER TABLE g.db.widen ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE g.db.widen ALTER COLUMN x TYPE DOUBLE")
    assert(spark.sql("SELECT count(*) FROM g.db.widen.files").head().getLong(0)
      === filesBefore, "widening must not rewrite files")
    // new writes carry genuinely 64-bit values next to the INT32 history
    spark.sql("INSERT INTO g.db.widen " +
      "SELECT id + 10000000000, CAST(id AS DOUBLE) + 0.25, concat('b', id) FROM range(5)")
    val full = spark.table("g.db.widen")
    assert(full.schema("id").dataType === org.apache.spark.sql.types.LongType)
    assert(full.schema("x").dataType === org.apache.spark.sql.types.DoubleType)
    assert(full.count() === 105L)
    // old-file values exact under the widened read (both reader paths end
    // up exercised across the suite; the sum is bit-exact either way)
    assert(spark.sql("SELECT CAST(sum(id) AS BIGINT) FROM g.db.widen WHERE id < 1000")
      .head().getLong(0) === (0L until 100L).sum)
    assert(spark.sql("SELECT count(*) FROM g.db.widen WHERE id >= 10000000000")
      .head().getLong(0) === 5L)
    // data skipping still prunes with mixed-width history
    assert(spark.sql("SELECT count(*) FROM g.db.widen WHERE id = 10000000003")
      .head().getLong(0) === 1L)
    // DML across the widened history: rewrite reads INT32 files under the
    // BIGINT schema and writes INT64 survivors
    spark.sql("DELETE FROM g.db.widen WHERE id % 10 = 3 AND id < 1000")
    assert(spark.table("g.db.widen").count() === 95L)
    // narrowing / reshape rejection: Spark's analyzer refuses non-up-casts
    // (bigint->int, string->bigint) before the catalog sees them...
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE g.db.widen ALTER COLUMN id TYPE INT")
    }
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      s"wrong error: ${e.getMessage}")
    // ...and the catalog's own guard refuses up-casts parquet history
    // cannot serve without rewrite (bigint -> decimal passes the
    // analyzer's Cast.canUpCast but is not a parquet read-promotion)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE g.db.widen ALTER COLUMN id TYPE DECIMAL(38,0)")
    }
    assert(e2.getMessage.contains("lossless") || e2.getMessage.contains("widening"),
      s"wrong error: ${e2.getMessage}")
  }

  test("mapped tables refuse by-name reads loudly (field-id conf fail-safe)") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.guard (id BIGINT, v STRING) USING manifest")
    spark.sql("INSERT INTO g.db.guard VALUES (1, 'a')")
    // a hand-wired session: catalog confs copied, register() never called
    // -> field-id resolution off -> a renamed column would silently null.
    // The scan must fail LOUDLY instead.
    val bare = spark.newSession()
    bare.conf.set("spark.sql.catalog.g2", classOf[GraftCatalog].getName)
    bare.conf.set("spark.sql.catalog.g2.root", root)
    val e = intercept[Exception](bare.sql("SELECT * FROM g2.db.guard").collect())
    assert(e.getMessage.contains("fieldId.read.enabled"), s"wrong error: ${e.getMessage}")
    // enabling the conf (what register() does) unblocks the same session
    bare.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    assert(bare.sql("SELECT count(*) FROM g2.db.guard").head().getLong(0) === 1L)
  }

  test("RENAME COLUMN: history, DML, and compaction survive; unmapped tables reject") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.ren (id BIGINT, val BIGINT) USING manifest")
    spark.sql("INSERT INTO g.db.ren SELECT id, id * 10 FROM range(5)")   // v1
    spark.sql("INSERT INTO g.db.ren SELECT id + 5, id * 100 FROM range(3)") // v2
    spark.sql("ALTER TABLE g.db.ren RENAME COLUMN val TO amount")
    // time travel BEFORE the rename serves the current logical name
    // (the descriptor is table-wide — Delta/Iceberg mapping semantics)
    assert(spark.sql("SELECT sum(amount) FROM g.db.ren VERSION AS OF 1")
      .head().getLong(0) === (0 until 5).map(_ * 10L).sum)
    // filters + pushdown on the renamed column read pre-rename files
    assert(spark.sql("SELECT count(*) FROM g.db.ren WHERE amount >= 100")
      .head().getLong(0) === 2L)
    // DML through the renamed name rewrites pre-rename files correctly
    spark.sql("UPDATE g.db.ren SET amount = amount + 1 WHERE id = 0")
    spark.sql("DELETE FROM g.db.ren WHERE amount = 200")
    assert(spark.sql("SELECT sum(amount) FROM g.db.ren").head().getLong(0) ===
      (1L + 10 + 20 + 30 + 40) + 100L)
    // compaction rewrites post-rename and stays readable
    spark.sql("CALL g.system.compact('db.ren')").collect()
    assert(spark.sql("SELECT sum(amount) FROM g.db.ren").head().getLong(0) ===
      (1L + 10 + 20 + 30 + 40) + 100L)
    // a second rename chains (id is the stable identity, names are labels)
    spark.sql("ALTER TABLE g.db.ren RENAME COLUMN amount TO total")
    assert(spark.sql("SELECT sum(total) FROM g.db.ren").head().getLong(0) ===
      (1L + 10 + 20 + 30 + 40) + 100L)
    // LOCATION tables adopt id-less files -> unmapped -> renames reject
    val ext = "file://" + Files.createTempDirectory("graft_ren_ext_").toString
    import spark.implicits._
    graft.core.ManifestTable.write(Seq((1L, "x")).toDF("id", "v"), ext)
    spark.sql(s"CREATE TABLE g.db.renx (id BIGINT, v STRING) USING manifest LOCATION '$ext'")
    val e = intercept[Exception](
      spark.sql("ALTER TABLE g.db.renx RENAME COLUMN v TO w"))
    assert(e.getMessage.contains("column mapping"), s"wrong error: ${e.getMessage}")
  }

  test("RENAME COLUMN on a BUCKET column: compaction re-buckets on the new name") {
    ensureDb()
    spark.sql("""CREATE TABLE g.db.renb (k BIGINT, v BIGINT) USING manifest
                 PARTITIONED BY (bucket(4, k))""")
    spark.sql("INSERT INTO g.db.renb SELECT id % 7, id FROM range(20)")
    spark.sql("ALTER TABLE g.db.renb RENAME COLUMN k TO shard")
    // the descriptor followed the rename: bucketing now names the new col
    val props = spark.sql("SHOW TBLPROPERTIES g.db.renb").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props("graft.bucketing") === "bucket(4, shard)")
    // compaction must read the snapshot with the DECLARED (id-mapped)
    // schema: the data files physically carry the pre-rename name 'k',
    // and the re-bucket repartitions on 'shard' — an inferred-schema
    // read would fail with an unresolved column here
    spark.sql("CALL g.system.compact('db.renb')").collect()
    assert(spark.sql("SELECT sum(v) FROM g.db.renb").head().getLong(0) ===
      (0 until 20).sum.toLong)
    assert(spark.sql("SELECT shard, count(*) AS n FROM g.db.renb GROUP BY shard")
      .collect().length === 7)
    // the rewrite stayed bucketed (files in a d-bucketed-4- pool), so
    // storage-partitioned scans survive the rename+compact round-trip
    val pools = spark.sql("SELECT pool FROM g.db.renb.files").collect()
      .map(_.getString(0)).distinct
    assert(pools.length === 1 && pools.head.startsWith("d-bucketed-4-"),
      s"compaction must keep the bucketed layout, got pools: ${pools.mkString(",")}")
  }

  test("metadata tables: t.history lists versions, t.files the current snapshot") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.meta (id BIGINT) USING manifest")
    spark.sql("INSERT INTO g.db.meta SELECT id FROM range(10)")
    spark.sql("INSERT INTO g.db.meta SELECT id FROM range(5)")
    val hist = spark.sql(
      "SELECT version, n_files, added_files FROM g.db.meta.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hist.map(_._1).toSeq === Seq(1L, 2L))
    assert(hist(1)._2 === hist(0)._2 + hist(1)._3,
      "v2 file count = v1 files + v2 added files (append re-lists, never rewrites)")
    val files = spark.sql("SELECT file, bytes, pool FROM g.db.meta.files").collect()
    assert(files.length.toLong === hist(1)._2)
    assert(files.forall(_.getLong(1) > 0L))
    assert(files.forall(r => r.getString(0).startsWith(r.getString(2) + "/")))
    // history total_bytes grows with the append
    val bytes = spark.sql("SELECT total_bytes FROM g.db.meta.history ORDER BY version")
      .collect().map(_.getLong(0))
    assert(bytes(1) > bytes(0))
    // unknown metadata suffix and non-table namespaces fail cleanly
    intercept[Exception](spark.sql("SELECT * FROM g.db.meta.nope").collect())
    intercept[Exception](spark.sql("SELECT * FROM g.db.absent.history").collect())
  }

  test("t.history reads a log whose versions have gaps (a tag kept v1 across a vacuum)") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.gaps (id BIGINT, v STRING) USING manifest")
    spark.sql("INSERT INTO g.db.gaps SELECT /*+ REPARTITION(1) */ id, 'a' FROM range(10)") // v1
    spark.sql("CALL g.system.tag('db.gaps', 'rel-1')")
    Seq("b" -> 5, "c" -> 3, "d" -> 2).foreach { case (v, n) =>                       // v2..v4
      spark.sql(s"INSERT OVERWRITE g.db.gaps SELECT /*+ REPARTITION(1) */ id, '$v' FROM range($n)")
    }
    spark.sql("CALL g.system.vacuum('db.gaps', keep => 2, orphan_retain_ms => 0)")
    val hist = spark.sql(
      "SELECT version, n_files, added_files FROM g.db.gaps.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // v3 is diffed against v1, the previous version still listed
    assert(hist === Seq((1L, 1L, 1L), (3L, 1L, 1L), (4L, 1L, 1L)))
    val bytes = spark.sql("SELECT total_bytes FROM g.db.gaps.history ORDER BY version")
      .collect().map(_.getLong(0))
    assert(bytes.forall(_ > 0L))
  }

  test("keyedlog t.history: one row per journal version, bytes of surviving files only") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.klhist (key STRING, seq BIGINT, metric BIGINT) USING keyedlog")
    val tableDir = new java.io.File(new java.net.URI(s"$root/db/klhist"))
    def dataFiles: Map[String, Long] = tableDir.listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getName -> f.length()).toMap
    // the data files each statement wrote, read off the directory
    val added = Seq.newBuilder[Set[String]]
    Seq("('a', 1, 10), ('b', 2, 20)", "('c', 3, 30)", "('a', 4, 40), ('d', 5, 50)")
      .foreach { rows =>
        val before = dataFiles.keySet
        spark.sql(s"INSERT INTO g.db.klhist VALUES $rows")
        added += dataFiles.keySet -- before
      }
    spark.sql("CALL g.system.compact('db.klhist')")
    val compacted = dataFiles
    added += compacted.keySet
    val expected = added.result()
    val hist = spark.sql("SELECT version, committed_at, added_files, added_bytes " +
      "FROM g.db.klhist.history ORDER BY version").collect()
    assert(hist.map(_.getLong(0)).toSeq === expected.indices.map(_.toLong))
    assert(hist.map(_.getLong(2)).toSeq === expected.map(_.size.toLong))
    assert(expected.forall(_.nonEmpty))
    // the compaction swapped every earlier file out: their rows stay as
    // history with zero surviving bytes; the rewrite's row counts its own
    assert(hist.init.map(_.getLong(3)).toSeq === Seq(0L, 0L, 0L))
    assert(hist.last.getLong(3) === compacted.values.sum)
    val times = hist.map(_.getTimestamp(1).getTime).toSeq
    assert(times.forall(_ > 0L) && times === times.sorted, s"commit times: $times")
  }

  test("TIMESTAMP AS OF resolves the version committed at that instant") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.ts (id BIGINT) USING manifest")
    spark.sql("INSERT INTO g.db.ts VALUES (1)")                 // v1
    Thread.sleep(1100)                                          // mtime granularity
    val between = java.time.Instant.ofEpochMilli(System.currentTimeMillis()).toString
    Thread.sleep(1100)
    spark.sql("INSERT INTO g.db.ts VALUES (2), (3)")            // v2
    assert(spark.sql("SELECT count(*) FROM g.db.ts").head().getLong(0) === 3L)
    val asOf = spark.sql(
      s"SELECT count(*) FROM g.db.ts TIMESTAMP AS OF '$between'")
    assert(asOf.head().getLong(0) === 1L,
      "timestamp between the commits must resolve to v1")
    // before any commit: clear error
    intercept[Exception](
      spark.sql("SELECT * FROM g.db.ts TIMESTAMP AS OF '1970-01-02 00:00:00'").collect())
  }

  test("incremental reads serve only files added after start_version") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.incr (id BIGINT, v STRING) USING manifest")
    spark.sql("INSERT INTO g.db.incr SELECT id, 'b1' FROM range(10)")        // v1
    spark.sql("INSERT INTO g.db.incr SELECT id + 100, 'b2' FROM range(5)")   // v2
    spark.sql("INSERT INTO g.db.incr SELECT id + 200, 'b3' FROM range(3)")   // v3
    def incr(opts: (String, String)*) = {
      var r = spark.read
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.table("g.db.incr")
    }
    // since v1: batches 2+3 only
    assert(incr("start_version" -> "1").select("v").distinct().collect()
      .map(_.getString(0)).toSet === Set("b2", "b3"))
    assert(incr("start_version" -> "1").count() === 8L)
    // bounded window (v1, v2]: batch 2 only
    assert(incr("start_version" -> "1", "end_version" -> "2")
      .agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) ===
      (0 until 5).map(_ + 100).sum.toLong)
    // cursor at head: empty, with the declared schema
    val empty = incr("start_version" -> "3")
    assert(empty.schema.map(_.name) === Seq("id", "v") && empty.count() === 0L)
    // a DML rewrite's output files surface as changes (upsert contract)
    spark.sql("UPDATE g.db.incr SET v = 'patched' WHERE id = 0")             // v4
    val since3 = incr("start_version" -> "3").select("v").distinct().collect()
      .map(_.getString(0)).toSet
    assert(since3.contains("patched") && !since3.contains("b2"),
      s"rewrite must resurface only the rewritten file's rows: $since3")
    // errors: unknown versions and combining with time travel
    val e = intercept[Exception] { incr("start_version" -> "99").count() }
    assert(e.getMessage.contains("not committed"))
  }

  test("t.changes serves full CDC: appends as inserts, rewrites as delete+insert") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.cdcfull (id BIGINT, v BIGINT) USING manifest")
    spark.sql("INSERT INTO g.db.cdcfull SELECT /*+ REPARTITION(1) */ id, id * 10 FROM range(10)") // v1
    spark.sql("INSERT INTO g.db.cdcfull SELECT /*+ REPARTITION(1) */ id + 100, 0 FROM range(5)")  // v2
    def changes(from: Long) = spark.read.option("start_version", from.toString)
      .table("g.db.cdcfull.changes")
    // pure append window: inserts only
    val app = changes(1).collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(app.forall(_._2 == "insert") && app.map(_._1).sorted === (100L until 105L))
    // a rewrite emits the affected file's pre-image as deletes + post as inserts
    spark.sql("UPDATE g.db.cdcfull SET v = v + 1 WHERE id = 3")                                   // v3
    val rew = changes(2).collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val dels = rew.filter(_._3 == "delete").map(r => (r._1, r._2)).toMap
    val ins = rew.filter(_._3 == "insert").map(r => (r._1, r._2)).toMap
    assert(dels.keySet === (0L until 10L).toSet, s"pre-image of v1's file: $dels")
    assert(dels(3L) === 30L && ins(3L) === 31L, "delete pre-image, insert post-image")
    assert(ins.keySet === (0L until 10L).toSet)
    // empty window at head; missing cursor errors
    assert(changes(3).count() === 0L)
    val e = intercept[Exception] {
      spark.read.table("g.db.cdcfull.changes").count()
    }
    assert(e.getMessage.contains("start_version"))
  }

  test("keyedlog t.changes: inserts tagged, compaction is one rewrite event") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.klchg (key STRING, seq BIGINT, metric BIGINT) USING keyedlog")
    spark.sql("INSERT INTO g.db.klchg VALUES ('a', 1, 10), ('b', 2, 20)")  // journal v0
    spark.sql("INSERT INTO g.db.klchg VALUES ('a', 3, 30)")                // journal v1
    def changes(opts: (String, String)*) = {
      val r = spark.read
      opts.foreach { case (k, v) => r.option(k, v) }
      r.table("g.db.klchg.changes")
        .collect().map(x => (x.getString(0), x.getLong(1), x.getString(3))).toSet
    }
    // pure insert windows, exclusive start
    assert(changes("start_version" -> "-1") ===
      Set(("a", 1L, "insert"), ("b", 2L, "insert"), ("a", 3L, "insert")))
    assert(changes("start_version" -> "0") === Set(("a", 3L, "insert")))
    assert(changes("start_version" -> "-1", "end_version" -> "0") ===
      Set(("a", 1L, "insert"), ("b", 2L, "insert")))
    // compaction journals the whole rewritten set as ONE rewrite event
    spark.sql("CALL g.system.compact('db.klchg')")                         // journal v2 (rewrite)
    spark.sql("INSERT INTO g.db.klchg VALUES ('c', 4, 40)")                // journal v3
    val feed = changes("start_version" -> "-1")
    assert(feed === Set(("a", 1L, "rewrite"), ("b", 2L, "rewrite"),
      ("a", 3L, "rewrite"), ("c", 4L, "insert")),
      s"rewrite supersedes pre-compaction inserts, later inserts follow: $feed")
    // windows starting after the rewrite see only plain inserts
    assert(changes("start_version" -> "2") === Set(("c", 4L, "insert")))
    // error contract matches the manifest feed
    val e1 = intercept[Exception] {
      spark.read.table("g.db.klchg.changes").count()
    }
    assert(e1.getMessage.contains("start_version"))
    val e2 = intercept[Exception] { changes("start_version" -> "99") }
    assert(e2.getMessage.contains("not journaled"), e2.getMessage)
    val e3 = intercept[Exception] {
      changes("start_version" -> "2", "end_version" -> "0")
    }
    assert(e3.getMessage.contains("precedes"), e3.getMessage)
  }

  test("keyedlog metadata tables: t.files carries key tags, t.partitions layout stats") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.klmeta (key STRING, seq BIGINT, metric BIGINT) USING keyedlog")
    spark.sql("INSERT INTO g.db.klmeta VALUES ('a', 1, 10), ('b', 2, 20)")
    // plain (unclustered) writes: files exist but carry no key tag
    val files = spark.sql("SELECT file, bytes, key, clustered FROM g.db.klmeta.files")
      .collect()
    assert(files.nonEmpty && files.forall(_.getLong(1) > 0))
    assert(files.forall(!_.getBoolean(3)), "plain writes are unclustered")
    val parts = spark.sql("SELECT partition, n_files FROM g.db.klmeta.partitions")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(parts.map(_._1).toSeq === Seq("unclustered"))
    assert(parts.head._2 === files.length.toLong)
    // compaction clusters to one file per key; the views follow
    spark.sql("CALL g.system.compact('db.klmeta')")
    val files2 = spark.sql("SELECT key, clustered FROM g.db.klmeta.files").collect()
    assert(files2.forall(_.getBoolean(1)), "compacted files are key-clustered")
    assert(files2.map(_.getString(0)).sorted === Array("a", "b"))
    val parts2 = spark.sql(
      "SELECT partition, n_files FROM g.db.klmeta.partitions ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(parts2.toSeq === Seq(("key=a", 1L), ("key=b", 1L)),
      "per-key stats are the clustering/compaction-debt view")
  }

  test("DROP, RENAME, and error contracts") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.tmp (id BIGINT) USING manifest")
    spark.sql("INSERT INTO g.db.tmp VALUES (1)")
    spark.sql("ALTER TABLE g.db.tmp RENAME TO db.tmp2")
    assert(spark.sql("SELECT count(*) FROM g.db.tmp2").head().getLong(0) === 1L)
    intercept[Exception](spark.table("g.db.tmp").collect())
    spark.sql("DROP TABLE g.db.tmp2")
    assert(!spark.sql("SHOW TABLES IN g.db").collect().map(_.getString(1)).contains("tmp2"))
    // duplicate create rejects; IF NOT EXISTS tolerates
    spark.sql("CREATE TABLE g.db.dup (id BIGINT) USING manifest")
    intercept[Exception](spark.sql("CREATE TABLE g.db.dup (id BIGINT) USING manifest"))
    spark.sql("CREATE TABLE IF NOT EXISTS g.db.dup (id BIGINT) USING manifest")
    // VERSION AS OF on keyedlog rejects
    spark.sql("CREATE TABLE g.db.vlog (key STRING, seq BIGINT, metric BIGINT) USING keyedlog")
    intercept[Exception](spark.sql("SELECT * FROM g.db.vlog VERSION AS OF 1").collect())
    // writes to a time-travel view reject
    spark.sql("CREATE TABLE g.db.tt (id BIGINT) USING manifest")
    spark.sql("INSERT INTO g.db.tt VALUES (1)")
    intercept[Exception](
      spark.sql("INSERT INTO g.db.tt VERSION AS OF 1 VALUES (2)"))
  }

  test("log-served NDV survives DML rewrite and compaction; declaration follows ALTER") {
    ensureDb()
    spark.sql("CREATE TABLE g.db.ndvt (k BIGINT, pad STRING) USING manifest " +
      s"TBLPROPERTIES ('${GraftCatalog.NdvColsProp}'='k')")
    spark.sql("INSERT INTO g.db.ndvt SELECT id % 997, " +
      "sha2(CAST(id AS STRING), 256) FROM range(20000)")
    def servedNdv(colName: String = "k"): Option[Long] = {
      val saved = spark.conf.getOption("spark.sql.cbo.enabled")
      try {
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.table("g.db.ndvt").queryExecution.optimizedPlan.stats
          .attributeStats.find(_._1.name == colName)
          .flatMap(_._2.distinctCount).map(_.toLong)
      } finally saved match {
        case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
        case None    => spark.conf.unset("spark.sql.cbo.enabled")
      }
    }
    assert(servedNdv().exists(n => (n - 997L).abs < 50), s"initial: ${servedNdv()}")
    // a CoW DML rewrite must sketch its rewritten files, or the
    // all-planned-files rule silently pauses serving after the first DML
    spark.sql("DELETE FROM g.db.ndvt WHERE k = 5")
    assert(servedNdv().exists(n => (n - 996L).abs < 50),
      s"after DML rewrite: ${servedNdv()}")
    // compaction likewise
    spark.sql("CALL g.system.compact('db.ndvt')")
    assert(servedNdv().exists(n => (n - 996L).abs < 50),
      s"after compact: ${servedNdv()}")
    // RENAME: the declaration follows; serving PAUSES (old files'
    // sketches are keyed by the old physical name — degraded, never
    // wrong) and returns after a full rewrite under the new name
    spark.sql("ALTER TABLE g.db.ndvt RENAME COLUMN k TO kk")
    val props = spark.sql("SHOW TBLPROPERTIES g.db.ndvt").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props(GraftCatalog.NdvColsProp) === "kk")
    assert(servedNdv("kk").isEmpty, "stale sketches must not serve a renamed column")
    spark.sql("INSERT OVERWRITE g.db.ndvt SELECT id % 499, " +
      "CAST(id AS STRING) FROM range(5000)")
    assert(servedNdv("kk").exists(n => (n - 499L).abs < 25),
      s"after overwrite under the new name: ${servedNdv("kk")}")
    // DROP of the declared column clears the declaration
    spark.sql("ALTER TABLE g.db.ndvt DROP COLUMN kk")
    val props2 = spark.sql("SHOW TBLPROPERTIES g.db.ndvt").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(!props2.contains(GraftCatalog.NdvColsProp))
  }

  test("column defaults: descriptor round-trip, refusals, analysis-time substitution") {
    spark.sql("CREATE TABLE g.db.dflt (id BIGINT, lang STRING DEFAULT 'en') USING manifest")
    spark.sql("INSERT INTO g.db.dflt (id) VALUES (1)")
    // the default survives the descriptor round-trip in a FRESH session
    // (new catalog instance, re-read descriptor)
    val s2 = spark.newSession()
    GraftCatalog.register(s2, "g2", root)
    s2.sql("INSERT INTO g2.db.dflt (id) VALUES (2)")
    assert(s2.sql("SELECT id, lang FROM g2.db.dflt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "en"), (2L, "en")))
    // Spark validates bad defaults at ALTER time (capability-armed)
    val e1 = intercept[Exception](spark.sql(
      "ALTER TABLE g.db.dflt ALTER COLUMN lang SET DEFAULT no_such + 1"))
    assert(e1.getMessage.contains("DEFAULT"))
    // ADD COLUMN with a default is refused — existing rows would not
    // carry it; the two-step (add, then SET DEFAULT) is the supported path
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE g.db.dflt ADD COLUMN tag STRING DEFAULT 'x'"))
    assert(e2.getMessage.contains("SET DEFAULT"))
    spark.sql("ALTER TABLE g.db.dflt ADD COLUMN tag STRING")
    spark.sql("ALTER TABLE g.db.dflt ALTER COLUMN tag SET DEFAULT 'x'")
    spark.sql("INSERT INTO g.db.dflt (id) VALUES (3)")
    // pre-existing rows read NULL in tag; the new one gets the default
    assert(spark.sql("SELECT id, tag FROM g.db.dflt ORDER BY id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, None), (2L, None), (3L, Some("x"))))
    // DROP DEFAULT reverts omitted inserts to NULL
    spark.sql("ALTER TABLE g.db.dflt ALTER COLUMN tag DROP DEFAULT")
    spark.sql("INSERT INTO g.db.dflt (id) VALUES (4)")
    assert(spark.sql("SELECT tag FROM g.db.dflt WHERE id = 4").head().isNullAt(0))
  }
}
