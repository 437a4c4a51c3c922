package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{LakeStorage, ManifestTable}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.MetadataBuilder

/** Bucketed manifest tables (`PARTITIONED BY (bucket(n, col))`):
  * hash-clustered writes, storage-partitioned scans (shuffle-free key
  * aggregation and co-bucketed joins), the one-side-bucketed shuffle, and
  * honest demotion when a pool is not bucketed. */
class BucketedTableSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    GraftCatalog.register(s, "gb", root)
    s
  }
  private lazy val root =
    "file://" + Files.createTempDirectory("graft_catalog_bucket_").toString

  private def spj(): SparkSession = {
    val s = spark.newSession()
    GraftCatalog.register(s, "gb", root) // newSession does not inherit runtime conf
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  private def ensureDb(): Unit =
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gb.db")

  /** Stamp the (k, x) tables' field ids onto an out-of-band write — the
    * cooperating-external-writer contract for column-mapped tables. */
  private def withTableIds(df: DataFrame): DataFrame = {
    def fid(i: Long) = new MetadataBuilder().putLong("parquet.field.id", i).build()
    df.select(col("k").as("k", fid(1)), col("x").as("x", fid(2)))
  }

  test("bucketed writes land one file per present bucket, rows placed by hash") {
    ensureDb()
    spark.sql("CREATE TABLE gb.db.b1 (k STRING, x BIGINT) USING manifest " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gb.db.b1 SELECT concat('k', id % 7), id FROM range(1000)")
    val dir = s"$root/db/b1"
    val files = ManifestTable.manifest(dir, ManifestTable.currentVersion(dir).get)
    assert(files.forall(f => ManifestTable.bucketsOfPool(f.split("/")(0)).contains(4)),
      s"files must sit in a d-bucketed-4 pool: $files")
    assert(files.flatMap(f => ManifestTable.bucketOfFile(f.split("/")(1))).toSet
      .subsetOf(Set(0, 1, 2, 3)))
    assert(spark.sql("SELECT count(*) FROM gb.db.b1").head().getLong(0) === 1000L)
  }

  test("groupBy(bucket key) over a bucketed table plans no shuffle") {
    val s = spj()
    s.sql("CREATE NAMESPACE IF NOT EXISTS gb.db")
    s.sql("CREATE TABLE gb.db.b2 (k STRING, x BIGINT) USING manifest " +
      "PARTITIONED BY (bucket(4, k))")
    s.sql("INSERT INTO gb.db.b2 SELECT concat('k', id % 7), id FROM range(1000)")
    val agg = s.sql("SELECT k, sum(x) AS t FROM gb.db.b2 GROUP BY k")
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed key aggregation must not shuffle:\n$plan")
    val totals = agg.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(totals("k3") === (0 until 1000).filter(_ % 7 == 3).sum.toLong)
    assert(totals.size === 7)
  }

  test("join of co-bucketed tables is storage-partitioned (no shuffle)") {
    val s = spj()
    s.sql("CREATE NAMESPACE IF NOT EXISTS gb.db")
    s.sql("CREATE TABLE gb.db.l (k STRING, x BIGINT) USING manifest " +
      "PARTITIONED BY (bucket(4, k))")
    s.sql("CREATE TABLE gb.db.r (k STRING, y BIGINT) USING manifest " +
      "PARTITIONED BY (bucket(4, k))")
    s.sql("INSERT INTO gb.db.l SELECT concat('k', id % 5), id FROM range(500)")
    s.sql("INSERT INTO gb.db.r SELECT concat('k', id % 5), id * 10 FROM range(100)")
    val j = s.sql("""SELECT l.k, sum(l.x) AS sx, sum(r.y) AS sy
      FROM gb.db.l l JOIN gb.db.r r ON l.k = r.k GROUP BY l.k""")
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"co-bucketed join must be storage-partitioned:\n$plan")
    val rows = j.collect()
    assert(rows.length === 5)
    // cross-check one group against the plain (unbucketed-session) compute
    val expect = spark.sql("""SELECT sum(l.x) FROM gb.db.l l
      JOIN gb.db.r r ON l.k = r.k WHERE l.k = 'k2'""").head().getLong(0)
    assert(rows.find(_.getString(0) == "k2").get.getLong(1) === expect)
  }

  test("one-side-bucketed join shuffles ONLY the unbucketed side (v2 bucketing shuffle)") {
    val s = spj()
    s.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    s.sql("CREATE NAMESPACE IF NOT EXISTS gb.db")
    s.sql("CREATE TABLE gb.db.big_b (k STRING, x BIGINT) USING manifest " +
      "PARTITIONED BY (bucket(4, k))")
    s.sql("INSERT INTO gb.db.big_b SELECT concat('k', id % 5), id FROM range(500)")
    import s.implicits._
    (0 until 50).map(i => (s"k${i % 5}", i.toLong)).toDF("k", "y")
      .createOrReplaceTempView("plain_side")
    val j = s.sql("""SELECT b.k, sum(b.x) AS sx, sum(p.y) AS sy
      FROM gb.db.big_b b JOIN plain_side p ON b.k = p.k GROUP BY b.k""")
    val plan = j.queryExecution.executedPlan.toString
    val exchanges = "(?m)Exchange".r.findAllIn(plan).length
    assert(exchanges === 1,
      s"exactly the unbucketed side must shuffle (into the bucket space via " +
        s"the catalog bucket function), got $exchanges exchanges:\n$plan")
    // correctness: the shuffled side's rows meet the right bucket's rows —
    // any function/placement drift would silently drop matches
    val k2 = j.collect().find(_.getString(0) == "k2").get
    assert(k2.getLong(1) === (0 until 500).filter(_ % 5 == 2).sum.toLong * 10L,
      "sum(b.x) per k over 10 matching p rows")
    assert(k2.getLong(2) === (0 until 50).filter(_ % 5 == 2).sum.toLong * 100L,
      "sum(p.y) per k over 100 matching b rows")
  }

  test("cross-format SPJ: bucketed keyedlog joins bucketed manifest, no shuffle") {
    val s = spj()
    s.sql("CREATE NAMESPACE IF NOT EXISTS gb.db")
    s.sql("CREATE TABLE gb.db.xm (k STRING, x BIGINT) USING manifest " +
      "PARTITIONED BY (bucket(4, k))")
    s.sql("INSERT INTO gb.db.xm SELECT concat('k', id % 6), id FROM range(600)")
    s.sql("CREATE TABLE gb.db.xl (key STRING, seq BIGINT, metric BIGINT) " +
      "USING keyedlog PARTITIONED BY (bucket(4, key))")
    // SQL INSERT clusters automatically: the bucket declaration demands it
    s.sql("INSERT INTO gb.db.xl SELECT concat('k', id % 6), id, id * 10 FROM range(120)")
    val j = s.sql("""SELECT m.k, sum(m.x) AS sx, sum(l.metric) AS sm
      FROM gb.db.xm m JOIN gb.db.xl l ON m.k = l.key GROUP BY m.k""")
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"cross-format co-bucketed join must be storage-partitioned:\n$plan")
    assert(plan.contains("KeyedLogScan"), s"keyedlog side missing:\n$plan")
    val rows = j.collect()
    assert(rows.length === 6)
    val k2 = rows.find(_.getString(0) == "k2").get
    // each m row of k2 meets 20 l rows and vice versa
    assert(k2.getLong(1) === (0 until 600).filter(_ % 6 == 2).sum.toLong * 20L)
    assert(k2.getLong(2) === (0 until 120).filter(_ % 6 == 2).map(_ * 10).sum.toLong * 100L)
  }

  test("bucket-declared keyedlog key aggregation plans no shuffle") {
    val s = spj()
    s.sql("CREATE NAMESPACE IF NOT EXISTS gb.db")
    s.sql("CREATE TABLE gb.db.xk (key STRING, seq BIGINT, metric BIGINT) " +
      "USING keyedlog PARTITIONED BY (bucket(4, key))")
    s.sql("INSERT INTO gb.db.xk SELECT concat('k', id % 9), id, id FROM range(300)")
    val agg = s.sql("SELECT key, sum(metric) AS t FROM gb.db.xk GROUP BY key")
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucket-grouped keyedlog aggregation must not shuffle:\n$plan")
    assert(agg.collect().find(_.getString(0) == "k4").get.getLong(1) ===
      (0 until 300).filter(_ % 9 == 4).sum.toLong)
  }

  test("keyedlog SPJ survives journal commits and compaction (journal x bucketing)") {
    val s = spj()
    s.sql("CREATE NAMESPACE IF NOT EXISTS gb.db")
    s.sql("CREATE TABLE gb.db.xj (key STRING, seq BIGINT, metric BIGINT) " +
      "USING keyedlog PARTITIONED BY (bucket(4, key))")
    def aggPlan() = {
      val agg = s.sql("SELECT key, sum(metric) AS t FROM gb.db.xj GROUP BY key")
      (agg, agg.queryExecution.executedPlan.toString)
    }
    // several journal versions (one per INSERT): per-key files multiply
    // across commits, but every file stays key-tagged, so bucket-grouped
    // scans keep reporting KeyGroupedPartitioning — no shuffle
    (0 until 3).foreach { i =>
      s.sql(s"INSERT INTO gb.db.xj SELECT concat('k', id % 5), id + ${i * 100}, id FROM range(100)")
    }
    val conf = LakeStorage.taskConf()
    val dir = s.sql("SHOW TBLPROPERTIES gb.db.xj").collect()
      .find(_.getString(0) == "graft.location").get.getString(1)
    assert(graft.sources.KeyedLogVersionLog.versions(dir, conf) === Seq(0L, 1L, 2L))
    val (agg1, plan1) = aggPlan()
    assert(!plan1.contains("Exchange"),
      s"multi-commit bucketed keyedlog agg must stay shuffle-free:\n$plan1")
    val expected = (0 until 100).filter(_ % 5 == 3).sum.toLong * 3
    assert(agg1.collect().find(_.getString(0) == "k3").get.getLong(1) === expected)
    // compaction (one clustered file per key + a rewrite journal entry)
    // must preserve the storage-partitioned layout AND the journal line
    s.sql("CALL gb.system.compact('db.xj')")
    assert(graft.sources.KeyedLogVersionLog.versions(dir, conf) === Seq(0L, 1L, 2L, 3L))
    assert(graft.sources.KeyedLogVersionLog.isRewrite(dir, conf, 3L))
    val (agg2, plan2) = aggPlan()
    assert(!plan2.contains("Exchange"),
      s"post-compaction bucketed keyedlog agg must stay shuffle-free:\n$plan2")
    assert(agg2.collect().find(_.getString(0) == "k3").get.getLong(1) === expected)
    // and a later commit after the compaction still co-exists with SPJ
    s.sql("INSERT INTO gb.db.xj SELECT concat('k', id % 5), id + 1000, id FROM range(50)")
    val (agg3, plan3) = aggPlan()
    assert(!plan3.contains("Exchange"),
      s"post-compaction append must keep the clustered layout:\n$plan3")
    assert(agg3.collect().find(_.getString(0) == "k3").get.getLong(1) ===
      expected + (0 until 50).filter(_ % 5 == 3).sum.toLong)
    // the bucket-declared partitions view groups files into the same
    // murmur3 bucket space the SPJ planner uses
    val parts = s.sql(
      "SELECT partition, n_files FROM gb.db.xj.partitions ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(parts.forall(_._1.startsWith("bucket=")),
      s"every clustered file must land in a bucket: ${parts.mkString(",")}")
    assert(parts.map(_._2).sum >= 5L, "one file per key per commit at minimum")
  }

  test("DML keeps a bucketed table bucketed (rewrites re-bucket)") {
    val s = spj()
    s.sql("CREATE NAMESPACE IF NOT EXISTS gb.db")
    s.sql("CREATE TABLE gb.db.dml_b (k STRING, x BIGINT) USING manifest " +
      "PARTITIONED BY (bucket(4, k))")
    s.sql("INSERT INTO gb.db.dml_b SELECT concat('k', id % 3), id FROM range(100)")
    s.sql("DELETE FROM gb.db.dml_b WHERE x = 1")                      // fast path
    s.sql("UPDATE gb.db.dml_b SET x = x + 1000 WHERE k = 'k2' AND length(k) > 0") // group-based
    val dir = s"$root/db/dml_b"
    val files = ManifestTable.manifest(dir, ManifestTable.currentVersion(dir).get)
    assert(files.forall(f => ManifestTable.bucketsOfPool(f.split("/")(0)).contains(4)),
      s"DML rewrite pools must stay bucketed: $files")
    val agg = s.sql("SELECT k, sum(x) AS t FROM gb.db.dml_b GROUP BY k")
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"table must stay storage-partitioned after DML:\n$plan")
    val expect = (0 until 100).filter(i => i % 3 == 2).map(_ + 1000).sum.toLong
    assert(agg.collect().find(_.getString(0) == "k2").get.getLong(1) === expect)
  }

  test("t.partitions reports per-bucket layout stats (pools for plain tables)") {
    ensureDb()
    spark.sql("CREATE TABLE gb.db.parts (k STRING, x BIGINT) USING manifest " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gb.db.parts SELECT concat('k', id % 10), id FROM range(200)")
    val rows = spark.sql("SELECT * FROM gb.db.parts.partitions").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.forall(_._1.startsWith("bucket=")))
    assert(rows.map(_._2).sum >= rows.length, "every bucket holds >= 1 file")
    assert(rows.forall(_._3 > 0L), "bytes from file status")
    // ten distinct keys hash into at most 4 buckets, all ids valid
    assert(rows.forall(r => (0 until 4).contains(r._1.stripPrefix("bucket=").toInt)))
    // plain tables report pools
    spark.sql("CREATE TABLE gb.db.parts2 (x BIGINT) USING manifest")
    spark.sql("INSERT INTO gb.db.parts2 VALUES (1)")
    spark.sql("INSERT INTO gb.db.parts2 VALUES (2)")
    val pools = spark.sql("SELECT partition FROM gb.db.parts2.partitions").collect()
      .map(_.getString(0))
    assert(pools.length === 2 && pools.forall(_.startsWith("pool=d-")))
  }

  test("t.partitions files files from PLAIN pools as unbucketed on a bucket-declared table") {
    ensureDb()
    spark.sql("CREATE TABLE gb.db.parts3 (k STRING, x BIGINT) USING manifest " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gb.db.parts3 SELECT concat('k', id % 10), id FROM range(100)")
    // an out-of-band plain append: its part-<i> file names would PARSE as
    // bucket ids but carry no bucket placement — they must report as
    // unbucketed, not as bucket=<task-partition-id>. (A cooperating
    // external writer stamps the table's field ids — column mapping.)
    import spark.implicits._
    ManifestTable.append(withTableIds(
      Seq(("k0", 1L), ("k1", 2L)).toDF("k", "x").repartition(2)), s"$root/db/parts3")
    val rows = spark.sql("SELECT partition, n_files FROM gb.db.parts3.partitions")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val unbucketed = rows.filter(_._1 == "unbucketed")
    assert(unbucketed.map(_._2).sum === 2L,
      s"plain-pool files must report as unbucketed, got: ${rows.mkString(", ")}")
    assert(rows.filter(_._1.startsWith("bucket=")).map(_._2).sum >= 4L)
  }

  test("ALTER TABLE DROP COLUMN rejects the declared bucket column") {
    ensureDb()
    spark.sql("CREATE TABLE gb.db.dropb (k STRING, x BIGINT, y BIGINT) USING manifest " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gb.db.dropb VALUES ('a', 1, 10)")
    val e = intercept[Exception](spark.sql("ALTER TABLE gb.db.dropb DROP COLUMN k"))
    assert(e.getMessage.contains("bucket column"),
      s"dropping the bucket column must fail loudly, got: ${e.getMessage}")
    // a non-bucket column still drops fine, and the table stays writable
    spark.sql("ALTER TABLE gb.db.dropb DROP COLUMN y")
    spark.sql("INSERT INTO gb.db.dropb VALUES ('b', 2)")
    assert(spark.sql("SELECT count(*) FROM gb.db.dropb").head().getLong(0) === 2L)
  }

  test("a non-bucketed append demotes the table to ordinary scans") {
    val s = spj()
    s.sql("CREATE NAMESPACE IF NOT EXISTS gb.db")
    s.sql("CREATE TABLE gb.db.mix (k STRING, x BIGINT) USING manifest " +
      "PARTITIONED BY (bucket(4, k))")
    s.sql("INSERT INTO gb.db.mix SELECT concat('k', id % 3), id FROM range(100)")
    // an out-of-band Scala-API append writes an UNBUCKETED pool (ids
    // stamped — mapped tables expect cooperating external writers)
    import spark.implicits._
    ManifestTable.append(withTableIds(Seq(("k0", 9999L)).toDF("k", "x")), s"$root/db/mix")
    val agg = s.sql("SELECT k, sum(x) AS t FROM gb.db.mix GROUP BY k")
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"),
      s"partially bucketed table must fall back to normal plans:\n$plan")
    assert(agg.collect().map(_.getLong(1)).sum === (0 until 100).sum.toLong + 9999L)
  }

  test("bucket function placement matches the write placement for all key types") {
    ensureDb()
    import spark.implicits._
    // string keys: compare the catalog function against where rows landed
    val dir = "file://" + Files.createTempDirectory("graft_bfn_").toString
    val df = (0 until 200).map(i => (s"key$i", i.toLong)).toDF("k", "x")
    val files = ManifestTable.stagePoolBucketed(df, dir, 8, "k")
    ManifestTable.commitStagedSnapshot(dir, files)
    val placed = spark.read.parquet(files.map(f => s"$dir/$f"): _*)
      .withColumn("file", col("_metadata.file_path")).collect()
      .map(r => (r.getString(0),
        ManifestTable.bucketOfFile(r.getString(2).split('/').last).get))
    val bound = new GraftBucketBound(org.apache.spark.sql.types.StringType)
    placed.foreach { case (k, actualBucket) =>
      val expected = bound.produceResult(org.apache.spark.sql.catalyst.InternalRow(
        8, org.apache.spark.unsafe.types.UTF8String.fromString(k)))
      assert(expected === actualBucket,
        s"function/placement drift for key $k")
    }
  }

  test("bucketed CTAS stages bucketed pools atomically") {
    val s = spj()
    s.sql("CREATE NAMESPACE IF NOT EXISTS gb.db")
    s.sql("CREATE TABLE gb.db.ctas_b USING manifest PARTITIONED BY (bucket(4, k)) AS " +
      "SELECT concat('k', id % 6) AS k, id AS x FROM range(300)")
    val dir = s"$root/db/ctas_b"
    val files = ManifestTable.manifest(dir, ManifestTable.currentVersion(dir).get)
    assert(files.forall(f => ManifestTable.bucketsOfPool(f.split("/")(0)).contains(4)),
      s"CTAS output must land bucketed: $files")
    val agg = s.sql("SELECT k, sum(x) AS t FROM gb.db.ctas_b GROUP BY k")
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "CTAS-created bucketed table must scan storage-partitioned")
    assert(agg.collect().map(_.getLong(1)).sum === (0 until 300).sum.toLong)
  }

  test("bucketing survives the descriptor round-trip and rejects bad specs") {
    ensureDb()
    spark.sql("CREATE TABLE gb.db.meta_rt (k BIGINT, v STRING) USING manifest " +
      "PARTITIONED BY (bucket(16, k))")
    val t = spark.sessionState.catalogManager.catalog("gb")
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "meta_rt"))
    assert(t.partitioning().map(_.describe()).toSeq === Seq("bucket(16, k)"))
    intercept[Exception](spark.sql(
      "CREATE TABLE gb.db.bad1 (k DOUBLE) USING manifest PARTITIONED BY (bucket(4, k))"))
    // identity transforms are supported since partition transforms landed,
    // but a non-comparable identity column and a bucket+transform mix stay
    // rejected (hash bucketing and monotonic clustering are exclusive)
    intercept[Exception](spark.sql(
      "CREATE TABLE gb.db.bad2 (k STRING, x DOUBLE) USING manifest PARTITIONED BY (x)"))
    intercept[Exception](spark.sql(
      "CREATE TABLE gb.db.bad3 (k STRING, d DATE) USING manifest " +
        "PARTITIONED BY (bucket(4, k), days(d))"))
  }
}
