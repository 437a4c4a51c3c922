package graft.core

import java.net.URI
import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.GraftCatalog

/** A local store under the scheme `graftprobe`, known only to the
  * session's Hadoop conf, that counts its `listStatus` calls and the
  * renames that touch a manifest data pool. */
class GraftProbeFileSystem extends ForkFreeRawLocalFileSystem {
  override def getUri: URI = GraftProbeFileSystem.uri
  override def getScheme: String = "graftprobe"
  override def listStatus(f: Path): Array[FileStatus] = {
    GraftProbeFileSystem.listings.incrementAndGet()
    super.listStatus(f)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    if (GraftProbeFileSystem.inPool(src) || GraftProbeFileSystem.inPool(dst))
      GraftProbeFileSystem.poolRenames.incrementAndGet()
    super.rename(src, dst)
  }
}

object GraftProbeFileSystem {
  val uri: URI = URI.create("graftprobe:///")
  val listings = new AtomicInteger()
  val poolRenames = new AtomicInteger()

  /** Whether `p` lies in a manifest data pool (a `d-*` directory). */
  def inPool(p: Path): Boolean = p.toUri.getPath.split('/').exists(_.startsWith("d-"))
}

/** [[LakeStorage.openFor]] opens driver-side metadata I/O with the
  * session's Hadoop conf: a scheme registered only there is reachable by
  * the bronze services and the manifest log alike. Hadoop's FileSystem
  * cache is off for the scheme, so each acquisition shows which conf it
  * used. */
class SessionConfSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    Seq("fs.graftprobe.impl" -> classOf[GraftProbeFileSystem].getName,
      "fs.graftprobe.impl.disable.cache" -> "true").foreach { case (k, v) =>
      s.sparkContext.hadoopConfiguration.set(k, v)
      s.conf.set(k, v)
    }
    s
  }

  private def probeRoot(): String =
    "graftprobe://" + Files.createTempDirectory("graft_probe_").toString

  test("the bronze services publish, retrieve and scan through a session-only scheme") {
    val root = probeRoot()
    val cfg = LakeConfig(root = root, retryDelayMs = 0L)
    val svc = new DatalakePublishService(cfg, clock = () => LocalDate.of(2024, 2, 1))
    svc.publishFhirR4(spark, "t1", Seq("a", "b").map(id =>
      FhirEnvelope("Patient", id, s"""{"resourceType":"Patient","id":"$id"}""")))
    svc.publishBinaryData(spark, "t1", Seq("x" -> """{"resourceType":"Binary","id":"x"}"""))
    val retrieve = new DatalakeRetrieveService(cfg)
    assert(retrieve.retrieveBinaryData("t1", "x").map(_.id) === Some("x"))
    assert(retrieve.objectExists("ehr/patient/fhir_tenant_id=t1/_date=2024-02-01/a.json"))
    assert(!retrieve.objectExists("ehr/patient/fhir_tenant_id=t1/_date=2024-02-01/z.json"))
    val bodies = LakeReader.readFhir(spark, cfg, "Patient", Some("t1"))
      .select("body").collect().map(_.getString(0)).sorted
    assert(bodies.toSeq === Seq("a", "b").map(id => s"""{"resourceType":"Patient","id":"$id"}"""))
  }

  test("a manifest table appends, resolves and reads through a session-only scheme") {
    val s = spark
    import s.implicits._
    val dir = probeRoot() + "/t"
    ManifestTable.append(Seq(1L, 2L).toDF("k"), dir)
    ManifestTable.append(Seq(3L).toDF("k"), dir)
    assert(ManifestTable.resolve(dir, None) === Some(2L))
    assert(ManifestTable.resolve(dir, Some(1L)) === Some(1L))
    assert(ManifestTable.read(spark, dir).as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    assert(ManifestTable.read(spark, dir, Some(1L)).count() === 2)
  }

  test("readFhir lists each directory once and never lists its documents") {
    val root = probeRoot()
    val cfg = LakeConfig(root = root, retryDelayMs = 0L)
    for (day <- Seq(1, 2))
      new DatalakePublishService(cfg, clock = () => LocalDate.of(2024, 2, day))
        .publishFhirR4(spark, "t1", (1 to 20).map(i => FhirEnvelope("Patient", s"p$day-$i", "{}")))
    GraftProbeFileSystem.listings.set(0)
    assert(LakeReader.readFhir(spark, cfg, "Patient", Some("t1")).count() === 40)
    // the tenant directory and its two date directories
    assert(GraftProbeFileSystem.listings.get === 3)
  }

  test("merge-on-read UPDATE, DELETE and reads open the store with the conf their plan shipped") {
    val root = probeRoot()
    GraftCatalog.register(spark, "gmor", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmor.db")
    spark.sql("CREATE TABLE gmor.db.t (k BIGINT, s STRING) USING manifest " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO gmor.db.t SELECT id, concat('v', id) FROM range(0, 10, 1, 2)")
    // the UPDATE writes the first file's vector; the DELETE reads it back
    // in its scan and merges it with new positions in its task writer
    spark.sql("UPDATE gmor.db.t SET s = 'u' WHERE k < 3")
    spark.sql("DELETE FROM gmor.db.t WHERE k = 4 OR k = 9")
    def files(d: java.io.File): Seq[java.io.File] = Option(d.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f))
    assert(files(new java.io.File(URI.create(root).getPath)).exists(_.getName.endsWith(".dv")),
      "no deletion vector written")
    val rows = spark.table("gmor.db.t").collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    assert(rows.toSeq === Seq(0L -> "u", 1L -> "u", 2L -> "u", 3L -> "v3", 5L -> "v5",
      6L -> "v6", 7L -> "v7", 8L -> "v8"))
  }

  test("a keyedlog table inserts, reads a key and appends a streaming epoch through a session-only scheme") {
    val s = spark
    import s.implicits._
    val root = probeRoot()
    GraftCatalog.register(spark, "gklog", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gklog.db")
    spark.sql("CREATE TABLE gklog.db.t (key STRING, seq BIGINT, metric BIGINT) USING keyedlog")
    spark.sql("INSERT INTO gklog.db.t VALUES ('a', 1, 10), ('b', 2, 20), ('a', 3, 30)")
    def keyA(): Seq[(Long, Long)] = spark.sql("SELECT seq, metric FROM gklog.db.t WHERE key = 'a'")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(keyA() === Seq(1L -> 10L, 3L -> 30L))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Long)]
    val q = source.toDF().toDF("key", "seq", "metric").writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft_probe_ck_").toString)
      .toTable("gklog.db.t")
    try {
      source.addData(("a", 4L, 40L), ("c", 5L, 50L))
      q.processAllAvailable()
    } finally q.stop()
    assert(keyA() === Seq(1L -> 10L, 3L -> 30L, 4L -> 40L))
    assert(spark.table("gklog.db.t").count() === 5L)
  }

  test("pool writes rename nothing and leave only part files: append, INSERT, CTAS, compact") {
    val s = spark
    import s.implicits._
    val root = probeRoot()
    GraftCatalog.register(spark, "gprobe", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gprobe.db")
    spark.sql("CREATE TABLE gprobe.db.t (k BIGINT, s STRING) USING manifest")
    GraftProbeFileSystem.poolRenames.set(0)
    ManifestTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s").repartition(2), root + "/plain")
    spark.sql("INSERT INTO gprobe.db.t SELECT id, concat('v', id) FROM range(0, 100, 1, 4)")
    spark.sql("CREATE TABLE gprobe.db.c USING manifest AS SELECT id FROM range(10)")
    spark.sql("CALL gprobe.system.compact('db.t')")
    assert(GraftProbeFileSystem.poolRenames.get === 0, "renames under a d-* pool")
    assert(spark.table("gprobe.db.t").count() === 100L)
    def pools(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap { f =>
        if (f.getName.startsWith("d-")) Seq(f) else pools(f) }
    val local = new java.io.File(URI.create(root).getPath)
    val all = pools(local)
    // the append's pool, the CTAS pool, and the INSERT's and compact's pools of t
    assert(all.map(_.getParentFile.getName).groupBy(identity).map { case (k, v) => k -> v.size } ===
      Map("plain" -> 1, "c" -> 1, "t" -> 2), all.mkString(", "))
    all.foreach { pool =>
      val names = pool.list().toSeq
      assert(names.nonEmpty && names.forall(_.matches("""\.?part-\d{5}-\d+\.parquet(\.crc)?""")),
        s"$pool: ${names.mkString(", ")}")
    }
  }
}
