package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream,
  ObjectInputStream, ObjectOutputStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{Text, WritableUtils}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.text.TextPartitionReaderFactory
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{GraftCatalog, ManifestFileIndex}

/** The two Hadoop-conf floors of a lakehouse statement stay cut:
  *  - every conf the engine ships to tasks (manifest and bronze scans
  *    included) is [[LakeStorage.shippable]]
  *    (no per-key gzipped source arrays on the wire) and still carries
  *    exactly the session's key -> value pairs;
  *  - the footer harvest reads with the caller's conf and yields the same
  *    stats, and so the same marker bytes, as the one-argument footer
  *    open it replaced. */
class ShippedConfSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def pairs(conf: Configuration): Map[String, String] =
    conf.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  /** How many keys `conf.write` follows with a non-null source array. */
  private def sourcesOnWire(conf: Configuration): Int = {
    val bytes = new ByteArrayOutputStream()
    conf.write(new DataOutputStream(bytes))
    val in = new DataInputStream(new ByteArrayInputStream(bytes.toByteArray))
    (0 until WritableUtils.readVInt(in)).count { _ =>
      Text.readString(in); Text.readString(in)
      WritableUtils.readCompressedStringArray(in) != null
    }
  }

  /** Java-serialized size of the shipped wrapper and what a task reads back. */
  private def javaRoundTrip(sc: SerializableConfiguration): (Int, Configuration) = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(sc)
    out.close()
    val in = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
    (bytes.size, in.readObject().asInstanceOf[SerializableConfiguration].value)
  }

  /** The session conf plus an override, as `spark.hadoop.*` settings and
    * per-read options put them into a scan's Hadoop conf. */
  private def sessionConf(): Configuration = {
    val conf = spark.sessionState.newHadoopConfWithOptions(Map("fs.graft.probe.key" -> "s3cr3t"))
    assert(conf.size > 500, "expected the full session conf")
    conf
  }

  test("shippable round-trips the exact key/value map through Java and Kryo serialization") {
    val conf = sessionConf()
    val expected = pairs(conf)
    val (_, viaJava) = javaRoundTrip(new SerializableConfiguration(LakeStorage.shippable(conf)))
    assert(pairs(viaJava) === expected)
    assert(viaJava.get("fs.graft.probe.key") === "s3cr3t")
    val kryo = new KryoSerializer(spark.sparkContext.getConf).newInstance()
    val viaKryo = kryo.deserialize[SerializableConfiguration](
      kryo.serialize(new SerializableConfiguration(LakeStorage.shippable(conf)))).value
    assert(pairs(viaKryo) === expected)
    // the copy is independent of its source
    val copy = LakeStorage.shippable(conf)
    copy.set("fs.graft.probe.key", "changed")
    assert(conf.get("fs.graft.probe.key") === "s3cr3t")
  }

  /** The plain session conf gzips one source array per key; the shipped
    * copy gzips none, so what remains on the wire is the keys and values
    * themselves (about 68 KB of the plain conf's 113 KB). */
  test("a shipped conf gzips nothing per key and costs at least 1.5x fewer serialized bytes") {
    val conf = sessionConf()
    assert(sourcesOnWire(conf) > conf.size / 2, "the plain conf ships per-key sources")
    assert(sourcesOnWire(LakeStorage.shippable(conf)) === 0)
    val (plain, _) = javaRoundTrip(new SerializableConfiguration(conf))
    val (shipped, _) = javaRoundTrip(new SerializableConfiguration(LakeStorage.shippable(conf)))
    assert(shipped * 3 <= plain * 2, s"shipped $shipped bytes vs plain $plain bytes")
  }

  test("manifest scans carry a shippable conf with newHadoopConfWithOptions' pairs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ship_scan_").toString
    (0 until 10).toDF("k").coalesce(1).write.mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).head
    val options = new CaseInsensitiveStringMap(Map("fs.graft.probe.key" -> "per-read").asJava)
    val schema = StructType(Seq(StructField("k", IntegerType)))
    val scan = ManifestFileIndex.scanBuilder(spark, schema, s"file://$dir", Seq(file),
      Map.empty, options).build()
    assert(sourcesOnWire(scan.hadoopConf) === 0)
    assert(pairs(scan.hadoopConf) ===
      pairs(spark.sessionState.newHadoopConfWithOptions(options.asCaseSensitiveMap.asScala.toMap)))
    assert(scan.hadoopConf.get("fs.graft.probe.key") === "per-read")
  }

  test("bronze document scans carry a shippable conf with newHadoopConfWithOptions' pairs") {
    val root = "file://" + Files.createTempDirectory("graft_ship_bronze_").toString
    val cfg = LakeConfig(root = root, retryDelayMs = 0L)
    new DatalakePublishService(cfg).publishFhirR4(spark, "t1",
      Seq(FhirEnvelope("Patient", "p1", """{"resourceType":"Patient","id":"p1"}""")))
    val docs = LakeReader.readFhir(spark, cfg, "Patient").select("body")
    val scans = docs.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.scan }
    assert(scans.size === 1, docs.queryExecution.sparkPlan.toString)
    val factory = scans.head.toBatch.createReaderFactory() match {
      case f: TextPartitionReaderFactory => f
      case other => fail(s"expected a text reader factory, got $other")
    }
    val shipped = factory.broadcastedConf.value.value
    assert(sourcesOnWire(shipped) === 0)
    assert(pairs(shipped) === pairs(spark.sessionState.newHadoopConfWithOptions(Map("wholetext" -> "true"))))
    assert(docs.collect().map(_.getString(0)).toSeq === Seq("""{"resourceType":"Patient","id":"p1"}"""))
  }

  test("pool writes ship a shippable job conf with MICROS timestamps and the bloom keys") {
    val bloom = "parquet.bloom.filter.enabled#k"
    val key = "spark.sql.parquet.outputTimestampType"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "INT96")
    val factory =
      try ManifestPoolWriter.batchFactory(spark, "file:///unused/d-probe",
        StructType(Seq(StructField("k", IntegerType))), Map(bloom -> "true"))
      finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val shipped = factory.conf.value
    assert(sourcesOnWire(shipped) === 0)
    assert(shipped.get(key) === "TIMESTAMP_MICROS")
    assert(shipped.get(bloom) === "true")
    assert(factory.schemaFile, "batch writes stage a schema file for partition 0")
    val (_, readBack) = javaRoundTrip(factory.conf)
    assert(pairs(readBack) === pairs(shipped))
  }

  test("the keyedlog / procedure task conf is shippable and carries the session pairs") {
    val conf = LakeStorage.taskConf().value
    assert(sourcesOnWire(conf) === 0)
    assert(pairs(conf) === pairs(spark.sessionState.newHadoopConf()))
  }

  test("an INSERT's footer stats equal the one-argument footer read's, marker bytes unchanged") {
    val root = "file://" + Files.createTempDirectory("graft_ship_stats_").toString
    GraftCatalog.register(spark, "gship", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gship.db")
    spark.sql("CREATE TABLE gship.db.p (k BIGINT, s STRING, d DATE, ts TIMESTAMP, " +
      "n INT, b BOOLEAN, m DECIMAL(10, 2)) USING manifest")
    spark.sql("INSERT INTO gship.db.p SELECT id, concat('v', id), " +
      "date_add(DATE'2020-01-01', CAST(id AS INT)), timestamp_seconds(id), " +
      "IF(id % 3 = 0, NULL, CAST(id AS INT)), id % 2 = 0, CAST(id / 7 AS DECIMAL(10, 2)) " +
      "FROM range(0, 200, 1, 4)")
    val dir = s"$root/db/p"
    val (files, stored) = ManifestTable.manifestEntries(dir, ManifestTable.currentVersion(dir).get)
    assert(files.size >= 2, s"expected several data files, got $files")
    val conf = LakeStorage.sharedHadoopConf
    var rows = 0L
    files.foreach { f =>
      val path = new Path(dir, f)
      val status = path.getFileSystem(conf).getFileStatus(path)
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf))
      val reference = try FileStats.fromMetadata(reader.getFooter, status.getLen)
                      finally reader.close()
      val harvested = FileStats.fromFooter(conf, status).get
      assert(harvested.rowCount === reference.rowCount, f)
      assert(harvested.sizeBytes === Some(status.getLen), f)
      assert(reference.sizeBytes === Some(status.getLen), f)
      assert(harvested.cols.keySet === reference.cols.keySet, f)
      assert(Set("k", "s", "d", "n").subsetOf(reference.cols.keySet), f)
      reference.cols.foreach { case (c, r) =>
        val h = harvested.cols(c)
        assert((h.min, h.max, h.nullCount) === ((r.min, r.max, r.nullCount)), s"$f.$c")
      }
      assert(FileStats.render(stored(f)) === FileStats.render(reference), f)
      rows += harvested.rowCount
    }
    assert(rows === 200L)
  }
}
