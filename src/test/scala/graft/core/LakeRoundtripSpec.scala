package graft.core

import java.net.URI
import java.nio.file.Files
import java.time.{LocalDate, LocalDateTime}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, input_file_name, length}
import org.scalatest.funsuite.AnyFunSuite

/** Publish -> retrieve round-trips over a file:// lake, replacing the
  * reference's Testcontainers MockServer IT (DatalakePublishServiceIT.kt).
  * Error contracts per FIXTURES.md §5. */
class LakeRoundtripSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def freshLake(): (String, LakeConfig) = {
    val root = "file://" + Files.createTempDirectory("graft_spec_").toString
    (root, LakeConfig(root = root, retryDelayMs = 0L))
  }

  private val jan3_1990 = () => LocalDate.of(1990, 1, 3)

  test("publish FHIR writes golden paths and bodies round-trip") {
    val (root, cfg) = freshLake()
    val svc = new DatalakePublishService(cfg, clock = jan3_1990)
    val body = """{"resourceType":"Location","id":"abc","name":"Location1"}"""
    svc.publishFhirR4(spark, "mockTenant", Seq(FhirEnvelope("Location", "abc", body)))
    val storage = new LakeStorage(root, new Configuration())
    val expected = "ehr/location/fhir_tenant_id=mockTenant/_date=1990-01-03/abc.json"
    assert(storage.listRecursive() === Seq(expected))
    assert(storage.get(expected) === Some(body))
  }

  test("empty publish short-circuits without touching storage") {
    val (root, cfg) = freshLake()
    new DatalakePublishService(cfg).publishFhirR4(spark, "t", Seq.empty)
    assert(new LakeStorage(root, new Configuration()).listRecursive().isEmpty)
  }

  test("missing ids: valid rows published first, then exact throw") {
    val (root, cfg) = freshLake()
    val svc = new DatalakePublishService(cfg, clock = jan3_1990)
    val e = intercept[IllegalStateException] {
      svc.publishFhirR4(spark, "mockTenant", Seq(
        FhirEnvelope("Location", "ok", """{"id":"ok"}"""),
        FhirEnvelope("Location", "", """{}"""),
        FhirEnvelope("Location", null, """{}""")))
    }
    assert(e.getMessage ===
      "Did not publish all FHIR resources to datalake for tenant mockTenant: " +
        "Some resources lacked FHIR IDs. Errors were logged.")
    val storage = new LakeStorage(root, new Configuration())
    assert(storage.listRecursive() ===
      Seq("ehr/location/fhir_tenant_id=mockTenant/_date=1990-01-03/ok.json"))
  }

  test("single date snapshot per batch (one clock call)") {
    val (root, cfg) = freshLake()
    var calls = 0
    val svc = new DatalakePublishService(cfg, clock = () => { calls += 1; LocalDate.of(2024, 6, 1) })
    svc.publishFhirR4(spark, "t", (1 to 20).map(i =>
      FhirEnvelope("Patient", s"p$i", s"""{"id":"p$i"}""")))
    assert(calls === 1)
    val dates = new LakeStorage(root, new Configuration()).listRecursive()
      .map(p => p.split("/")(3)).distinct
    assert(dates === Seq("_date=2024-06-01"))
  }

  test("binary publish + keyed retrieval; missing keys dropped") {
    val (_, cfg) = freshLake()
    val svc = new DatalakePublishService(cfg)
    svc.publishBinaryData(spark, "tn", Seq(
      "b1" -> """{"resourceType":"Binary","id":"b1","contentType":"pdf","data":"AAA="}""",
      "b2" -> """{"resourceType":"Binary","id":"b2","contentType":"mp4"}"""))
    val ret = new DatalakeRetrieveService(cfg)
    assert(ret.retrieveBinaryData("tn", "b1")
      === Some(BinaryDoc("b1", Some("pdf"), Some("AAA="))))
    assert(ret.retrieveBinaryData("tn", "nope") === None)
    assert(ret.binaryExists("tn", "b2"))
    assert(!ret.binaryExists("tn", "nope"))
  }

  test("batch URL retrieval: inner-join semantics, malformed skipped without IO") {
    val (_, cfg) = freshLake()
    val svc = new DatalakePublishService(cfg)
    svc.publishBinaryData(spark, "tn", Seq("b1" -> """{"id":"b1","contentType":"pdf"}"""))
    // Binary lake paths contain '/', so the reference's single-segment URL
    // quirk (OCIClient.kt:252-256) truncates them -> not found. Publish a
    // single-segment object to exercise the happy path.
    val storage = new LakeStorage(cfg.root, new Configuration())
    storage.put("flat.json", """{"id":"flat","contentType":"text/json"}""")
    val ret = new DatalakeRetrieveService(cfg)
    val urls = Seq(
      new URI(LakePath.fullUrl(cfg, "flat.json")),
      new URI(LakePath.fullUrl(cfg, "missing.json")),
      new URI("https://a.b.c.d/efg/hij/klm/nop"))
    val got = ret.retrieveBinaryData(urls)
    assert(got.keySet === Set(urls.head))
    assert(got(urls.head).contentType === Some("text/json"))
  }

  test("raw publish returns full URL and wraps payload") {
    val (_, cfg) = freshLake()
    val svc = new DatalakePublishService(cfg,
      timeClock = () => LocalDateTime.of(1990, 1, 3, 10, 15, 30),
      newTransactionId = () => "tx1")
    val url = svc.publishRawData("tn", "the body", "https://src.example/x")
    assert(url === LakePath.fullUrl(cfg, "raw_data_response/tenant_id=tn/transaction_id/tx1"))
    val stored = new DatalakeRetrieveService(cfg)
      .getObjectBody("raw_data_response/tenant_id=tn/transaction_id/tx1")
    assert(stored ===
      Some("""{"url":"https://src.example/x","time":"1990-01-03T10:15:30","body":"the body"}"""))
  }

  test("registry (secondary bucket) reads resolve against their own root") {
    val (_, cfg) = freshLake()
    val reg = new LakeStorage(cfg.resolvedRegistryRoot, new Configuration())
    reg.put("manifest.json", """{"version":3}""")
    val ret = new DatalakeRetrieveService(cfg)
    assert(ret.getObjectFromRegistry("manifest.json") === Some("""{"version":3}"""))
    assert(ret.getObjectFromRegistry("missing.json") === None)
    // registry objects are NOT visible through the primary root
    assert(ret.getObjectBody("manifest.json") === None)
  }

  test("put retries once then returns false on persistent IO failure (A21)") {
    val (root, cfg) = freshLake()
    val storage = new LakeStorage(root, new Configuration(), retryDelayMs = 0L)
    // make the parent path a FILE so create() throws IOException
    assert(storage.put("blocker", "x"))
    val t0 = System.nanoTime()
    assert(!storage.put("blocker/child.json", "y"))
    assert((System.nanoTime() - t0) / 1e9 < 5.0) // retryDelayMs honored (0)
    // status/metadata fetch (A24)
    assert(storage.status("blocker").exists(_.getLen === 1))
    assert(storage.status("nope") === None)
    // byte-stream variant (A20)
    assert(storage.putBytes("bin.dat", Array[Byte](1, 2, 3)))
    assert(storage.status("bin.dat").exists(_.getLen === 3))
  }

  test("point reads: a hit returns the object, a miss None, a directory throws") {
    val (root, _) = freshLake()
    val storage = new LakeStorage(root, new Configuration())
    assert(storage.put("dir/doc.json", """{"id":"d"}"""))
    assert(storage.get("dir/doc.json") === Some("""{"id":"d"}"""))
    assert(storage.get("dir/absent.json") === None)
    assert(storage.get("absent/doc.json") === None)
    // a directory exists but is no object: the read fails as it always did
    intercept[java.io.IOException](storage.get("dir"))
    assert(storage.status("dir").exists(_.isDirectory))
    assert(storage.status("dir/absent.json") === None)
  }

  test("LakeReader preserves multi-line (pretty-printed) document bodies") {
    val (_, cfg) = freshLake()
    val pretty = "{\n  \"resourceType\": \"Patient\",\n  \"id\": \"p1\"\n}"
    new DatalakePublishService(cfg, clock = jan3_1990)
      .publishFhirR4(spark, "t1", Seq(FhirEnvelope("Patient", "p1", pretty)))
    val rows = LakeReader.readFhir(spark, cfg, "Patient").select("body").collect()
    assert(rows.length === 1, "one row per OBJECT, not per line")
    assert(rows.head.getString(0) === pretty)
  }

  test("LakeReader prunes by tenant and recovers partition columns") {
    val (_, cfg) = freshLake()
    def pub(tenant: String, day: Int, ids: Seq[String]): Unit =
      new DatalakePublishService(cfg, clock = () => LocalDate.of(2024, 2, day))
        .publishFhirR4(spark, tenant, ids.map(id =>
          FhirEnvelope("Patient", id, s"""{"resourceType":"Patient","id":"$id"}""")))
    pub("t1", 1, Seq("a", "b"))
    pub("t2", 1, Seq("c"))
    val df = LakeReader.readFhir(spark, cfg, "Patient", tenant = Some("t1"))
    val rows = df.select("fhir_tenant_id", "_date").distinct().collect()
    assert(rows.length === 1)
    assert(rows.head.getString(0) === "t1")
    assert(rows.head.getString(1) === "2024-02-01")
    assert(df.count() === 2)
  }

  /** Publishes `ids` of `resourceType` for `tenant` on 2024-02-`day`. */
  private def publishOn(cfg: LakeConfig, resourceType: String, tenant: String, day: Int,
      ids: Seq[String]): Unit =
    new DatalakePublishService(cfg, clock = () => LocalDate.of(2024, 2, day))
      .publishFhirR4(spark, tenant, ids.map(id => FhirEnvelope(resourceType, id,
        s"""{"resourceType":"$resourceType","id":"$id","tenant":"$tenant","day":$day}""")))

  private def bodies(cfg: LakeConfig, resourceType: String, tenant: Option[String],
      date: Option[String]): Seq[String] =
    LakeReader.readFhir(spark, cfg, resourceType, tenant, date)
      .select("body").collect().map(_.getString(0)).toSeq.sorted

  test("LakeReader pruned reads return exactly the full-walk-then-filter rows") {
    val (root, cfg) = freshLake()
    val tenants = Seq("t1", "t2", "org/t3")
    for ((t, ti) <- tenants.zipWithIndex; day <- 1 to 3 if (ti + day) % 3 != 0) {
      publishOn(cfg, "Patient", t, day, Seq(s"p$ti$day", s"q$ti$day"))
      publishOn(cfg, "Observation", t, day, Seq(s"o$ti$day"))
    }
    val storage = new LakeStorage(root, new Configuration())
    val all = storage.listRecursive("ehr/patient")
    assert(all.size === 12)
    def reference(tenant: Option[String], date: Option[String]): Seq[String] =
      all.filter(p => tenant.forall(t => p.contains(s"fhir_tenant_id=$t/")))
        .filter(p => date.forall(d => p.contains(s"_date=$d/")))
        .map(p => storage.get(p).get).sorted
    val tenantArgs = None +: (tenants :+ "t9").map(Some(_))
    val dateArgs = None +: Seq("2024-02-01", "2024-02-02", "2024-02-03", "2024-02-09").map(Some(_))
    for (t <- tenantArgs; d <- dateArgs) {
      val want = reference(t, d)
      assert(bodies(cfg, "Patient", t, d) === want, s"tenant=$t date=$d")
      if (t.exists(tenants.contains) && d.isEmpty) assert(want.nonEmpty)
    }
    assert(bodies(cfg, "Patient", None, None).size === 12)
  }

  test("LakeReader reads back a tenant whose id contains '/'") {
    val (_, cfg) = freshLake()
    publishOn(cfg, "Patient", "org/t3", 2, Seq("a", "b"))
    publishOn(cfg, "Patient", "t1", 2, Seq("c"))
    val published = Seq("a", "b").map(id =>
      s"""{"resourceType":"Patient","id":"$id","tenant":"org/t3","day":2}""")
    assert(bodies(cfg, "Patient", Some("org/t3"), None) === published)
    assert(bodies(cfg, "Patient", Some("org/t3"), Some("2024-02-02")) === published)
  }

  test("LakeReader reads documents whose ids hold glob characters") {
    val (_, cfg) = freshLake()
    val ids = Seq("p[1]", "p{a,b}", "p*", "p?")
    publishOn(cfg, "Patient", "t1", 2, ids)
    val want = ids.map(id => s"""{"resourceType":"Patient","id":"$id","tenant":"t1","day":2}""").sorted
    assert(bodies(cfg, "Patient", Some("t1"), Some("2024-02-02")) === want)
    assert(bodies(cfg, "Patient", None, None) === want)
  }

  test("LakeReader leaves out the document names Spark's file listing hides") {
    val (_, cfg) = freshLake()
    publishOn(cfg, "Patient", "t1", 2, Seq(".p1", "_p2", "_metadata", "p3"))
    val shown = LakeReader.readFhir(spark, cfg, "Patient").select(input_file_name())
      .collect().map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName).sorted
    assert(shown.toSeq === Seq("p3.json"))
  }

  test("LakeReader rejects a path-like resourceType and confines traversing tenants") {
    val (_, cfg) = freshLake()
    publishOn(cfg, "Patient", "t1", 1, Seq("a"))
    new DatalakePublishService(cfg).publishRawData("t1", "raw", "https://src.example/x")
    Seq("", ".", "..", "../raw_data_response", "raw_data_response/tenant_id=t1").foreach { rt =>
      intercept[IllegalArgumentException](LakeReader.readFhir(spark, cfg, rt))
    }
    // Some of these normalise to a directory that exists (t1's partition,
    // the patient type root, the raw-response tree); none may read from it.
    Seq("x/../t1", "x/../fhir_tenant_id=t1", "x/..", "x/../../../raw_data_response", "t1/.", "t1/")
      .foreach { t =>
        assert(bodies(cfg, "Patient", Some(t), None).isEmpty, t)
        assert(bodies(cfg, "Patient", Some(t), Some("2024-02-01")).isEmpty, t)
      }
    assert(bodies(cfg, "Patient", Some("t1"), Some("x/../2024-02-01")).isEmpty)
    assert(bodies(cfg, "Patient", Some("t1"), Some("2024-02-01")).size === 1)
  }

  test("listing a lake forks no child processes") {
    assume(ChildCpu.observable, "no /proc: child CPU is not observable")
    val (root, cfg) = freshLake()
    publishOn(cfg, "Patient", "t1", 1, (1 to 120).map(i => s"p$i"))
    val storage = new LakeStorage(root, new Configuration())
    // The old listFiles walk cost about 3 ms of child CPU per entry (over
    // 700 ms here).
    val cost = ChildCpu.bestOfThree {
      assert(storage.listRecursive().size === 120)
      assert(LakeReader.readFhir(spark, cfg, "Patient", Some("t1"), Some("2024-02-01")).count() === 120)
      assert(LakeReader.readFhir(spark, cfg, "Patient").count() === 120)
    }
    assert(cost < 20, s"child CPU per listing pass (ms, best of 3): $cost")
  }

  /** Spark jobs `body` launches. */
  private def jobsOf(body: => Unit): Int = SparkJobs.counted(spark)(body)._2

  test("publish batches run no Spark job, with or without ids") {
    val (root, cfg) = freshLake()
    val svc = new DatalakePublishService(cfg, clock = jan3_1990)
    val docs = (1 to 8).map(i => FhirEnvelope("Patient", s"p$i", s"""{"id":"p$i"}"""))
    assert(jobsOf(svc.publishFhirR4(spark, "t1", docs)) === 0)
    assert(jobsOf(svc.publishBinaryData(spark, "t1", Seq("b1" -> "{}", "b2" -> "{}", "b3" -> "{}"))) === 0)
    val storage = new LakeStorage(root, new Configuration())
    assert(storage.listRecursive().size === 11)
    val noIds = Seq(FhirEnvelope("Patient", "", "{}"), FhirEnvelope("Patient", null, "{}"))
    val jobs = jobsOf {
      val e = intercept[IllegalStateException](svc.publishFhirR4(spark, "t2", noIds))
      assert(e.getMessage === DatalakePublishService.missingIdMessage("t2"))
    }
    assert(jobs === 0)
    assert(storage.listRecursive().size === 11)
  }

  test("a readFhir scan over 40 documents runs as many Spark jobs as one over 4") {
    def scanJobs(n: Int): Int = {
      val (_, cfg) = freshLake()
      publishOn(cfg, "Patient", "t1", 1, (1 to n).map(i => s"p$i"))
      jobsOf(assert(LakeReader.readFhir(spark, cfg, "Patient").count() === n))
    }
    // above 32 paths, a file index that lists them does so in a Spark job
    assert(scanJobs(40) === scanJobs(4))
    // a served count opens no document, so a re-listing index could hide
    // behind it; an action that reads the rows still plans the file scan
    def readJobs(n: Int): Int = {
      val (_, cfg) = freshLake()
      publishOn(cfg, "Patient", "t1", 1, (1 to n).map(i => s"p$i"))
      jobsOf(assert(LakeReader.readFhir(spark, cfg, "Patient").select("body").collect().length === n))
    }
    assert(readJobs(40) === readJobs(4))
  }

  test("readFhir counts served from the listing equal the rows a scan reads") {
    val (root, cfg) = freshLake()
    publishOn(cfg, "Patient", "t1", 1, Seq("a", "b", "_x", ".x"))
    publishOn(cfg, "Patient", "t1", 2, Seq("c"))
    publishOn(cfg, "Patient", "t2", 1, Seq("d"))
    publishOn(cfg, "Patient", "n", 1, Seq("e"))
    publishOn(cfg, "Patient", "n/m", 1, Seq("f", "g"))
    val storage = new LakeStorage(root, new Configuration())
    val feb1 = LocalDate.of(2024, 2, 1)
    assert(storage.put(LakePath.fhirPath("Patient", "t1", feb1, "empty"), ""))
    assert(storage.put(LakePath.fhirPath("Patient", "t1", feb1, "short"), "{}"))
    def plan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // the hidden names (_x, .x) and the zero-length object are no rows
    val cases = Seq(
      (None, None) -> 8L,
      (Some("t1"), None) -> 4L,
      (Some("t1"), Some("2024-02-01")) -> 3L,
      (Some("n"), None) -> 3L,
      (Some("n"), Some("2024-02-01")) -> 1L,
      (Some("n/m"), Some("2024-02-01")) -> 2L)
    for (((tenant, date), want) <- cases) {
      val docs = LakeReader.readFhir(spark, cfg, "Patient", tenant, date)
      val read = docs.select("body").collect().length
      assert(read === want, s"tenant=$tenant date=$date")
      assert(docs.count() === read, s"tenant=$tenant date=$date")
      val served = plan(docs.groupBy().count())
      assert(served.contains("LocalTableScan") && !served.contains("Exchange") &&
        !served.contains("BatchScan"), s"tenant=$tenant date=$date:\n$served")
    }
    assert(jobsOf(LakeReader.readFhir(spark, cfg, "Patient").count()) === 1)
    // anything but a bare COUNT(*) reads the documents
    val docs = LakeReader.readFhir(spark, cfg, "Patient")
    val rows = docs.select("body", "_date").collect().map(r => (r.getString(0), r.getString(1)))
    val fallbacks = Seq(
      docs.filter(length(col("body")) > 10).groupBy().count() ->
        Seq(Row(rows.count(_._1.length > 10).toLong)),
      docs.where(col("_date") === "2024-02-02").groupBy().count() ->
        Seq(Row(rows.count(_._2 == "2024-02-02").toLong)),
      docs.groupBy("_date").count() ->
        rows.groupBy(_._2).map { case (d, rs) => Row(d, rs.length.toLong) }.toSeq,
      docs.agg(count(col("body"))) -> Seq(Row(rows.length.toLong)))
    for ((df, want) <- fallbacks) {
      assert(df.collect().toSeq.sortBy(_.toString) === want.sortBy(_.toString))
      val scanned = plan(df)
      assert(scanned.contains("BatchScan"), scanned)
    }
    assert(docs.filter(length(col("body")) > 10).count() === 7)
    assert(docs.where(col("_date") === "2024-02-02").count() === 1)
  }

  test("a failed write throws the write-failure message; the other documents stay written") {
    val (root, cfg) = freshLake()
    // one slice: every document of a batch is written by the same task
    val svc = new DatalakePublishService(cfg.copy(publishPoolMax = 1), clock = jan3_1990)
    val storage = new LakeStorage(root, new Configuration())
    // a file where the patient type directory belongs: its writes fail
    assert(storage.put("ehr/patient", "x"))
    val e = intercept[IllegalStateException] {
      svc.publishFhirR4(spark, "t", Seq(
        FhirEnvelope("Patient", "p1", """{"id":"p1"}"""),
        FhirEnvelope("Location", "l1", """{"id":"l1"}"""),
        FhirEnvelope("Location", "", "{}"),
        FhirEnvelope("Location", "l2", """{"id":"l2"}""")))
    }
    assert(e.getMessage === DatalakePublishService.writeFailureMessage)
    assert(storage.listRecursive("ehr/location").sorted === Seq("l1", "l2").map(id =>
      s"ehr/location/fhir_tenant_id=t/_date=1990-01-03/$id.json"))

    // a Binary batch: a file at ehr/Binary fails it whole; a directory at
    // one document's path fails that write alone, and the next still lands
    assert(storage.put("ehr/Binary", "x"))
    val eb = intercept[IllegalStateException](svc.publishBinaryData(spark, "t", Seq("b1" -> "{}")))
    assert(eb.getMessage === DatalakePublishService.writeFailureMessage)
    val (root2, cfg2) = freshLake()
    val storage2 = new LakeStorage(root2, new Configuration())
    assert(storage2.put("ehr/Binary/fhir_tenant_id=t/b2.json/blocker", "x"))
    val eb2 = intercept[IllegalStateException] {
      new DatalakePublishService(cfg2.copy(publishPoolMax = 1))
        .publishBinaryData(spark, "t", Seq("b1" -> "{}", "b2" -> "{}", "b3" -> "{}"))
    }
    assert(eb2.getMessage === DatalakePublishService.writeFailureMessage)
    assert(Seq("b1", "b3").map(id => storage2.get(s"ehr/Binary/fhir_tenant_id=t/$id.json")) ===
      Seq(Some("{}"), Some("{}")))
  }

  test("a failed write in a middle slice fails the batch; every other document lands") {
    val (root, cfg) = freshLake()
    val storage = new LakeStorage(root, new Configuration())
    // 25 documents in 10 slices: document 12 opens the sixth slice (12-14),
    // and a directory at its path fails that write alone
    val ids = (0 until 25).map(i => f"b$i%02d")
    assert(storage.put(s"ehr/Binary/fhir_tenant_id=t/${ids(12)}.json/blocker", "x"))
    val e = intercept[IllegalStateException] {
      new DatalakePublishService(cfg.copy(publishPoolMax = 10))
        .publishBinaryData(spark, "t", ids.map(id => id -> s"""{"id":"$id"}"""))
    }
    assert(e.getMessage === DatalakePublishService.writeFailureMessage)
    assert(ids.filter(_ != ids(12)).map(id => storage.get(s"ehr/Binary/fhir_tenant_id=t/$id.json")) ===
      ids.filter(_ != ids(12)).map(id => Some(s"""{"id":"$id"}""")))
  }

  test("the publish writer threads stay within publishPoolMax over many batches") {
    val (_, cfg) = freshLake()
    val svc = new DatalakePublishService(cfg, clock = jan3_1990)
    for (b <- 1 to 50)
      svc.publishBinaryData(spark, "t", (1 to 25).map(i => s"b$b-$i" -> "{}"))
    val live = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .count(t => t.isAlive && t.getName.startsWith("graft-publish-"))
    assert(live > 0 && live <= cfg.publishPoolMax, s"$live publish threads")
  }

  test("a store error that is no IOException reaches the caller unwrapped") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftboom.impl", classOf[BoomFileSystem].getName)
    conf.set("fs.graftboom.impl.disable.cache", "true")
    val dir = Files.createTempDirectory("graft_spec_").toString
    val cfg = LakeConfig(root = "graftboom://" + dir, retryDelayMs = 0L, publishPoolMax = 3)
    // "boom" is alone in the second of three slices, written off the calling thread
    val e = intercept[RuntimeException] {
      new DatalakePublishService(cfg).publishBinaryData(spark, "t", Seq("a", "boom", "c").map(_ -> "{}"))
    }
    assert(e.getClass === classOf[RuntimeException] && e.getMessage === "boom.json", e.toString)
    val storage = new LakeStorage("file://" + dir, new Configuration())
    assert(storage.listRecursive().sorted === Seq("a", "c").map(id => s"ehr/Binary/fhir_tenant_id=t/$id.json"))
  }

  test("rawJson escapes exactly as the character-by-character reference") {
    def reference(w: RawDataWrapper): String = {
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      s"""{"url":"${esc(w.url)}","time":"${esc(w.time)}","body":"${esc(w.body)}"}"""
    }
    val every = (0 until 0x80).map(_.toChar).mkString + "\u00e9\u2028" + new String(Character.toChars(0x1F600))
    val cases = Seq(
      RawDataWrapper("https://h/x?a=\"b\"", "2024-01-01T00:00:00", every),
      RawDataWrapper(every, every.take(40), ""),
      RawDataWrapper("", "", "MSH|^~\\&|\r\nPID|\u0001\u001f\u007f"))
    for (w <- cases) {
      val got = DatalakePublishService.rawJson(w)
      assert(got.getBytes("UTF-8").toSeq === reference(w).getBytes("UTF-8").toSeq)
    }
    assert(DatalakePublishService.rawJson(RawDataWrapper("\u0001", "\"", "\\")) ===
      "{\"url\":\"\\u0001\",\"time\":\"\\\"\",\"body\":\"\\\\\"}")
  }

  test("resource types lowercase the same under a Turkish default locale") {
    val (_, cfg) = freshLake()
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      assert(LakePath.fhirPath("Immunization", "t", jan3_1990(), "i1") ===
        "ehr/immunization/fhir_tenant_id=t/_date=1990-01-03/i1.json")
      publishOn(cfg, "Immunization", "t", 1, Seq("i1"))
      assert(bodies(cfg, "Immunization", Some("t"), None) ===
        Seq("""{"resourceType":"Immunization","id":"i1","tenant":"t","day":1}"""))
    } finally java.util.Locale.setDefault(saved)
  }
}

/** A local store under the scheme `graftboom` whose creates of a file
  * named `boom.json` fail with a plain `RuntimeException`. */
class BoomFileSystem extends ForkFreeRawLocalFileSystem {
  override def getUri: URI = URI.create("graftboom:///")
  override def getScheme: String = "graftboom"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    if (f.getName == "boom.json") throw new RuntimeException(f.getName)
    else super.create(f, overwrite, bufferSize, replication, blockSize, progress)
}
