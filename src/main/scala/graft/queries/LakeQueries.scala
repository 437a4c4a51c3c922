package graft.queries

import java.net.URI
import java.nio.file.Files
import java.time.{LocalDate, LocalDateTime}

import graft.core._
import graft.hl7.HL7
import org.apache.spark.sql.functions._

/** Core capability-parity surface (SURVEY.md §2 Part A) as oracle-checked
  * queries. The oracles are golden VALUES ported verbatim from the
  * reference's own unit tests (FIXTURES.md §§1-3,5) — the driver's DuckDB
  * compare asserts our engine reproduces the reference's exact contracts.
  *
  * Each query publishes into a fresh local `file://` lake (temp dir), so the
  * queries are side-effect-free with respect to the driver tables and safe
  * to re-run (exact-name sink overwrites are idempotent).
  */
object LakeQueries extends QueryModule {

  private def tempLake(): String =
    "file://" + graft.core.TempDirs.create("graft_lake_")

  private def cfg(root: String) = LakeConfig(root = root, retryDelayMs = 0L)

  private val fixedDate = () => LocalDate.of(1990, 1, 3)
  private val fixedTime = () => LocalDateTime.of(1990, 1, 3, 10, 15, 30)

  override val queries: Map[String, Q] = Map(
    // --- A1: partitioned FHIR sink; golden path contract
    //     (DatalakePublishServiceTest.kt:62-65) ---
    "qc01_publish_fhir_paths" -> { (s, _) =>
      val root = tempLake()
      val svc = new DatalakePublishService(cfg(root), clock = fixedDate)
      svc.publishFhirR4(s, "mockTenant", Seq(
        FhirEnvelope("Location", "abc", """{"resourceType":"Location","id":"abc","name":"Location1"}"""),
        FhirEnvelope("Location", "def", """{"resourceType":"Location","id":"def","name":"Location2"}"""),
        FhirEnvelope("Practitioner", "abc", """{"resourceType":"Practitioner","id":"abc"}""")))
      val paths = new LakeStorage(root).listRecursive()
      import s.implicits._
      paths.toDF("path").orderBy("path")
    },

    // --- A2: Binary sink, undated, "Binary" not lowercased
    //     (DatalakeRetrieveServiceTest.kt:179) ---
    "qc02_publish_binary_paths" -> { (s, _) =>
      val root = tempLake()
      val svc = new DatalakePublishService(cfg(root))
      svc.publishBinaryData(s, "tenant", Seq(
        "12345" -> """{"resourceType":"Binary","id":"12345","contentType":"1"}""",
        "67890" -> """{"resourceType":"Binary","id":"67890","contentType":"pdf"}"""))
      val paths = new LakeStorage(root).listRecursive()
      import s.implicits._
      paths.toDF("path").orderBy("path")
    },

    // --- A3: raw-data wrapper round-trip (RawDataWrapper JSON shape +
    //     transaction path + full URL, ref :169-196) ---
    "qc03_raw_roundtrip" -> { (s, _) =>
      val root = tempLake()
      val svc = new DatalakePublishService(cfg(root),
        timeClock = fixedTime, newTransactionId = () => "uuid-1234")
      val fullUrl = svc.publishRawData("ronin", "raw response body", "https://api.example.com/x")
      val retrieve = new DatalakeRetrieveService(cfg(root))
      val body = retrieve
        .getObjectBody("raw_data_response/tenant_id=ronin/transaction_id/uuid-1234")
        .getOrElse("{}")
      import s.implicits._
      Seq((fullUrl, body)).toDF("full_url", "raw")
        .select(
          col("full_url"),
          get_json_object(col("raw"), "$.url").as("url"),
          get_json_object(col("raw"), "$.time").as("time"),
          get_json_object(col("raw"), "$.body").as("body"))
    },

    // --- A18/A19: keyed batch retrieval; missing keys dropped
    //     (DatalakeRetrieveServiceTest.kt:125-151) ---
    "qc04_retrieve_binary" -> { (s, _) =>
      val root = tempLake()
      val svc = new DatalakePublishService(cfg(root))
      svc.publishBinaryData(s, "tenantX", Seq(
        "b1" -> """{"resourceType":"Binary","id":"b1","contentType":"pdf"}""",
        "b2" -> """{"resourceType":"Binary","id":"b2","contentType":"text/json"}"""))
      val retrieve = new DatalakeRetrieveService(cfg(root))
      val found = Seq("b1", "b2", "missing").flatMap { rid =>
        retrieve.retrieveBinaryData("tenantX", rid)
          .map(doc => (rid, doc.contentType.getOrElse(""), retrieve.binaryExists("tenantX", rid)))
      }
      import s.implicits._
      found.toDF("resource_id", "content_type", "exists").orderBy("resource_id")
    },

    // --- A14/A22: URL <-> path codec incl. the single-segment quirk and
    //     malformed -> null without IO (OCIClientTest.kt:244-254) ---
    "qc05_url_codec" -> { (s, _) =>
      val urls = Seq(
        "https://objectstorage.us-phoenix-1.oraclecloud.com/n/ns/b/bkt/o/file.json",
        "https://objectstorage.us-phoenix-1.oraclecloud.com/n/ns/b/bkt/o/a/b/c",
        "",
        "https://a.b.c.d/efg/hij/klm/nop",
        "https://objectstorage.us-phoenix-1.oraclecloud.com/n/ns/b/bucket/o")
      val rows = urls.map { u =>
        val parsed = LakePath.bucketAndFile(u)
        (u, parsed.map(_._1).orNull, parsed.map(_._2).orNull)
      }
      import s.implicits._
      rows.toDF("url", "bucket", "file").orderBy("url")
    },

    // --- A1 read-back: partition-pruned scan over the _date= layout
    //     (SURVEY.md §7.5 hidden-dir mitigation) ---
    "qc06_partition_pruned_read" -> { (s, _) =>
      val root = tempLake()
      def publish(tenant: String, day: Int, ids: Seq[String]): Unit = {
        val svc = new DatalakePublishService(cfg(root),
          clock = () => LocalDate.of(2024, 1, day))
        svc.publishFhirR4(s, tenant, ids.map(id =>
          FhirEnvelope("Patient", id, s"""{"resourceType":"Patient","id":"$id"}""")))
      }
      publish("t1", 1, Seq("a", "b"))
      publish("t1", 2, Seq("c"))
      publish("t2", 1, Seq("d", "e", "f"))
      LakeReader.readFhir(s, cfg(root), "Patient", tenant = Some("t1"))
        .groupBy(col("_date").as("date"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("fhir_tenant_id")).as("n_tenants"))
        .orderBy("date")
    },

    // --- A10/A11: error contract incl. ordering and exact messages
    //     (FIXTURES.md §5) ---
    "qc07_error_contract" -> { (s, _) =>
      val root = tempLake()
      val svc = new DatalakePublishService(cfg(root), clock = fixedDate)
      val missingIdMsg =
        try {
          svc.publishFhirR4(s, "mockTenant", Seq(
            FhirEnvelope("Location", "good1", """{"id":"good1"}"""),
            FhirEnvelope("Location", "", """{"id":null}"""),
            FhirEnvelope("Location", null, """{}""")))
          "no exception"
        } catch { case e: IllegalStateException => e.getMessage }
      // valid resources stay published even though the batch threw:
      val published = new LakeStorage(root)
        .listRecursive().sorted.mkString(",")
      val emptyMsg =
        try { svc.publishFhirR4(s, "mockTenant", Seq.empty); "no exception" }
        catch { case e: IllegalStateException => e.getMessage }
      import s.implicits._
      Seq(
        ("missing_id_message", missingIdMsg),
        ("published_after_throw", published),
        ("empty_input", emptyMsg)).toDF("check", "result").orderBy("check")
    },

    // --- §1.3/§7.5: nested FHIR schema-on-read — publish realistic nested
    //     Patient documents (identifier/name arrays), read back through the
    //     per-resource-type StructType (FhirSchemas.patient) with a
    //     corrupt-record column, extract nested fields. Drift cases: p2 has
    //     no identifiers/names (missing -> null), p3 carries an unknown
    //     field (ignored), bad1 is malformed (lands in _corrupt, scan
    //     survives) ---
    "qc13_fhir_nested_read" -> { (s, _) =>
      val root = tempLake()
      val svc = new DatalakePublishService(cfg(root), clock = fixedDate)
      svc.publishFhirR4(s, "tenantN", Seq(
        FhirEnvelope("Patient", "p1", FhirNestedDocs.p1),
        FhirEnvelope("Patient", "p2", FhirNestedDocs.p2),
        FhirEnvelope("Patient", "p3", FhirNestedDocs.p3),
        FhirEnvelope("Patient", "bad1", FhirNestedDocs.bad)))
      val doc = col("doc")
      val name0 = get(doc.getField("name"), lit(0))
      LakeReader.readFhir(s, cfg(root), "Patient", tenant = Some("tenantN"),
          bodySchema = Some(FhirSchemas.readSchema("Patient")))
        .select(
          doc.getField("id").as("id"),
          doc.getField("active").as("active"),
          doc.getField("birthDate").as("birth_date"),
          get(doc.getField("identifier"), lit(0)).getField("value").as("mrn"),
          name0.getField("family").as("family"),
          when(name0.getField("given").isNull, lit(null).cast("int"))
            .otherwise(size(name0.getField("given"))).as("n_given"),
          array_join(name0.getField("given"), " ").as("given_all"),
          doc.getField(FhirSchemas.CorruptCol).isNotNull.as("is_corrupt"))
        .orderBy(col("id").asc_nulls_last)
    },

    // --- A23: HL7 MSH-9 extraction, 8-case corpus ported verbatim
    //     (hl7/HL7UtilsTest.kt:7-106; FIXTURES.md §3) ---
    "qh01_hl7_msh9" -> { (s, _) =>
      HL7.register(s)
      import s.implicits._
      HL7Corpus.cases.toDF("case_id", "message")
        .withColumn("m", call_udf("hl7_msh9", col("message")))
        .select(col("case_id"), col("m._1").as("msg_type"), col("m._2").as("msg_event"))
        .orderBy("case_id")
    },

    // --- A23 again through the pure-expression path: same algorithm as
    //     native locate/substr/split columns, no UDF boundary — the form
    //     that stays inside whole-stage codegen on a large HL7 corpus
    //     (equivalence with the UDF property-tested in HL7Spec) ---
    "qh02_hl7_native" -> { (s, _) =>
      import s.implicits._
      HL7Corpus.cases.toDF("case_id", "message")
        .withColumn("m", HL7.msh9Native(col("message")))
        .select(col("case_id"), col("m.msg_type").as("msg_type"),
          col("m.msg_event").as("msg_event"))
        .orderBy("case_id")
    }
  )

  override val oracle: Map[String, String] = Map(
    "qc13_fhir_nested_read" ->
      s"""WITH docs(j) AS (VALUES
           ('${FhirNestedDocs.p1}'), ('${FhirNestedDocs.p2}'), ('${FhirNestedDocs.p3}'))
         SELECT json_extract_string(j, '$$.id') AS id,
           CAST(json_extract(j, '$$.active') AS BOOLEAN) AS active,
           json_extract_string(j, '$$.birthDate') AS birth_date,
           json_extract_string(j, '$$.identifier[0].value') AS mrn,
           json_extract_string(j, '$$.name[0].family') AS family,
           CAST(len(CAST(json_extract(j, '$$.name[0].given') AS VARCHAR[])) AS INTEGER) AS n_given,
           array_to_string(CAST(json_extract(j, '$$.name[0].given') AS VARCHAR[]), ' ') AS given_all,
           false AS is_corrupt
         FROM docs
         UNION ALL
         SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, true
         ORDER BY id NULLS LAST""",

    "qc01_publish_fhir_paths" ->
      """SELECT * FROM (VALUES
         ('ehr/location/fhir_tenant_id=mockTenant/_date=1990-01-03/abc.json'),
         ('ehr/location/fhir_tenant_id=mockTenant/_date=1990-01-03/def.json'),
         ('ehr/practitioner/fhir_tenant_id=mockTenant/_date=1990-01-03/abc.json')) t(path)
         ORDER BY path""",

    "qc02_publish_binary_paths" ->
      """SELECT * FROM (VALUES
         ('ehr/Binary/fhir_tenant_id=tenant/12345.json'),
         ('ehr/Binary/fhir_tenant_id=tenant/67890.json')) t(path)
         ORDER BY path""",

    "qc03_raw_roundtrip" ->
      """SELECT
         'https://objectstorage.us-phoenix-1.oraclecloud.com/n/namespace/b/datalake/o/raw_data_response/tenant_id=ronin/transaction_id/uuid-1234' AS full_url,
         'https://api.example.com/x' AS url,
         '1990-01-03T10:15:30' AS time,
         'raw response body' AS body""",

    "qc04_retrieve_binary" ->
      """SELECT * FROM (VALUES
         ('b1', 'pdf', true),
         ('b2', 'text/json', true)) t(resource_id, content_type, "exists")
         ORDER BY resource_id""",

    "qc05_url_codec" ->
      """SELECT * FROM (VALUES
         ('', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
         ('https://a.b.c.d/efg/hij/klm/nop', NULL, NULL),
         ('https://objectstorage.us-phoenix-1.oraclecloud.com/n/ns/b/bkt/o/a/b/c', 'bkt', 'a'),
         ('https://objectstorage.us-phoenix-1.oraclecloud.com/n/ns/b/bkt/o/file.json', 'bkt', 'file.json'),
         ('https://objectstorage.us-phoenix-1.oraclecloud.com/n/ns/b/bucket/o', NULL, NULL)) t(url, bucket, file)
         ORDER BY url""",

    "qc06_partition_pruned_read" ->
      """SELECT * FROM (VALUES
         ('2024-01-01', CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
         ('2024-01-02', CAST(1 AS BIGINT), CAST(1 AS BIGINT))) t(date, n, n_tenants)
         ORDER BY date""",

    "qc07_error_contract" ->
      """SELECT * FROM (VALUES
         ('empty_input', 'no exception'),
         ('missing_id_message',
          'Did not publish all FHIR resources to datalake for tenant mockTenant: Some resources lacked FHIR IDs. Errors were logged.'),
         ('published_after_throw',
          'ehr/location/fhir_tenant_id=mockTenant/_date=1990-01-03/good1.json')) t("check", result)
         ORDER BY "check"""",

    "qh01_hl7_msh9" ->
      """SELECT * FROM (VALUES
         (1, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
         (2, NULL, NULL), (3, NULL, NULL), (4, NULL, NULL),
         (5, NULL, NULL), (6, NULL, NULL), (7, NULL, NULL),
         (8, 'MDM', 'T02')) t(case_id, msg_type, msg_event)
         ORDER BY case_id""",

    "qh02_hl7_native" ->
      """SELECT * FROM (VALUES
         (1, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
         (2, NULL, NULL), (3, NULL, NULL), (4, NULL, NULL),
         (5, NULL, NULL), (6, NULL, NULL), (7, NULL, NULL),
         (8, 'MDM', 'T02')) t(case_id, msg_type, msg_event)
         ORDER BY case_id"""
  )
}

/** Fixed nested FHIR Patient documents for qc13 (shared verbatim with the
  * DuckDB oracle, which re-extracts the same fields with JSON functions —
  * so the check exercises real extraction on both engines, not a golden
  * table). JSON contains no single quotes, so SQL-literal splicing is safe. */
object FhirNestedDocs {
  val p1: String =
    """{"resourceType":"Patient","id":"p1","active":true,"birthDate":"1980-02-01","identifier":[{"system":"urn:mrn","value":"MRN-001"},{"system":"urn:ssn","value":"S-1"}],"name":[{"use":"official","family":"Smith","given":["Jan","Q"]},{"use":"nickname","family":null,"given":["Janny"]}]}"""
  /** Drift: everything optional missing. */
  val p2: String = """{"resourceType":"Patient","id":"p2"}"""
  /** Drift: unknown extra field (ignored by schema-on-read). */
  val p3: String =
    """{"resourceType":"Patient","id":"p3","active":false,"birthDate":"1999-12-31","futureField":{"x":1},"identifier":[{"system":"urn:mrn","value":"MRN-003"}],"name":[{"use":"official","family":"Okafor","given":["Ada"]}]}"""
  /** Structurally broken document: must land in the corrupt column. */
  val bad: String = """{"resourceType":"Patient","id":"bad1","name":[{"""
}

/** The reference's HL7 test corpus (hl7/HL7UtilsTest.kt:7-106), verbatim. */
object HL7Corpus {
  private val goodHeader =
    "MSH|^~\\&|Brocade|MDACC|Epic|MDACC|20220412161126||MDM^T02|121160|T|2.7"
  private val body =
    "\nEVN|T02|20220412161126|\nPID|1||4348061^^^^MRN||PATIENT^FAKE||19750229|M\n" +
      "PV1|1|O|Clinic^^^MDACC\nTXA|1|CN|TX|20220412161126\nOBX|1|TX|||Test line one"

  val cases: Seq[(Int, String)] = Seq(
    1 -> "",
    2 -> "MSH",
    3 -> "MSH|",
    4 -> "MSH|^~\\&|Brocade|MDACC|Epic|MDACC|20220412161126",
    5 -> ("MSH|^~\\&|Brocade|MDACC|Epic|MDACC|20220412161126|||121160|T|2.7" + body),
    6 -> "MSH|^~\\&|Brocade|MDACC|Epic|MDACC|20220412161126||MDMD^T02|121160|T|2.7",
    7 -> "MSH|^~\\&|Brocade|MDACC|Epic|MDACC|20220412161126||MDMDT02|121160|T|2.7",
    8 -> (goodHeader + body))
}
