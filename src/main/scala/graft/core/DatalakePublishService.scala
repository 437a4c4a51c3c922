package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.{LocalDate, LocalDateTime}
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Bronze-layer publish surface (ref: DatalakePublishService.kt), re-expressed
  * as distributed Spark writes with the exact-filename document sink
  * (SURVEY.md §2 Part B "Exact-name document write").
  *
  * Scale design: both batch publishes build their (path, body) pairs on the
  * driver and hand them to one write path, [[writeAll]]: the pairs are
  * sliced (capped at `publishPoolMax`, mirroring the reference's
  * min(10, n)-thread pool, ref :125-146), each slice opens ONE FileSystem
  * handle for all of its writes (the reference's dedicated-client-per-batch
  * amortization, ref :63,104), and the per-slice outcomes come back in the
  * same job — one Spark job per batch, no shuffle, no encoder.
  *
  * Error contract preserved exactly, including ordering (SURVEY.md §7.4):
  *  1. any write failed       -> IllegalStateException("One or more writes to datalake failed")
  *  2. any resource lacked id -> IllegalStateException("Did not publish all FHIR resources ...")
  * Valid resources remain published even when the batch then throws; one
  * LocalDate.now() snapshot per batch (ref :60); empty input short-circuits
  * before any storage interaction (ref :56-59).
  */
class DatalakePublishService(
    cfg: LakeConfig,
    clock: () => LocalDate = () => LocalDate.now(),
    timeClock: () => LocalDateTime = () => LocalDateTime.now(),
    newTransactionId: () => String = () => UUID.randomUUID().toString)
    extends Serializable {

  import DatalakePublishService._

  /** Publish each FHIR envelope as one JSON document under
    * ehr/<type>/fhir_tenant_id=<t>/_date=<date>/<id>.json. */
  def publishFhirR4(spark: SparkSession, tenantId: String, resources: Seq[FhirEnvelope]): Unit = {
    if (resources.isEmpty) return // ref :56-59 — zero storage interaction
    val date = clock() // one snapshot per batch -> single _date (ref :60)
    val (withId, withoutId) = resources.partition(env => env.id != null && env.id.nonEmpty) // ref :61
    val docs = withId.map(env => LakePath.fhirPath(env.resourceType, tenantId, date, env.id) -> env.body)
    // Ordering matters: write-failure check precedes missing-id check
    // (ref :79 before :83); successfully written docs stay written.
    if (!writeAll(spark, docs)) throw new IllegalStateException(writeFailureMessage)
    if (withoutId.nonEmpty) throw new IllegalStateException(missingIdMessage(tenantId))
  }

  /** Publish Binary payloads under ehr/Binary/fhir_tenant_id=<t>/<id>.json
    * (no date partition; "Binary" not lowercased, ref :100-120,148-153).
    * Empty input returns without any storage interaction — the reference has
    * no explicit short-circuit but its empty pool run uploads nothing, so
    * this is behaviorally equivalent. */
  def publishBinaryData(spark: SparkSession, tenantId: String, binaries: Seq[(String, String)]): Unit =
    if (!writeAll(spark, binaries.map { case (id, body) => LakePath.binaryPath(tenantId, id) -> body }))
      throw new IllegalStateException(writeFailureMessage)

  /** Writes each (lake-relative path, body) pair as one object in a single
    * Spark job; true when every write succeeded. Every document is written
    * even after another fails. No documents: no job, true. */
  private def writeAll(spark: SparkSession, docs: Seq[(String, String)]): Boolean =
    docs.isEmpty || {
      val root = cfg.root
      val retryMs = cfg.retryDelayMs
      spark.sparkContext.parallelize(docs, math.min(cfg.publishPoolMax, docs.size))
        .mapPartitions { iter =>
          val fs = LakeStorage.openFor(root)
          // put first: a failure must not skip the writes that follow it
          Iterator.single(iter.foldLeft(true) { case (ok, (rel, body)) =>
            LakeStorage.put(fs, new Path(root, rel), body.getBytes(UTF_8), retryMs) && ok
          })
        }
        .collect()
        .forall(identity)
    }

  /** Wrap a raw API response and publish it as a single object at
    * raw_data_response/tenant_id=<t>/transaction_id/<uuid>; returns the full
    * object URL (ref :169-196). */
  def publishRawData(tenantId: String, data: String, url: String): String = {
    val rel = LakePath.rawPath(tenantId, newTransactionId())
    val wrapped = rawJson(RawDataWrapper(
      url, timeClock().format(DateTimeFormatter.ISO_LOCAL_DATE_TIME), data))
    val storage = new LakeStorage(cfg.root, retryDelayMs = cfg.retryDelayMs)
    if (!storage.put(rel, wrapped))
      throw new IllegalStateException(rawFailureMessage) // ref :191-193
    LakePath.fullUrl(cfg, rel) // ref :195, OCIClient.kt:94-95
  }

  def getDatalakeFullURL(fileName: String): String = LakePath.fullUrl(cfg, fileName)
}

object DatalakePublishService {
  // Exact exception messages (FIXTURES.md §5; ref :80,:84-87,:192).
  val writeFailureMessage = "One or more writes to datalake failed"
  def missingIdMessage(tenantId: String): String =
    s"Did not publish all FHIR resources to datalake for tenant $tenantId: " +
      "Some resources lacked FHIR IDs. Errors were logged."
  val rawFailureMessage = "Raw data publication failed"

  /** RawDataWrapper JSON shape: {"url":...,"time":...,"body":...}
    * (ref :182-188,198). */
  def rawJson(w: RawDataWrapper): String = {
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
}
