package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.{LocalDate, LocalDateTime}
import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Bronze-layer publish surface (ref: DatalakePublishService.kt), re-expressed
  * over a Hadoop FileSystem with the exact-filename document sink
  * (SURVEY.md §2 Part B "Exact-name document write").
  *
  * Both batch publishes build their (path, body) pairs on the driver and
  * hand them to one write path, [[writeAll]], which writes them from the
  * driver the way the reference's client does: one FileSystem handle per
  * batch (the reference's dedicated client per batch, ref :63,104) and a
  * bounded pool of min(`publishPoolMax`, n) concurrent writers (the
  * reference's min(10, n)-thread pool, ref :125-146). No Spark job runs.
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
    newTransactionId: () => String = () => UUID.randomUUID().toString) {

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

  /** Writes each (lake-relative path, body) pair as one object; true when
    * every write succeeded. The pairs are cut into min(`publishPoolMax`, n)
    * contiguous slices written at once, one by the calling thread and the
    * rest by [[Writers]], all through one handle opened with the session's
    * Hadoop conf (its `spark.hadoop.*` settings reach every put). Every
    * document is written even after another fails. A store error other
    * than an `IOException` (which [[LakeStorage.put]] turns into false)
    * reaches the caller as itself, once every slice has finished. No
    * documents: no storage interaction, true. */
  private def writeAll(spark: SparkSession, docs: Seq[(String, String)]): Boolean =
    docs.isEmpty || {
      val root = new Path(cfg.root)
      val fs = LakeStorage.openFor(root, spark.sparkContext.hadoopConfiguration)
      val all = docs.toIndexedSeq
      val n = math.min(cfg.publishPoolMax, all.size)
      Writers.run(n) { slice =>
        // put first: a failure must not skip the writes that follow it
        all.slice(slice * all.size / n, (slice + 1) * all.size / n).foldLeft(true) {
          case (ok, (rel, body)) =>
            LakeStorage.put(fs, new Path(root, rel), body.getBytes(UTF_8), cfg.retryDelayMs) && ok
        }
      }
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
    * (ref :182-188,198), built in one pass over the three strings. */
  def rawJson(w: RawDataWrapper): String = {
    val out = new java.lang.StringBuilder(w.url.length + w.time.length + w.body.length + 32)
    def esc(s: String): Unit = {
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '"' => out.append("\\\"")
          case '\\' => out.append("\\\\")
          case '\n' => out.append("\\n")
          case '\r' => out.append("\\r")
          case '\t' => out.append("\\t")
          case c if c < ' ' => out.append(f"\\u${c.toInt}%04x")
          case c => out.append(c)
        }
        i += 1
      }
    }
    out.append("{\"url\":\"")
    esc(w.url)
    out.append("\",\"time\":\"")
    esc(w.time)
    out.append("\",\"body\":\"")
    esc(w.body)
    out.append("\"}").toString
  }

  /** The daemon threads that write a batch's slices beside its calling
    * thread, shared by every batch. The pool holds at most as many
    * threads as the widest batch has asked for (`publishPoolMax` - 1);
    * a thread idle for a minute exits. */
  private object Writers {
    private val pool = {
      val made = new AtomicInteger()
      val p = new ThreadPoolExecutor(0, Int.MaxValue, 60L, TimeUnit.SECONDS,
        new LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
          val t = new Thread(r, s"graft-publish-${made.incrementAndGet()}")
          t.setDaemon(true)
          t
        })
      p.allowCoreThreadTimeOut(true)
      p
    }

    /** `slice(0)` on the calling thread and `slice(1)` .. `slice(n - 1)` on
      * the pool; true when all of them returned true. Waits for every
      * slice, then throws the first slice's exception, if any, unwrapped. */
    def run(n: Int)(slice: Int => Boolean): Boolean = {
      pool.synchronized { if (pool.getCorePoolSize < n - 1) pool.setCorePoolSize(n - 1) }
      val others = (1 until n).map(i => pool.submit(new Callable[Boolean] { def call(): Boolean = slice(i) }))
      val outcomes = Try(slice(0)) +: others.map(f =>
        Try(try f.get() catch { case e: ExecutionException => throw e.getCause }))
      outcomes.map(_.get).forall(identity)
    }
  }
}
