package graft.core

import java.net.URI

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration

/** Point/batch retrieval surface (ref: DatalakeRetrieveService.kt).
  *
  * Semantics preserved (SURVEY.md §7.4):
  *  - batch lookup drops missing keys from the result map (inner-join
  *    semantics, ref :18-23; null-dropping test :125-151);
  *  - malformed URLs resolve to nothing without any IO
  *    (ref: OCIClient.kt:196-203);
  *  - storage exceptions other than not-found propagate unchanged
  *    (ref test :153-174).
  *
  * Scale note: these are key-addressed point reads (the reference is a
  * sequential list iteration, ref :18-23). For bulk retrieval at scale use
  * the partition-pruned DataFrame read path instead
  * (graft.queries.LakeQueries / spark.read.json over the partition layout).
  */
class DatalakeRetrieveService(cfg: LakeConfig) {

  private val storage = new LakeStorage(cfg.root, retryDelayMs = cfg.retryDelayMs)
  private lazy val registry =
    new LakeStorage(cfg.resolvedRegistryRoot, retryDelayMs = cfg.retryDelayMs)

  /** Read a config/manifest object from the secondary registry store
    * (ref: OCIClient.kt:78-80 `getObjectFromINFX`). */
  def getObjectFromRegistry(fileName: String): Option[String] = registry.get(fileName)

  /** Batch keyed lookup; missing keys are absent from the result. */
  def retrieveBinaryData(urls: Seq[URI]): Map[URI, BinaryDoc] =
    urls.flatMap(u => retrieveBinaryData(u).map(u -> _)).toMap

  /** Lookup by object URL; None when malformed or missing. */
  def retrieveBinaryData(url: URI): Option[BinaryDoc] =
    LakePath.bucketAndFile(url).flatMap { case (_, file) =>
      storage.get(file).map(DatalakeRetrieveService.parseBinary)
    }

  /** Lookup by (tenant, resource) key via the Binary path template
    * (ref :33-39,54-57). */
  def retrieveBinaryData(tenantId: String, resourceId: String): Option[BinaryDoc] =
    storage.get(LakePath.binaryPath(tenantId, resourceId))
      .map(DatalakeRetrieveService.parseBinary)

  /** Existence predicate by key (ref :49-52). */
  def binaryExists(tenantId: String, resourceId: String): Boolean =
    storage.exists(LakePath.binaryPath(tenantId, resourceId))

  /** Point read of any lake object body (ref: OCIClient.kt:166-190,208). */
  def getObjectBody(fileName: String): Option[String] = storage.get(fileName)

  /** Point read by URL; malformed -> None without IO (ref :196-203). */
  def getObjectBody(url: URI): Option[String] =
    LakePath.bucketAndFile(url).flatMap { case (_, file) => storage.get(file) }

  def objectExists(fileName: String): Boolean = storage.exists(fileName)

  def objectExists(url: URI): Boolean =
    LakePath.bucketAndFile(url).exists { case (_, file) => storage.exists(file) }
}

object DatalakeRetrieveService {
  private val mapper = new ObjectMapper()

  /** JSON -> BinaryDoc (the reference's Jackson readJsonObject,
    * ref: DatalakeRetrieveService.kt:21). */
  def parseBinary(json: String): BinaryDoc = {
    val node = mapper.readTree(json)
    def opt(f: String): Option[String] =
      if (node.hasNonNull(f)) Some(node.get(f).asText()) else None
    BinaryDoc(opt("id").orNull, opt("contentType"), opt("data"))
  }
}
