package graft.core

import java.net.URI
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.Locale

/** Codec for the three lake path templates and the object-URL mapping.
  *
  * Path contracts (ref: DatalakePublishService.kt:68-73,148-153,177; golden
  * strings in the reference tests, ported verbatim into LakePathSpec):
  *
  *   ehr/<resourcetype lowercase>/fhir_tenant_id=<t>/_date=<yyyy-MM-dd>/<id>.json
  *   ehr/Binary/fhir_tenant_id=<t>/<id>.json            ("Binary" NOT lowercased)
  *   raw_data_response/tenant_id=<t>/transaction_id/<uuid>   (no extension)
  *
  * URL form (ref: OCIClient.kt:94-95, parsed at :252-256):
  *   https://objectstorage.<region>.oraclecloud.com/n/<ns>/b/<bucket>/o/<file>
  */
object LakePath {
  private val isoDate = DateTimeFormatter.ISO_LOCAL_DATE

  /** `ehr/<type>`: the type lowercased locale-independently (the
    * reference's Kotlin `lowercase()`), so `Immunization` maps to
    * `immunization` under every default locale, `tr` included. */
  def fhirTypeDir(resourceType: String): String = s"ehr/${resourceType.toLowerCase(Locale.ROOT)}"

  def fhirPath(resourceType: String, tenantId: String, date: LocalDate, id: String): String =
    s"${fhirTypeDir(resourceType)}/fhir_tenant_id=$tenantId/_date=${date.format(isoDate)}/$id.json"

  def binaryPath(tenantId: String, resourceId: String): String =
    s"ehr/Binary/fhir_tenant_id=$tenantId/$resourceId.json"

  def rawPath(tenantId: String, transactionId: String): String =
    s"raw_data_response/tenant_id=$tenantId/transaction_id/$transactionId"

  def fullUrl(cfg: LakeConfig, fileName: String): String =
    s"https://objectstorage.${cfg.region}.oraclecloud.com/n/${cfg.namespace}/b/${cfg.bucket}/o/$fileName"

  /** Parse (bucket, fileName) out of an object URL.
    *
    * Preserves the reference quirk (ref: OCIClient.kt:252-256): only path
    * segments 3 and 5 are taken, so object names containing '/' are
    * truncated to their first segment — URL addressing supports
    * single-segment names only. Malformed URLs return None (the reference
    * returns a (" "," ") sentinel and then nulls out without any IO,
    * ref: OCIClient.kt:196-203).
    */
  def bucketAndFile(url: URI): Option[(String, String)] = {
    // Raw (undecoded) path: the reference splits the encoded URI path, so an
    // object name like a%2Fb.json stays one segment rather than decoding to
    // a/b.json and truncating to "a" (ref: OCIClient.kt:252-256).
    val path = Option(url.getRawPath).getOrElse("")
    val segs = path.split("/").drop(1) // leading '/' yields an empty seg 0
    if (segs.length >= 6 && segs(0) == "n" && segs(2) == "b" && segs(4) == "o")
      Some((segs(3), segs(5)))
    else None
  }

  def bucketAndFile(url: String): Option[(String, String)] =
    try bucketAndFile(new URI(url))
    catch { case _: Exception => None }
}
