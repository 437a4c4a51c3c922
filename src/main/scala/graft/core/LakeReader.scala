package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructType}

/** Partition-pruned scans over the bronze lake layout.
  *
  * The reference's `_date=<iso>` partition directory starts with '_', which
  * Spark's file index treats as hidden — naive `spark.read.json(root)`
  * silently sees nothing (SURVEY.md §7.5). This reader keeps the golden path
  * contract AND Spark-visible scans by doing its own partition discovery:
  * list leaf files via the FileSystem, prune by tenant/date BEFORE the scan
  * (list-level partition pruning — only matching files are ever opened),
  * then recover the partition columns from `input_file_name()`.
  *
  * The listing starts at the deepest directory the arguments fix —
  * `ehr/<type>/fhir_tenant_id=<t>/_date=<d>` for a tenant and a date,
  * `ehr/<type>/fhir_tenant_id=<t>` for a tenant alone, `ehr/<type>`
  * otherwise — so a scan lists only its own partition. The
  * `fhir_tenant_id=<t>/` and `_date=<d>/` substring filters still apply to
  * every listed path, so the result is the full walk's with one exception:
  * given a date, tenant `a` no longer picks up the documents of a tenant
  * nested under it (`a/b`), which the substring filter matched.
  *
  * Listing goes through [[LakeStorage.listStatuses]], which walks with
  * `listStatus`, not `listFiles`: on the local store `listFiles` forks an
  * `ls` per file to load permissions nobody reads, and that fork, not the
  * scan, was most of a small read's wall time.
  */
object LakeReader {

  /** Read FHIR documents of one resourceType; optional tenant/date pruning.
    * Returns columns: body (raw JSON) + fhir_tenant_id + _date + any
    * `schema` fields parsed from the body. `resourceType` names one
    * directory under `ehr/`: an empty one, `.`, `..` or one containing '/'
    * throws IllegalArgumentException. */
  def readFhir(
      spark: SparkSession,
      cfg: LakeConfig,
      resourceType: String,
      tenant: Option[String] = None,
      date: Option[String] = None,
      bodySchema: Option[StructType] = None): DataFrame = {
    require(resourceType.nonEmpty && resourceType != "." && resourceType != ".." &&
      !resourceType.contains('/'), s"invalid resourceType: '$resourceType'")
    // Listed paths are normalised: past its first segment (which follows
    // "fhir_tenant_id=" or "_date="), no value can match one with an empty,
    // "." or ".." segment. Returning early keeps such a value from
    // steering the prefix outside ehr/<type>.
    def unmatchable(v: String) =
      v.split("/", -1).drop(1).exists(seg => seg.isEmpty || seg == "." || seg == "..")
    if (tenant.exists(unmatchable) || date.exists(unmatchable)) {
      return emptyResult(spark, bodySchema)
    }
    val storage = new LakeStorage(cfg.root, retryDelayMs = cfg.retryDelayMs)
    val typeDir = LakePath.fhirTypeDir(resourceType)
    val prefix = tenant.fold(typeDir) { t =>
      s"$typeDir/fhir_tenant_id=$t" + date.fold("")(d => s"/_date=$d")
    }
    val files = storage.listStatuses(prefix).collect {
      case (rel, st) if tenant.forall(t => rel.contains(s"fhir_tenant_id=$t/")) &&
        date.forall(dt => rel.contains(s"_date=$dt/")) => st
    }
    if (files.isEmpty) {
      return emptyResult(spark, bodySchema)
    }
    // wholetext: one row per OBJECT (the publish contract is one document
    // per file) — line-based reading would shred pretty-printed JSON bodies.
    // The relation is built over the listed files directly: `spark.read`
    // would look the source up and check every path again, reading each as
    // a glob pattern, so an id holding `[` or `{` failed the scan.
    // One select names the columns, so the plan is analyzed once, not once
    // per added column. The index takes the walk's statuses from a cache
    // instead of listing every document again (above 32 paths, as a Spark
    // job).
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), Map.empty, None, new Listed(files))
    val text = HadoopFsRelation(index, new StructType(), new StructType().add("value", StringType),
      None, new ShippedConfText, Map("wholetext" -> "true"))(spark)
    val raw = spark.baseRelationToDataFrame(text).select(
      col("value").as("body"),
      regexp_extract(input_file_name(), "fhir_tenant_id=([^/]+)", 1).as("fhir_tenant_id"),
      regexp_extract(input_file_name(), "_date=([^/]+)", 1).as("_date"))
    // PERMISSIVE + corrupt-record column: a structurally broken document
    // parses to a struct with only FhirSchemas.CorruptCol set (the raw
    // text) instead of failing the scan or silently nulling — include the
    // column in the schema (FhirSchemas.readSchema) to capture it
    bodySchema.fold(raw)(s => raw.withColumn("doc", from_json(col("body"), s,
      Map("columnNameOfCorruptRecord" -> FhirSchemas.CorruptCol))))
  }

  /** Answers the file index with the statuses the listing walk read. */
  private final class Listed(files: Seq[FileStatus]) extends FileStatusCache {
    private val byPath = files.map(st => st.getPath -> Array(st)).toMap
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path)
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** Spark's text format, handing its tasks the cheap copy of the scan's
    * conf ([[LakeStorage.shippable]]) instead of the session conf it would
    * otherwise broadcast in full with every scan. */
  private class ShippedConfText extends TextFileFormat {
    override def buildReader(spark: SparkSession, dataSchema: StructType,
        partitionSchema: StructType, requiredSchema: StructType, filters: Seq[Filter],
        options: Map[String, String], hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
      super.buildReader(spark, dataSchema, partitionSchema, requiredSchema, filters, options,
        LakeStorage.shippable(hadoopConf))
  }

  private def emptyResult(spark: SparkSession, bodySchema: Option[StructType]): DataFrame = {
    import org.apache.spark.sql.types._
    val base = StructType(Seq(
      StructField("body", StringType),
      StructField("fhir_tenant_id", StringType),
      StructField("_date", StringType)))
    val full = bodySchema.fold(base)(s => base.add(StructField("doc", s)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
  }
}
