package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{LocalScan, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.text.TextOptions
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.text.{TextPartitionReaderFactory, TextScan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

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
  *
  * The documents are a DSv2 relation over the walk's statuses. Each object
  * is one document, so the listing already knows how many rows a scan
  * would return: `readFhir(...).count()`, with no filter or grouping in
  * between, is answered from it in one one-row Spark job and opens no
  * document. Every other action (a filtered or grouped count, a count of a
  * column, any row-reading action) reads the documents.
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
    // The relation is built over the listed statuses directly: `spark.read`
    // would look the source up and check every path again, reading each as
    // a glob pattern, so an id holding `[` or `{` failed the scan; and the
    // index lists and stats no document again (above 32 paths, a Spark
    // job). One select names the columns, so the plan is analyzed once,
    // not once per added column.
    val documents = new Documents(spark, prefix, new ListedFileIndex(spark, files))
    val raw = DatasetBridge.ofRows(spark, DataSourceV2Relation.create(documents, None, None, WholeText))
      .select(
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

  private val ValueSchema = new StructType().add("value", StringType)
  private val WholeText = new CaseInsensitiveStringMap(Map("wholetext" -> "true").asJava)

  /** The listed documents as a DSv2 table of one `value` column. */
  private final class Documents(spark: SparkSession, prefix: String, index: ListedFileIndex)
      extends Table with SupportsRead {
    override def name(): String = s"fhir documents $prefix"
    override def schema(): StructType = ValueSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new DocumentScanBuilder(spark, index, options)
  }

  /** Answers an ungrouped COUNT(*) with nothing between it and the scan
    * from the listing: one document is one row, so the count is the number
    * of files the text scan would open, after Spark's hidden-name filter
    * and its skip of zero-length files. It is a complete pushdown: Spark
    * plans no aggregate above the one-row scan. Any other query reads the
    * documents. Filters are never taken, so a filtered count keeps its
    * filter and reads. */
  private final class DocumentScanBuilder(spark: SparkSession, index: ListedFileIndex,
      options: CaseInsensitiveStringMap)
      extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {
    private var required = ValueSchema
    private var counted = false

    private def countStar(agg: Aggregation): Boolean =
      agg.groupByExpressions.isEmpty && (agg.aggregateExpressions match {
        case Array(_: CountStar) => true
        case _                   => false
      })

    override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
    override def supportCompletePushDown(agg: Aggregation): Boolean = countStar(agg)
    override def pushAggregation(agg: Aggregation): Boolean = {
      counted = countStar(agg)
      counted
    }

    override def build(): Scan = {
      val text = new ShippedConfTextScan(spark, index, required, options)
      if (!counted) text
      else {
        // the files the text scan would open, by Spark's own planning: it
        // drops hidden names and skips zero-length files, and a wholetext
        // file is never split
        val n = text.planInputPartitions().iterator.map {
          case p: FilePartition => p.files.length.toLong
        }.sum
        new LocalScan {
          override def readSchema(): StructType =
            new StructType().add("count(*)", LongType, nullable = false)
          override def rows(): Array[InternalRow] = Array(InternalRow(n))
        }
      }
    }
  }

  /** Spark's text scan, handing its tasks the cheap copy of the scan's
    * conf ([[LakeStorage.shippable]]) instead of the session conf it would
    * otherwise broadcast in full with every scan. */
  private final class ShippedConfTextScan(spark: SparkSession, index: ListedFileIndex,
      required: StructType, options: CaseInsensitiveStringMap)
      extends TextScan(spark, index, ValueSchema, required, new StructType(), options) {
    override def createReaderFactory(): PartitionReaderFactory = {
      val conf = sparkSession.sessionState.newHadoopConfWithOptions(
        options.asCaseSensitiveMap.asScala.toMap)
      TextPartitionReaderFactory(sparkSession.sessionState.conf,
        sparkSession.sparkContext.broadcast(LakeStorage.taskConf(conf)),
        readDataSchema, readPartitionSchema, new TextOptions(options.asScala.toMap))
    }
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
