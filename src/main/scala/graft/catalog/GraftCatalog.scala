package graft.catalog

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.LakeStorage
import graft.sources.{KeyedLogSource, KeyedLogTable}

/** SQL catalog for the engine's own table formats — the front door that
  * makes [[graft.core.ManifestTable]] roots and keyed-log directories
  * NAMED tables a SQL user can reach without touching the Scala API
  * (the reference names its storage for users the same way,
  * ref OCIClient.kt:39-44 bucket config):
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.root = s3a://bucket/warehouse    (or file:/...)
  *
  *   CREATE NAMESPACE graft.db;
  *   CREATE TABLE graft.db.docs (id BIGINT, text STRING) USING manifest;
  *   INSERT INTO graft.db.docs SELECT ...;            -- append = new version
  *   INSERT OVERWRITE graft.db.docs SELECT ...;       -- snapshot replace
  *   SELECT * FROM graft.db.docs VERSION AS OF 1;     -- time travel
  *   CREATE TABLE graft.db.logs (key STRING, seq BIGINT, metric BIGINT)
  *     USING keyedlog;
  * }}}
  *
  * Layout: `root/<namespace>/<table>/` holds a `_graft_table.json`
  * descriptor (provider, declared schema, optional external location) next
  * to the table data. `LOCATION` registers an EXISTING manifest root or
  * keyed-log dir as a table without moving data. Namespaces are one level
  * (the warehouse-subdirectory model); `CREATE TABLE AS SELECT` works via
  * Spark's create-then-append path.
  *
  * Reads of manifest tables delegate to the built-in parquet DSv2 scan
  * over the snapshot's manifest file list — full predicate
  * pushdown/column pruning/vectorization for free; writes go through the
  * manifest's optimistic commit ([[graft.core.ManifestTable.append]]).
  * Keyed-log tables reuse [[graft.sources.KeyedLogTable]] wholesale —
  * same pushdown, same staged-commit write path as the
  * `spark.read.format(...)` route.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog with FunctionCatalog with ProcedureCatalog {

  import GraftCatalog._

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root"))
  }
  override def name(): String = catalogName

  /** Column DEFAULT values: declaring the capability arms Spark 4's
    * analyzer end to end — CREATE/ALTER store the default expression in
    * the column metadata (CURRENT_DEFAULT/EXISTS_DEFAULT keys, which
    * ride the descriptor's schema JSON round-trip like field ids), and
    * INSERTs that omit the column (or say DEFAULT) get it substituted
    * at analysis time. The connector never evaluates anything. */
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      // GENERATED ALWAYS AS IDENTITY: the spec rides the schema JSON as
      // catalyst's identity.* metadata keys; value allocation and the
      // explicit-insert contract live in the write path
      // (graft.catalog.IdentityColumns)
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      // GENERATED ALWAYS AS (expr): the expression SQL rides the schema
      // JSON as catalyst's GENERATION_EXPRESSION metadata key;
      // compute-or-validate lives in the write path
      // (graft.catalog.GeneratedColumns)
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)

  private def fs = LakeStorage.openFor(root)

  private def nsDir(namespace: Array[String]): String = {
    require(namespace.length <= 1,
      s"catalog $catalogName supports one namespace level, got ${namespace.mkString(".")}")
    (root +: namespace).mkString("/")
  }
  private def tableDir(ident: Identifier): String =
    s"${nsDir(ident.namespace())}/${ident.name()}"

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = new Path(nsDir(namespace))
    if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(p)
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, MetaFile)))
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    if (ident.namespace().length > 1)
      return metadataTableFor(ident).getOrElse(throw new NoSuchTableException(ident))
    tableFor(ident, asOf = None)
  }

  /** Iceberg-style metadata tables: `<ns>.<table>.history` / `.files` /
    * `.detail` resolve as an identifier whose NAMESPACE is (ns, table) —
    * serve the version/file listings and the DESCRIBE DETAIL summary of
    * the underlying table root. */
  private def metadataTableFor(ident: Identifier): Option[Table] = {
    val ns = ident.namespace()
    if (ns.length != 2) return None
    val dir = s"$root/${ns(0)}/${ns(1)}"
    readMeta(dir).flatMap { meta =>
      val dataDir = meta.location.getOrElse(dir)
      // a clone's history/files serve its OWN branch-log lineage (pools
      // still sized under the shared source data plane); refs/changes/
      // partitions stay source-side concepts and resolve as absent here
      val cloneLog = meta.cloneBranch
        .map(b => graft.core.ManifestTable.branchLogDir(dataDir, b))
      if (meta.cloneBranch.isDefined &&
          !Set("detail", "history", "files").contains(ident.name().toLowerCase))
        return None
      ident.name().toLowerCase match {
        case "detail" => Some(MetadataTables.detail(
          cloneLog.getOrElse(dataDir), meta.provider,
          meta.bucket.map(b => s"bucket(${b.n}, ${b.col})"),
          poolDir = cloneLog.map(_ => dataDir)))
        case "history" if meta.provider == "manifest" =>
          Some(MetadataTables.history(cloneLog.getOrElse(dataDir),
            poolDir = cloneLog.map(_ => dataDir)))
        case "history" if meta.provider == "keyedlog" =>
          Some(MetadataTables.keyedLogHistory(dataDir))
        case "files" if meta.provider == "manifest" =>
          Some(MetadataTables.files(cloneLog.getOrElse(dataDir),
            poolDir = cloneLog.map(_ => dataDir)))
        case "files" if meta.provider == "keyedlog" =>
          Some(MetadataTables.keyedLogFiles(dataDir))
        case "partitions" if meta.provider == "keyedlog" =>
          Some(MetadataTables.keyedLogPartitions(dataDir, meta.bucket.map(_.n)))
        case "changes" if meta.provider == "manifest" =>
          Some(new ManifestChangesTable(dataDir, meta.schema))
        case "refs" if meta.provider == "manifest" =>
          Some(MetadataTables.refs(dataDir))
        case "changes" if meta.provider == "keyedlog" =>
          Some(new KeyedLogChangesTable(dataDir, meta.schema))
        case "partitions" if meta.provider == "manifest" =>
          Some(MetadataTables.partitions(dataDir, meta.bucket.map(_.n),
            meta.cluster.map(k => (k.fn, k.col, k.width,
              meta.schema.find(_.name == k.col)
                .map(_.dataType.simpleString).getOrElse("")))))
        case _ => None
      }
    }
  }

  /** `VERSION AS OF` time travel (manifest tables only): a numeric
    * version, a SNAPSHOT TAG name (`VERSION AS OF 'v1-release'` — named
    * refs created by `CALL g.system.tag`, vacuum-retained), or a BRANCH
    * name (the write-audit-publish staging ref: serves the branch HEAD,
    * the audit query's view). Tag and branch names share one namespace
    * (collisions rejected at creation), and all-digit names are rejected
    * there too, so the numeric parse can safely go first. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    val meta = readMeta(dir).getOrElse(throw new NoSuchTableException(ident))
    if (meta.provider == "keyedlog") {
      // keyedlog time travel: numeric journal versions only (tags and
      // branches are manifest refs); the scan serves version-`v` files
      // from visible data or the row-level swaps' `.rm-` tombstones —
      // retention = the orphan sweep, compaction swaps fail loudly
      val v = scala.util.Try(version.toLong).toOption.getOrElse(
        throw new UnsupportedOperationException(
          s"${ident.name()}: keyedlog VERSION AS OF takes a numeric " +
            "journal version (tags/branches are manifest refs)"))
      return new graft.sources.KeyedLogTable(meta.location.getOrElse(dir),
        meta.bucket.map(_.n), asOf = Some(v))
    }
    if (meta.provider != "manifest") throw new UnsupportedOperationException(
      s"${ident.name()}: only manifest and keyedlog tables support VERSION AS OF")
    val dataDir = meta.location.getOrElse(dir)
    scala.util.Try(version.toLong).toOption match {
      case Some(v) =>
        // a clone time-travels within its OWN branch lineage (version
        // numbers are branch-log versions: v1 = the clone-time snapshot)
        new ManifestSparkTable(dataDir, meta.schema, Some(v), meta.bucket,
          mergeOnRead = meta.dmlMode.contains("merge-on-read"),
          cluster = meta.cluster, branch = meta.cloneBranch)
      case None if meta.cloneBranch.isDefined =>
        throw new UnsupportedOperationException(
          s"${ident.name()}: clones support only numeric VERSION AS OF " +
            "(their own branch-log versions) — tags and branches live on " +
            "the source table")
      case None if graft.core.ManifestTable.branchHead(dataDir, version).isDefined =>
        new ManifestSparkTable(dataDir, meta.schema, None, meta.bucket,
          mergeOnRead = meta.dmlMode.contains("merge-on-read"),
          cluster = meta.cluster, branch = Some(version),
          bloomCols = meta.bloomCols,
          checks = meta.checks.map(c => Constraints.Check(c._1, c._2)))
      case None =>
        val v = graft.core.ManifestTable.versionOfTag(dataDir, version)
        new ManifestSparkTable(dataDir, meta.schema, Some(v), meta.bucket,
          mergeOnRead = meta.dmlMode.contains("merge-on-read"),
          cluster = meta.cluster)
    }
  }

  /** `TIMESTAMP AS OF` time travel: resolves to the latest version whose
    * commit-marker mtime is at or before the timestamp (micros since
    * epoch, per the TableCatalog contract). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    val meta = readMeta(dir).getOrElse(throw new NoSuchTableException(ident))
    val dataDir = meta.location.getOrElse(dir)
    if (meta.provider == "keyedlog") {
      val conf = LakeStorage.taskConf()
      val v = graft.sources.KeyedLogVersionLog
        .versionAsOfTimestamp(dataDir, conf, timestampMicros / 1000L)
        .getOrElse(throw new IllegalStateException(
          s"${ident.name()}: no journal version committed at or before " +
            "the requested timestamp"))
      return new graft.sources.KeyedLogTable(dataDir, meta.bucket.map(_.n),
        asOf = Some(v), declared = meta.schema)
    }
    if (meta.provider != "manifest") throw new UnsupportedOperationException(
      s"${ident.name()}: only manifest tables support TIMESTAMP AS OF")
    // clones resolve the timestamp in their OWN branch log (commit clocks
    // of the clone's lineage, not the source's)
    val logDir = meta.cloneBranch
      .map(b => graft.core.ManifestTable.branchLogDir(dataDir, b))
      .getOrElse(dataDir)
    val v = graft.core.ManifestTable
      .versionAsOfTimestamp(logDir, timestampMicros / 1000L)
      .getOrElse(throw new IllegalStateException(
        s"${ident.name()}: no version committed at or before the requested timestamp"))
    new ManifestSparkTable(dataDir, meta.schema, Some(v), meta.bucket,
      branch = meta.cloneBranch)
  }

  private def tableFor(ident: Identifier, asOf: Option[Long]): Table = {
    val dir = tableDir(ident)
    val meta = readMeta(dir).getOrElse(throw new NoSuchTableException(ident))
    val dataDir = meta.location.getOrElse(dir)
    meta.provider match {
      case "keyedlog" =>
        new KeyedLogTable(dataDir, meta.bucket.map(_.n), declared = meta.schema)
      case "manifest" =>
        // a zero-copy CLONE's lineage lives in its pinned branch log —
        // always; the WAP session conf must NOT re-route a clone (the
        // pinned branch IS the table, and a same-named staging branch on
        // the shared source dir would otherwise hijack it)
        val wap = meta.cloneBranch.orElse(
          // write-audit-publish: when the session pins a WAP branch and
          // this table HAS that branch, reads and writes both target it
          // (the audit query sees exactly what the pipeline staged);
          // tables without the branch resolve to main, so one session
          // conf can drive a multi-table pipeline
          org.apache.spark.sql.SparkSession.active.conf
            .getOption(GraftCatalog.WapBranchConf)
            .filter(b => asOf.isEmpty &&
              graft.core.ManifestTable.branchHead(dataDir, b).isDefined))
        new ManifestSparkTable(dataDir, meta.schema, asOf, meta.bucket,
          mergeOnRead = meta.dmlMode.contains("merge-on-read"),
          cluster = meta.cluster, branch = wap, bloomCols = meta.bloomCols,
          ndvCols = meta.ndvCols,
          checks = meta.checks.map(c => Constraints.Check(c._1, c._2)))
      case other => throw new IllegalStateException(
        s"table ${ident.name()}: unknown provider '$other' in $dir/$MetaFile")
    }
  }

  /** The v2-Column overload is the ONLY path that sees identity specs —
    * the default interface method's `v2ColumnsToStructType` conversion
    * DROPS `identityColumnSpec()` (unlike defaults, which ride the
    * metadata), so re-attach each spec as catalyst's own `identity.*`
    * metadata keys before the schema-based path persists the descriptor.
    * Round-trip is then free: `structFieldToV2Column` reads exactly
    * these keys back into `Column.identityColumnSpec()`. */
  override def createTable(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val schema = org.apache.spark.sql.graftbridge.CatalogV2UtilBridge
      .v2ColumnsToStructType(columns)
    val withIdentity = StructType(schema.fields.zip(columns).map {
      case (f, c) =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        Option(c.identityColumnSpec()).foreach { spec =>
          mb.putLong(IdentityColumns.StartKey, spec.getStart)
          mb.putLong(IdentityColumns.StepKey, spec.getStep)
          mb.putBoolean(IdentityColumns.ExplicitKey, spec.isAllowExplicitInsert)
        }
        // GENERATED ALWAYS AS (expr) is Column-carried too — re-attach as
        // catalyst's own metadata key (same conversion gap as identity)
        Option(c.generationExpression()).foreach(
          mb.putString(GeneratedColumns.ExprKey, _))
        f.copy(metadata = mb.build())
    })
    createTable(ident, withIdentity, partitions, properties)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val ns = ident.namespace()
    if (ns.nonEmpty && !fs.exists(new Path(nsDir(ns))))
      throw new NoSuchNamespaceException(ns)
    val provider =
      Option(properties.get(TableCatalog.PROP_PROVIDER)).map(_.toLowerCase).getOrElse("manifest")
    require(provider == "manifest" || provider == "keyedlog",
      s"catalog $catalogName supports USING manifest | keyedlog, got '$provider'")
    val (bucket, cluster) = parsePartitioning(ident, provider, partitions, schema)
    if (provider == "keyedlog" && schema.nonEmpty)
      KeyedLogSource.validateDeclared(schema) // core prefix + String/Long extras
    if (provider == "manifest")
      require(schema.nonEmpty, "manifest tables need a declared schema (or use CTAS)")
    val location = Option(properties.get(TableCatalog.PROP_LOCATION))
    val dir = tableDir(ident)
    // manifest tables whose data this catalog owns from birth get COLUMN
    // MAPPING: stable parquet field ids 1..n in the descriptor; files
    // stamp them on write, reads resolve by id — renames become
    // metadata-only. LOCATION tables adopt PRE-EXISTING data whose files
    // carry no ids, so they stay name-resolved (and rename-rejecting) —
    // declaring ids over id-less files would fail every read. keyedlog's
    // fixed 3-column schema never alters; it stays unmapped too.
    val mapped = provider == "manifest" && location.isEmpty
    val declared =
      if (provider == "keyedlog")
        // extras carry their 0-based line position as klog.field metadata
        // (load-bearing: pruning hands readers arbitrary subsets and they
        // still parse the right raw field). The core prefix is stored
        // CANONICALLY (nullable, no user metadata): the format writes
        // null keys/seqs/metrics regardless, so a declared NOT NULL would
        // be a lie the optimizer could fold wrong answers from.
        if (schema.isEmpty) KeyedLogSource.schema
        else StructType(schema.fields.zipWithIndex.map { case (f, i) =>
          if (i < KeyedLogSource.schema.length) KeyedLogSource.schema.fields(i)
          else f.copy(nullable = true, metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putLong(KeyedLogSource.ExtraFieldKey,
                (i - KeyedLogSource.schema.length).toLong)
              .build())
        })
      else if (mapped) assignFieldIds(schema)
      else schema
    val maxId = if (mapped) Some(schema.length) else None
    val dml = parseDmlMode(ident, provider, bucket, properties)
    val blooms = parseBloomCols(ident, provider, schema, properties)
    val ndv = parseNdvCols(ident, provider, schema, properties)
    val checks = parseChecks(ident, provider, schema, properties)
    // generated columns: expressions validated AT DECLARATION (parse,
    // resolve, determinism, exact type) — manifest tables only
    if (GeneratedColumns.hasGenerated(schema)) {
      require(provider == "manifest",
        s"${ident.name()}: generated columns need USING manifest")
      GeneratedColumns.validate(org.apache.spark.sql.SparkSession.active,
        schema, ident.name())
    }
    if (!writeMeta(dir,
        TableMeta(provider, declared, location, bucket, maxId, dml, cluster,
          blooms, ndv, checks = checks)))
      throw new TableAlreadyExistsException((ident.namespace() :+ ident.name()).toSeq)
    tableFor(ident, asOf = None)
  }

  /** Declared NDV-sketch columns (see [[GraftCatalog.NdvColsProp]]):
    * validated against the schema and the HLL input domain. */
  private def parseNdvCols(ident: Identifier, provider: String,
                           schema: StructType,
                           properties: JMap[String, String]): Seq[String] =
    Option(properties.get(NdvColsProp)) match {
      case None => Nil
      case Some(spec) =>
        require(provider == "manifest",
          s"${ident.name()}: $NdvColsProp needs USING manifest")
        val cols = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        cols.foreach(GraftCatalog.validateNdvColumn(ident.name(), schema, _))
        cols
    }

  /** Declared bloom-index columns (see [[GraftCatalog.BloomColsProp]]):
    * validated against the schema; manifest tables only. */
  private def parseBloomCols(ident: Identifier, provider: String,
                             schema: StructType,
                             properties: JMap[String, String]): Seq[String] =
    Option(properties.get(BloomColsProp)) match {
      case None => Nil
      case Some(spec) =>
        require(provider == "manifest",
          s"${ident.name()}: $BloomColsProp needs USING manifest")
        val cols = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        cols.foreach(c => require(schema.fieldNames.contains(c),
          s"${ident.name()}: $BloomColsProp names unknown column '$c'"))
        cols
    }

  /** Declared CHECK constraints (`TBLPROPERTIES
    * ('graft.constraint.<name>'='<boolean sql>')` — see [[Constraints]]):
    * parsed, resolved against the schema and type-checked AT DECLARATION.
    * Manifest tables only. The table is empty at CREATE/CTAS-staging time,
    * so no data validation runs here (ALTER-time adds validate existing
    * rows — Delta's contract). */
  private def parseChecks(ident: Identifier, provider: String,
                          schema: StructType,
                          properties: JMap[String, String]): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val checks = Constraints.fromProperties(properties.asScala)
    if (checks.isEmpty) return Nil
    require(provider == "manifest",
      s"${ident.name()}: CHECK constraints (${Constraints.Prefix}*) need USING manifest")
    val spark = org.apache.spark.sql.SparkSession.active
    checks.foreach { c =>
      require(c.name != Constraints.ReplaceWhereName,
        s"${ident.name()}: CHECK constraint name '${c.name}' is reserved " +
          "for REPLACE WHERE's synthesized region check")
      require(!c.name.startsWith(GeneratedColumns.CheckPrefix),
        s"${ident.name()}: CHECK constraint names starting with " +
          s"'${GeneratedColumns.CheckPrefix}' are reserved for the " +
          "generated-column invariants")
      Constraints.bind(spark, schema, c)
    }
    checks.map(c => (c.name, c.sql))
  }

  /** `TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')`: row-level DML
    * writes DELETION VECTORS instead of rewriting files (copy-on-write
    * stays the default). Manifest tables only; bucketed tables keep
    * copy-on-write (their DML rewrites re-bucket — vectors would demote
    * storage-partitioned scans indefinitely). */
  private def parseDmlMode(ident: Identifier, provider: String,
                           bucket: Option[Bucketing],
                           properties: JMap[String, String]): Option[String] =
    Option(properties.get(DmlModeProp)).map(_.toLowerCase) match {
      case None | Some("copy-on-write") => None
      case Some("merge-on-read") =>
        require(provider == "manifest",
          s"${ident.name()}: $DmlModeProp=merge-on-read needs USING manifest")
        require(bucket.isEmpty,
          s"${ident.name()}: merge-on-read does not combine with " +
            "PARTITIONED BY (bucket(...)) — bucketed DML re-buckets via copy-on-write")
        Some("merge-on-read")
      case Some(other) => throw new IllegalArgumentException(
        s"${ident.name()}: $DmlModeProp must be copy-on-write | merge-on-read, got '$other'")
    }

  /** `PARTITIONED BY (bucket(n, col))`: hash-bucket clustering, the unit
    * of storage-partitioned scans. On keyedlog tables the only bucketable
    * column is `key` (the clustering column the writer tags files with) —
    * a bucket-declared keyedlog table groups its per-key files into the
    * SAME murmur3 bucket space manifest tables use, so the two formats
    * co-partition.
    *
    * `PARTITIONED BY (identity / years / months / days / hours /
    * truncate)` transforms (manifest tables only) declare MONOTONIC
    * partition dimensions: writes range-cluster + sort by the source
    * columns, so every data file covers a narrow, disjoint slice along
    * them and the log's stats prune whole partitions at plan time — the
    * Iceberg partition-transform surface expressed through clustering +
    * data skipping instead of a second partition-tuple metadata channel
    * (one layout mechanism, not two, and queries on the RAW column prune
    * without needing transform-predicate rewriting). Hash bucketing and
    * transform clustering are mutually exclusive. */
  private def parseBucketing(ident: Identifier, provider: String,
                             partitions: Array[Transform],
                             schema: StructType): Option[Bucketing] =
    parsePartitioning(ident, provider, partitions, schema)._1

  private def parsePartitioning(ident: Identifier, provider: String,
                                partitions: Array[Transform],
                                schema: StructType): (Option[Bucketing], Seq[ClusterKey]) = {
    def singleCol(t: Transform): String = {
      val refs = t.references
      require(refs.length == 1 && refs(0).fieldNames.length == 1,
        s"${ident.name()}: ${t.name}() wants exactly one top-level column")
      refs(0).fieldNames.head
    }
    def intArg(t: Transform, what: String): Int =
      t.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value.isInstanceOf[Int] => l.value.asInstanceOf[Int]
      }.getOrElse(throw new IllegalArgumentException(
        s"${ident.name()}: ${t.name}() wants an integer $what"))
    def fieldType(colName: String): String =
      schema.find(_.name == colName).getOrElse(
        throw new IllegalArgumentException(
          s"${ident.name()}: partition column $colName is not in the schema"))
        .dataType.simpleString
    partitions.toSeq match {
      case Seq() => (None, Nil)
      case Seq(t) if t.name == "bucket" =>
        val colName = singleCol(t)
        val n = intArg(t, "bucket count")
        require(n > 0, s"${ident.name()}: bucket count must be positive")
        if (provider == "keyedlog") {
          require(colName == "key",
            s"${ident.name()}: keyedlog tables bucket on their clustering " +
              s"column `key`, got $colName")
        } else {
          require(Seq("string", "bigint", "int").contains(fieldType(colName)),
            s"${ident.name()}: bucket column must be string/bigint/int, " +
              s"got ${fieldType(colName)}")
        }
        (Some(Bucketing(n, colName)), Nil)
      case transforms if provider == "manifest" &&
          transforms.forall(t => ClusterTransforms.contains(t.name)) =>
        val keys = transforms.map { t =>
          val w = if (t.name == "truncate") Some(intArg(t, "width")) else None
          clusterKeyOf(ident.name(), t.name, singleCol(t), w, schema)
        }
        require(keys.map(_.col).distinct.length == keys.length,
          s"${ident.name()}: duplicate partition column")
        (None, keys)
      case other => throw new UnsupportedOperationException(
        s"catalog $catalogName supports PARTITIONED BY (bucket(n, col)) or a " +
          "list of identity/years/months/days/hours/truncate transforms " +
          s"(manifest tables); got ${other.mkString(", ")}")
    }
  }

  private val ClusterTransforms =
    Set("identity", "years", "months", "days", "hours", "truncate")

  /** One validated partition-transform key — the type rules shared by
    * CREATE TABLE's `PARTITIONED BY` and [[setPartitioning]] (spec
    * evolution). */
  private def clusterKeyOf(identName: String, fn: String, colName: String,
                           width: Option[Int],
                           schema: StructType): ClusterKey = {
    val ft = schema.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(
        s"$identName: partition column $colName is not in the schema"))
      .dataType.simpleString
    fn match {
      case "identity" =>
        require(Seq("string", "bigint", "int", "date", "timestamp",
            "timestamp_ntz").contains(ft),
          s"$identName: identity partition column must be " +
            s"string/int/bigint/date/timestamp, got $ft")
        ClusterKey("identity", colName)
      case "truncate" =>
        val w = width.getOrElse(throw new IllegalArgumentException(
          s"$identName: truncate() wants an integer width"))
        require(w > 0, s"$identName: truncate width must be positive")
        require(ft == "string",
          s"$identName: truncate() partitions string columns, got $ft")
        ClusterKey("truncate", colName, Some(w))
      case temporal =>
        require(ClusterTransforms.contains(temporal),
          s"$identName: unknown partition transform $temporal()")
        require(Seq("date", "timestamp", "timestamp_ntz").contains(ft) &&
            !(temporal == "hours" && ft == "date"),
          s"$identName: $temporal() wants a date/timestamp column, got $ft")
        ClusterKey(temporal, colName)
    }
  }

  /** PARTITION-SPEC EVOLUTION: replace the declared partition transforms
    * of a live manifest table — metadata-only, like Iceberg's spec
    * evolution. Already-written files keep their old clustering and stay
    * readable untouched; data skipping keeps pruning them because it runs
    * on SOURCE-column file stats, which are transform-agnostic (a
    * days(ts)-clustered file prunes under an hours(ts) spec through the
    * same ts min/max bounds — just at day granularity until compacted).
    * New writes range-cluster by the new spec, and `t.partitions` labels
    * the whole layout under the new transforms, so evolved-away files
    * show value spans — the operator's signal to `compact` them into the
    * new layout. `spec` uses the `PARTITIONED BY` syntax: bare column =
    * identity, `years/months/days/hours(col)`, `truncate(w, col)`; an
    * empty spec clears the transforms. Bucketed tables are rejected
    * (bucket count/column is load-bearing for SPJ; evolve via CTAS). */
  private[catalog] def setPartitioning(ident: Identifier, spec: String): Seq[ClusterKey] = {
    val dir = tableDir(ident)
    val meta = readMeta(dir).getOrElse(throw new NoSuchTableException(ident))
    require(meta.provider == "manifest",
      s"${ident.name()}: only manifest tables support partition-spec evolution")
    require(meta.bucket.isEmpty,
      s"${ident.name()}: the table is PARTITIONED BY (bucket(...)) — bucket " +
        "specs are load-bearing for storage-partitioned joins and cannot be " +
        "evolved in place; CTAS into the new layout instead")
    val entry = """(?:([A-Za-z_]+)\s*\(\s*([^)]*)\s*\)|([A-Za-z_][A-Za-z0-9_]*))""".r
    // split on TOP-LEVEL commas only — truncate(8, name) carries one
    // inside its parens
    val parts = scala.collection.mutable.ListBuffer.empty[String]
    var depth = 0
    val cur = new StringBuilder
    spec.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => parts += cur.toString; cur.clear()
      case c => cur += c
    }
    parts += cur.toString
    val keys = parts.toSeq.map(_.trim).filter(_.nonEmpty).map {
      case entry(fn, args, null) =>
        val parts = args.split(",").map(_.trim).filter(_.nonEmpty)
        (fn, parts) match {
          case ("truncate", Array(w, c)) =>
            clusterKeyOf(ident.name(), "truncate", c, Some(w.toInt), meta.schema)
          case (f, Array(c)) if ClusterTransforms.contains(f) =>
            clusterKeyOf(ident.name(), f, c, None, meta.schema)
          case _ => throw new IllegalArgumentException(
            s"${ident.name()}: bad partition transform '$fn($args)' — " +
              "expected identity/years/months/days/hours(col) or truncate(w, col)")
        }
      case entry(null, _, bare) =>
        clusterKeyOf(ident.name(), "identity", bare, None, meta.schema)
      case other => throw new IllegalArgumentException(
        s"${ident.name()}: unparseable partition transform '$other'")
    }
    require(keys.map(_.col).distinct.length == keys.length,
      s"${ident.name()}: duplicate partition column")
    replaceMeta(dir, meta.copy(cluster = keys))
    keys
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ----
  //
  // Spark writes the query result INTO the staged table first and only
  // then asks for the commit; the descriptor (what makes a table visible
  // to loadTable) is written in commitStagedChanges, so a failed CTAS
  // never leaves a half-created table — readers see the old state (or no
  // table) until the atomic descriptor/manifest commit.

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): StagedTable = {
    if (tableExists(ident))
      throw new TableAlreadyExistsException((ident.namespace() :+ ident.name()).toSeq)
    stagedTable(ident, schema, partitions, properties, replace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: JMap[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stagedTable(ident, schema, partitions, properties, replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: JMap[String, String]): StagedTable =
    stagedTable(ident, schema, partitions, properties, replace = true)

  private def stagedTable(ident: Identifier, schema: StructType,
                          partitions: Array[Transform],
                          properties: JMap[String, String],
                          replace: Boolean): StagedTable = {
    val ns = ident.namespace()
    if (ns.nonEmpty && !fs.exists(new Path(nsDir(ns))))
      throw new NoSuchNamespaceException(ns)
    val provider =
      Option(properties.get(TableCatalog.PROP_PROVIDER)).map(_.toLowerCase).getOrElse("manifest")
    require(provider == "manifest",
      s"staged (atomic) CTAS supports USING manifest; got '$provider'")
    val (bucket, cluster) = parsePartitioning(ident, provider, partitions, schema)
    val location = Option(properties.get(TableCatalog.PROP_LOCATION))
    val dir = tableDir(ident)
    // same mapping rule as createTable; a CTAS into an external LOCATION
    // shares the dir with whatever id-less files already live there
    val mapped = location.isEmpty
    new GraftStagedTable(this, ident, dir,
      TableMeta(provider,
        if (mapped) assignFieldIds(schema) else schema, location, bucket,
        maxFieldId = if (mapped) Some(schema.length) else None,
        dmlMode = parseDmlMode(ident, provider, bucket, properties),
        cluster = cluster,
        bloomCols = parseBloomCols(ident, provider, schema, properties),
        checks = parseChecks(ident, provider, schema, properties)), replace)
  }

  private[catalog] def commitStaged(ident: Identifier, dir: String,
                                    meta: TableMeta, files: Seq[String],
                                    replace: Boolean): Unit = {
    val dataDir = meta.location.getOrElse(dir)
    if (!writeMeta(dir, meta)) {
      if (!replace)
        throw new TableAlreadyExistsException((ident.namespace() :+ ident.name()).toSeq)
      // replace: refresh the descriptor (schema may differ), keep history
      fs.delete(new Path(dir, MetaFile), false)
      if (!writeMeta(dir, meta))
        throw new IllegalStateException(s"could not replace descriptor under $dir")
    }
    graft.core.ManifestTable.commitStagedSnapshot(dataDir, files)
    ()
  }

  private[catalog] def abortStaged(dir: String, meta: TableMeta,
                                   files: Seq[String]): Unit = {
    val dataDir = meta.location.getOrElse(dir)
    // drop the staged pools; the table dir itself only goes if we never
    // published a descriptor (a replace keeps the existing table intact)
    files.map(_.split("/", 2).head).distinct.foreach { pool =>
      fs.delete(new Path(dataDir, pool), true); ()
    }
    if (!fs.exists(new Path(dir, MetaFile))) { fs.delete(new Path(dir), true); () }
  }

  /** Schema evolution on manifest tables: ADD COLUMNS (nullable, appended
    * — existing files simply null-fill the new column on read, the
    * parquet missing-column contract; mapped tables assign it the next
    * never-used field id), DROP COLUMN (reads prune it from files that
    * still carry it; the descriptor is table-wide, so a drop hides the
    * column for all versions), and — on MAPPED tables (column mapping via
    * parquet field ids, on for every table this catalog creates) —
    * RENAME COLUMN as a METADATA-ONLY change: the descriptor's logical
    * name moves while the field id stays, and every data file ever
    * written resolves by id, history included. Tables predating mapping
    * (descriptors without ids) keep the rename rejection: their files
    * resolve by name, so a rename would silently null out history. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    val meta = readMeta(dir).getOrElse(throw new NoSuchTableException(ident))
    if (meta.provider == "keyedlog") return alterKeyedLog(ident, dir, meta, changes)
    require(meta.provider == "manifest",
      s"${ident.name()}: only manifest tables support ALTER TABLE")
    var schema = meta.schema
    var maxId = meta.maxFieldId
    var bucket = meta.bucket
    var cluster = meta.cluster
    var blooms = meta.bloomCols
    var ndv = meta.ndvCols
    var checks = meta.checks
    /** Checks whose SQL references `col` (DROP/RENAME guards). */
    def checksOn(col: String): Seq[String] = {
      val spark = org.apache.spark.sql.SparkSession.active
      checks.collect { case (n, sql) if Constraints
        .referencedColumns(spark, sql)
        .contains(col.toLowerCase(java.util.Locale.ROOT)) => n }
    }
    /** Generated columns whose expression references `col` (same guards:
      * expression SQL is stored verbatim, a drop/rename would unbind it). */
    def generatedOn(col: String): Seq[String] = {
      val spark = org.apache.spark.sql.SparkSession.active
      GeneratedColumns.specs(schema).collect {
        case sp if Constraints.referencedColumns(spark, sp.sql)
          .contains(col.toLowerCase(java.util.Locale.ROOT)) => sp.col
      }
    }
    changes.foreach {
      case set: TableChange.SetProperty
          if set.property.startsWith(GeneratedColumns.PropPrefix) =>
        // ADOPT a generation expression onto an EXISTING column (the
        // ALTER half of the generated-column surface; Delta has no
        // equivalent — its generated columns are CREATE-time-only). The
        // column's materialized values must already satisfy the
        // expression — validated with one limit-1 scan, the ADD
        // CONSTRAINT contract — so adoption is metadata-only and every
        // future write inherits the compute-or-validate contract.
        val colName = set.property.stripPrefix(GeneratedColumns.PropPrefix)
        val sql = set.value.trim
        require(sql.nonEmpty,
          s"${ident.name()}: empty generation expression for column $colName")
        val field = schema.find(_.name.equalsIgnoreCase(colName)).getOrElse(
          throw new IllegalArgumentException(
            s"${ident.name()}: no such column $colName to attach a " +
              "generation expression to"))
        require(!IdentityColumns.specs(schema).exists(
            _.col.equalsIgnoreCase(field.name)),
          s"${ident.name()}: $colName is an identity column — identity and " +
            "expression generation are mutually exclusive")
        val cand = StructType(schema.map { f =>
          if (!f.name.equalsIgnoreCase(colName)) f
          else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(GeneratedColumns.ExprKey, sql).build())
        })
        val spark = org.apache.spark.sql.SparkSession.active
        // same DDL-time rules as CREATE: parse/resolve/deterministic/
        // exact-type, no self/generated/identity refs — and it also
        // catches an EXISTING generated column referencing the newly
        // generated one (evaluation order would become ambiguous)
        GeneratedColumns.validate(spark, cand, ident.name())
        val chk = GeneratedColumns
          .invariant(GeneratedColumns.Spec(field.name, sql))
        // existing rows must already equal the expression (one
        // distributed scan, stops at the first violation) — same KNOWN
        // non-transactional ALTER window as ADD CONSTRAINT: quiesce
        // writers around DDL
        val full = (catalogName +: ident.namespace() :+ ident.name())
          .map(p => s"`$p`").mkString(".")
        val bad = spark.table(full)
          .where(Constraints.violated(chk)).limit(1).collect()
        require(bad.isEmpty,
          s"cannot make ${ident.name()}.$colName GENERATED ALWAYS AS " +
            s"(${sql}): existing rows diverge from the expression, e.g. " +
            s"${bad.headOption.getOrElse("")} — backfill first " +
            s"(UPDATE ... SET $colName = ${sql}) or use " +
            "g.system.add_generated_column to add-and-materialize in one call")
        schema = cand
      case rm: TableChange.RemoveProperty
          if rm.property.startsWith(GeneratedColumns.PropPrefix) =>
        // DROP the generation expression: the column becomes plain. Its
        // values are already materialized in every file, so this is
        // metadata-only — reads are untouched, future writes just stop
        // computing/validating it.
        val colName = rm.property.stripPrefix(GeneratedColumns.PropPrefix)
        require(GeneratedColumns.specs(schema).exists(
            _.col.equalsIgnoreCase(colName)),
          s"${ident.name()}: $colName is not a generated column")
        schema = StructType(schema.map { f =>
          if (!f.name.equalsIgnoreCase(colName)) f
          else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .remove(GeneratedColumns.ExprKey).build())
        })
      case set: TableChange.SetProperty
          if set.property.startsWith(Constraints.Prefix) =>
        val check = Constraints.Check(
          set.property.stripPrefix(Constraints.Prefix), set.value)
        require(check.name != Constraints.ReplaceWhereName,
          s"${ident.name()}: CHECK constraint name '${check.name}' is " +
            "reserved for REPLACE WHERE's synthesized region check")
        require(!check.name.startsWith(GeneratedColumns.CheckPrefix),
          s"${ident.name()}: CHECK constraint names starting with " +
            s"'${GeneratedColumns.CheckPrefix}' are reserved for the " +
            "generated-column invariants")
        val spark = org.apache.spark.sql.SparkSession.active
        Constraints.bind(spark, schema, check) // loud: parse/resolve/type
        // Delta's ADD CONSTRAINT contract: existing rows must already
        // satisfy the invariant — one distributed scan, stops at the
        // first violation. (Runs against the session's resolved view, so
        // a WAP-pinned session validates the branch it is staging.)
        // KNOWN WINDOW: a writer that loaded the table BEFORE this ALTER
        // captured the pre-ALTER check list and can land violating rows
        // after the constraint publishes — the descriptor is not CAS'd
        // against data commits (same non-transactional ALTER window
        // replaceMeta documents). Quiesce writers around ADD CONSTRAINT,
        // as around any ALTER here.
        val full = (catalogName +: ident.namespace() :+ ident.name())
          .map(p => s"`$p`").mkString(".")
        val bad = org.apache.spark.sql.SparkSession.active.table(full)
          .where(Constraints.violated(check)).limit(1).collect()
        require(bad.isEmpty,
          s"cannot add CHECK constraint ${check.name} (${check.sql}) to " +
            s"${ident.name()}: existing rows violate it, e.g. ${bad.headOption.getOrElse("")}")
        checks = (checks.filterNot(_._1 == check.name) :+
          (check.name -> check.sql)).sortBy(_._1)
      case rm: TableChange.RemoveProperty
          if rm.property.startsWith(Constraints.Prefix) =>
        val name = rm.property.stripPrefix(Constraints.Prefix)
        require(checks.exists(_._1 == name),
          s"${ident.name()}: no CHECK constraint named '$name' to drop")
        checks = checks.filterNot(_._1 == name)
      case set: TableChange.SetProperty if set.property == NdvColsProp =>
        // declare NDV/histogram columns on a LIVE table: future writes
        // sketch them; `CALL g.system.collect_stats` backfills history
        val cols = set.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        cols.foreach(GraftCatalog.validateNdvColumn(ident.name(), schema, _))
        ndv = cols
      case rm: TableChange.RemoveProperty if rm.property == NdvColsProp =>
        ndv = Nil
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"${ident.name()}: nested column adds are not supported")
        require(add.isNullable,
          s"${ident.name()}: added columns must be nullable — existing data files do not have them")
        // Delta's rule, for Delta's reason: a default on a NEW column
        // would need every EXISTING row to read it (an existence default
        // served from metadata or a rewrite) — add the column first, then
        // ALTER COLUMN ... SET DEFAULT for future inserts
        require(add.defaultValue() == null,
          s"${ident.name()}: cannot add column ${add.fieldNames.head} WITH a " +
            "DEFAULT — existing rows would not carry it; add the column, " +
            "then ALTER TABLE ... ALTER COLUMN ... SET DEFAULT (applies to " +
            "future inserts)")
        require(!schema.fieldNames.contains(add.fieldNames.head),
          s"${ident.name()}: column ${add.fieldNames.head} already exists")
        val metadata = maxId match {
          case Some(m) => // next NEVER-USED id — reusing a dropped one
            // would resurrect the dropped column's bytes under this name
            maxId = Some(m + 1)
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong(FieldIdKey, m + 1L).build()
          case None => org.apache.spark.sql.types.Metadata.empty
        }
        schema = schema.add(StructField(add.fieldNames.head, add.dataType,
          nullable = true, metadata))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"${ident.name()}: nested column drops are not supported")
        val name = del.fieldNames.head
        require(schema.fieldNames.contains(name),
          s"${ident.name()}: no such column $name")
        require(schema.length > 1,
          s"${ident.name()}: cannot drop the last column")
        // the declared bucket column backs every INSERT/DML re-cluster
        // (stagePoolBucketed repartitions on it) — dropping it would leave
        // the table unwritable at runtime
        require(!bucket.map(_.col).contains(name),
          s"${ident.name()}: cannot drop bucket column $name — the table is PARTITIONED BY (bucket(n, $name))")
        require(!cluster.exists(_.col == name),
          s"${ident.name()}: cannot drop partition column $name — the table is " +
            s"PARTITIONED BY (${cluster.map(_.render).mkString(", ")})")
        require(checksOn(name).isEmpty,
          s"${ident.name()}: cannot drop column $name — CHECK constraint(s) " +
            s"${checksOn(name).mkString(", ")} reference it; drop them first " +
            s"(ALTER TABLE ... UNSET TBLPROPERTIES ('${Constraints.Prefix}<name>'))")
        require(generatedOn(name).isEmpty,
          s"${ident.name()}: cannot drop column $name — generated column(s) " +
            s"${generatedOn(name).mkString(", ")} compute from it; drop the " +
            "generated column(s) first")
        schema = StructType(schema.filterNot(_.name == name))
        blooms = blooms.filterNot(_ == name) // advisory index: drop follows
        ndv = ndv.filterNot(_ == name)       // NDV declaration too
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          s"${ident.name()}: nested column renames are not supported")
        val from = ren.fieldNames.head
        require(schema.fieldNames.contains(from),
          s"${ident.name()}: no such column $from")
        require(!schema.fieldNames.contains(ren.newName),
          s"${ident.name()}: column ${ren.newName} already exists")
        // constraint SQL is stored verbatim; a rename would silently
        // unbind it (or bind it to a different column added later)
        require(checksOn(from).isEmpty,
          s"${ident.name()}: cannot rename column $from — CHECK constraint(s) " +
            s"${checksOn(from).mkString(", ")} reference it; drop them, rename, " +
            "and re-add against the new name")
        require(generatedOn(from).isEmpty,
          s"${ident.name()}: cannot rename column $from — generated column(s) " +
            s"${generatedOn(from).mkString(", ")} compute from it (the " +
            "expression SQL is stored verbatim and would silently unbind)")
        require(isMapped(schema) &&
            schema.find(_.name == from).exists(_.metadata.contains(FieldIdKey)),
          s"${ident.name()}: RENAME COLUMN needs column mapping (parquet field " +
            "ids), which this table predates — its files resolve columns by " +
            "name, so a rename would silently null out history. Recreate the " +
            "table (CTAS) to get a mapped one")
        schema = StructType(schema.map(f =>
          if (f.name == from) f.copy(name = ren.newName) else f))
        // a renamed bucket/partition column keeps clustering: transforms follow
        bucket = bucket.map(b => if (b.col == from) b.copy(col = ren.newName) else b)
        cluster = cluster.map(k => if (k.col == from) k.copy(col = ren.newName) else k)
        // bloom declarations follow too: NEW writes index the new name
        // (old files' blooms are keyed by the old physical name and stop
        // matching pushed predicates — advisory only, reads stay correct)
        blooms = blooms.map(c => if (c == from) ren.newName else c)
        // NDV declarations follow the rename as well. Old files' sketches
        // stay keyed by the OLD physical name, so the all-planned-files
        // serving rule silently pauses NDV for the column until its files
        // are rewritten under the new name — degraded, never wrong
        ndv = ndv.map(c => if (c == from) ren.newName else c)
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames.length == 1,
          s"${ident.name()}: nested column type changes are not supported")
        val name = upd.fieldNames.head
        val field = schema.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"${ident.name()}: no such column $name"))
        // WIDENING ONLY: history is never rewritten, so every already-
        // written file must read exactly under the new type. Spark 4's
        // parquet readers (vectorized + row-based) promote the physical
        // type on read (SPARK-40876): INT32-family → wider integers,
        // FLOAT → DOUBLE. Anything else (narrowing, string↔numeric,
        // decimal reshapes) would corrupt or reject old files — refuse.
        require(GraftCatalog.canWiden(field.dataType, upd.newDataType),
          s"${ident.name()}: cannot ALTER COLUMN $name TYPE " +
            s"${upd.newDataType.simpleString} — only lossless widenings of " +
            s"${field.dataType.simpleString} are supported on mapped history " +
            "(tinyint→smallint→int→bigint, float→double); a narrowing or " +
            "reshape would need a full table rewrite (CTAS)")
        schema = StructType(schema.map(f =>
          if (f.name == name) f.copy(dataType = upd.newDataType) else f))
      case upd: TableChange.UpdateColumnDefaultValue =>
        // ALTER COLUMN ... SET DEFAULT / DROP DEFAULT — metadata-only:
        // the default substitutes into FUTURE inserts at analysis time
        // (CURRENT_DEFAULT key; Spark's analyzer does the substitution,
        // the connector never evaluates anything). Existing rows are
        // untouched by contract.
        require(upd.fieldNames.length == 1,
          s"${ident.name()}: nested column defaults are not supported")
        val name = upd.fieldNames.head
        require(schema.fieldNames.contains(name),
          s"${ident.name()}: no such column $name")
        val sql = Option(upd.newDefaultValue()).getOrElse("").trim
        val key = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          .CURRENT_DEFAULT_COLUMN_METADATA_KEY
        schema = StructType(schema.map { f =>
          if (f.name != name) f
          else {
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            if (sql.isEmpty) mb.remove(key) else mb.putString(key, sql)
            f.copy(metadata = mb.build())
          }
        })
      case other => throw new UnsupportedOperationException(
        s"catalog $catalogName supports ALTER TABLE ADD COLUMNS / DROP COLUMN " +
          "/ RENAME COLUMN / ALTER COLUMN TYPE (widening) / ALTER COLUMN " +
          "SET|DROP DEFAULT / SET|UNSET " +
          s"TBLPROPERTIES ('${Constraints.Prefix}<name>' | " +
          s"'${GeneratedColumns.PropPrefix}<col>'); got $other")
    }
    replaceMeta(dir, meta.copy(schema = schema, bucket = bucket,
      maxFieldId = maxId, cluster = cluster, bloomCols = blooms,
      ndvCols = ndv, checks = checks))
    tableFor(ident, asOf = None)
  }

  /** Keyedlog DDL evolution — the document store's schema-drift story:
    * `ALTER TABLE ... ADD COLUMNS` ONLY, appending nullable STRING/BIGINT
    * columns to the fixed core. Extras ride the line format positionally
    * (fields 4..n in declared order, pinned by `klog.field` metadata), so
    * old files read NULL for them (the manifest null-fill rule, expressed
    * by the TSV format itself) and new writes carry them. Everything
    * positional stays immutable: no drops, renames, type changes, or
    * defaults (a default would need every existing row to read it —
    * the same rule manifest's ADD COLUMN enforces). */
  private def alterKeyedLog(ident: Identifier, dir: String, meta: TableMeta,
                            changes: Seq[TableChange]): Table = {
    var schema = meta.schema
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"${ident.name()}: nested column adds are not supported")
        val name = add.fieldNames.head
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"${ident.name()}: column $name already exists")
        require(add.isNullable,
          s"${ident.name()}: keyedlog added columns must be nullable — " +
            "existing log lines do not have them")
        require(add.defaultValue() == null,
          s"${ident.name()}: cannot add column $name WITH a DEFAULT — " +
            "existing rows would not carry it (the manifest rule)")
        require(graft.sources.KeyedLogSource.extraTypeOk(add.dataType),
          s"${ident.name()}: keyedlog extra columns must be STRING or " +
            s"BIGINT, got ${add.dataType.simpleString}")
        require(!name.startsWith("_"),
          s"${ident.name()}: keyedlog column names starting with '_' are " +
            "reserved for metadata columns (_klfile, _change_type)")
        val extraIdx = schema.length - graft.sources.KeyedLogSource.schema.length
        schema = schema.add(StructField(name, add.dataType, nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(graft.sources.KeyedLogSource.ExtraFieldKey, extraIdx.toLong)
            .build()))
      case other => throw new UnsupportedOperationException(
        s"${ident.name()}: keyedlog tables support ALTER TABLE ADD COLUMNS " +
          s"only (line fields are positional — drops/renames/type changes " +
          s"would re-map history); got $other")
    }
    replaceMeta(dir, meta.copy(schema = schema))
    tableFor(ident, asOf = None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = new Path(tableDir(ident))
    if (!fs.exists(new Path(dir, MetaFile))) false
    else {
      readMeta(tableDir(ident)).foreach { meta =>
        val dataDir = meta.location.getOrElse(tableDir(ident))
        meta.cloneBranch match {
          case Some(b) =>
            // dropping a clone releases its pin on the source: the branch
            // log (the clone's whole private lineage) goes, its private
            // pools become vacuum-collectable on the source. A pin-drop
            // FAILURE aborts the whole drop (descriptor kept, DROP TABLE
            // retriable) — swallowing it would orphan an undroppable pin
            // that blocks the source's DROP/RENAME forever; an
            // already-gone pin (false) is a released one, fine
            graft.core.ManifestTable.dropBranch(dataDir, b)
          case None if meta.provider == "manifest" =>
            // dropping a SOURCE whose data plane still backs live clones
            // would corrupt every one of them — refuse until they're gone
            val pins = graft.core.ManifestTable.branches(dataDir).keys
              .filter(_.startsWith(graft.core.ManifestTable.CloneBranchPrefix))
              .toSeq.sorted
            require(pins.isEmpty,
              s"cannot drop ${ident.name()}: zero-copy clones still pin its " +
                s"data (${pins.mkString(", ")}) — DROP the clone tables first")
          case None =>
        }
      }
      fs.delete(dir, true)
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = new Path(tableDir(oldIdent))
    if (!fs.exists(new Path(from, MetaFile))) throw new NoSuchTableException(oldIdent)
    readMeta(tableDir(oldIdent)).foreach { meta =>
      // a catalog-born source's data plane IS its table dir: renaming it
      // moves the pools out from under every clone's recorded location
      if (meta.provider == "manifest" && meta.location.isEmpty) {
        val pins = graft.core.ManifestTable.branches(tableDir(oldIdent)).keys
          .filter(_.startsWith(graft.core.ManifestTable.CloneBranchPrefix))
          .toSeq.sorted
        require(pins.isEmpty,
          s"cannot rename ${oldIdent.name()}: zero-copy clones pin its data " +
            s"plane in place (${pins.mkString(", ")}) — DROP them first")
      }
    }
    val to = new Path(tableDir(newIdent))
    if (fs.exists(to))
      throw new TableAlreadyExistsException((newIdent.namespace() :+ newIdent.name()).toSeq)
    if (!fs.rename(from, to))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }

  // ---- functions ----
  //
  // One function: bucket(n, col) — what Catalyst resolves the
  // `PARTITIONED BY (bucket(n, col))` transform against when translating
  // a bucketed scan's reported KeyGroupedPartitioning (and what it uses
  // to hash the OTHER side when only one join side is bucketed,
  // spark.sql.sources.v2.bucketing.shuffle.enabled).

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || fs.exists(new Path(nsDir(namespace))))
      Array(Identifier.of(namespace, "bucket"))
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  // ---- procedures (CALL graft.system.<proc>(...)) ----

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident).getOrElse(
      throw new RuntimeException(
        s"catalog $catalogName has no procedure ${ident.namespace().mkString(".")}.${ident.name()} " +
          s"(available: system.${GraftProcedures.names.mkString(", system.")})"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.length == 1 && namespace(0).equalsIgnoreCase("system"))
      GraftProcedures.names.map(Identifier.of(namespace, _)).toArray
    else Array.empty

  /** The provider, data dir, and bucketing (if clustered) of a table —
    * what the maintenance procedures operate on. */
  private[catalog] def procedureTarget(ident: Identifier): (String, String, Option[GraftCatalog.Bucketing]) = {
    val dir = tableDir(ident)
    val meta = readMeta(dir).getOrElse(throw new NoSuchTableException(ident))
    requireNotClone(ident, meta)
    (meta.provider, meta.location.getOrElse(dir), meta.bucket)
  }

  /** Full descriptor + data dir — for procedures that need the schema
    * (register_files checks the column-mapping state). */
  private[catalog] def procedureMeta(ident: Identifier): (GraftCatalog.TableMeta, String) = {
    val dir = tableDir(ident)
    val meta = readMeta(dir).getOrElse(throw new NoSuchTableException(ident))
    requireNotClone(ident, meta)
    (meta, meta.location.getOrElse(dir))
  }

  /** Maintenance procedures operate on the PHYSICAL table — a zero-copy
    * clone's "data dir" is the source's shared data plane, so vacuum/
    * compact/rollback/tag/... aimed at a clone would act on the source's
    * main log (at best a surprise, at worst data loss). Refused centrally;
    * the clone's own lifecycle runs through DML, DROP TABLE, and the
    * source's procedures. */
  private def requireNotClone(ident: Identifier, meta: GraftCatalog.TableMeta): Unit =
    require(meta.cloneBranch.isEmpty,
      s"${ident.name()} is a zero-copy clone — maintenance procedures " +
        "operate on the physical table; run them against the clone's source")

  /** Does `pinName` (a `clone-*` branch) still back a LIVE clone table?
    * The pin encodes its table's identifier, so a crash that orphaned the
    * pin (created but its descriptor never written, or the table since
    * dropped) is detectable: the encoded table is gone, or no longer
    * points at this pin. Orphans may be dropped via `drop_branch`. */
  private[catalog] def isLiveClonePin(pinName: String): Boolean = {
    val parts = pinName
      .stripPrefix(graft.core.ManifestTable.CloneBranchPrefix).split("\\.")
    if (parts.isEmpty || parts.exists(_.isEmpty)) return false
    readMeta(tableDir(Identifier.of(parts.dropRight(1), parts.last)))
      .exists(_.cloneBranch.contains(pinName))
  }

  /** Zero-copy CLONE: materialize `dstIdent` as an independent table over
    * `srcIdent`'s data plane at `version` (default: current) — no data
    * copied, whatever the table size. The clone's whole private lineage
    * (its own versions, DML, appends) lives in a pinned branch log
    * ([[graft.core.ManifestTable.CloneBranchPrefix]]) on the source dir:
    * vacuum on the source already retains branch-referenced pools, the
    * fork version anchors the clone-time snapshot, and the pin is exempt
    * from `expire_refs` (its lifetime is the clone TABLE's — DROP TABLE
    * releases it). Returns (forked source version, pin branch name). */
  private[catalog] def createCloneTable(srcIdent: Identifier, dstIdent: Identifier,
                                        version: Option[Long]): (Long, String) = {
    val srcDir = tableDir(srcIdent)
    val meta = readMeta(srcDir).getOrElse(throw new NoSuchTableException(srcIdent))
    require(meta.provider == "manifest",
      s"zero-copy clone applies to manifest tables only; " +
        s"'${srcIdent.name()}' is a ${meta.provider} table" +
        (if (meta.provider == "keyedlog")
          " — keyedlog tables migrate via CALL clone(..., deep => true)"
        else ""))
    require(meta.cloneBranch.isEmpty,
      s"'${srcIdent.name()}' is itself a clone — clone the original table " +
        "(a clone-of-clone would chain pins across drops)")
    val ns = dstIdent.namespace()
    if (ns.nonEmpty && !fs.exists(new Path(nsDir(ns))))
      throw new NoSuchNamespaceException(ns)
    val dstDir = tableDir(dstIdent)
    if (fs.exists(new Path(dstDir, MetaFile)))
      throw new TableAlreadyExistsException((ns :+ dstIdent.name()).toSeq)
    val dataDir = meta.location.getOrElse(srcDir)
    val pin = graft.core.ManifestTable.CloneBranchPrefix +
      (ns :+ dstIdent.name()).mkString(".")
    val forkV = graft.core.ManifestTable.createBranch(dataDir, pin, version)
    if (!writeMeta(dstDir, meta.copy(location = Some(dataDir),
        cloneBranch = Some(pin)))) {
      graft.core.ManifestTable.dropBranch(dataDir, pin)
      throw new TableAlreadyExistsException((ns :+ dstIdent.name()).toSeq)
    }
    (forkV, pin)
  }

  /** DEEP clone — the DR / storage-tier migration primitive the zero-copy
    * clone deliberately is not: physically copy the source's referenced
    * pools (data files AND deletion-vector files) of ONE consistent
    * snapshot to the target's own root, rebuild a one-version log over
    * them (stats carried VERBATIM from the source log — no re-harvest,
    * bit-identical skipping bounds), and verify every copy by md5 content
    * hash before the target commits. The target owns its data plane
    * outright: vacuuming or dropping the source afterwards cannot touch
    * it. A temporary clone pin protects the source snapshot from vacuum
    * FOR THE DURATION of the copy and is dropped on every exit path.
    * Returns (clonedVersion, filesCopied, bytesCopied). */
  private[catalog] def createDeepCloneTable(srcIdent: Identifier,
      dstIdent: Identifier, version: Option[Long]): (Long, Long, Long) = {
    val srcDir = tableDir(srcIdent)
    val meta = readMeta(srcDir).getOrElse(throw new NoSuchTableException(srcIdent))
    if (meta.provider == "keyedlog")
      return createDeepCloneKeyedLog(srcIdent, dstIdent, meta, srcDir, version)
    require(meta.provider == "manifest",
      s"clone applies to manifest and (deep-only) keyedlog tables; " +
        s"'${srcIdent.name()}' is a ${meta.provider} table")
    require(meta.cloneBranch.isEmpty,
      s"'${srcIdent.name()}' is a zero-copy clone — deep-clone the original " +
        "table (a shallow clone's private lineage lives in a branch log, " +
        "not a version of the shared data plane)")
    val ns = dstIdent.namespace()
    if (ns.nonEmpty && !fs.exists(new Path(nsDir(ns))))
      throw new NoSuchNamespaceException(ns)
    val dstDir = tableDir(dstIdent)
    if (fs.exists(new Path(dstDir, MetaFile)))
      throw new TableAlreadyExistsException((ns :+ dstIdent.name()).toSeq)
    val dataDir = meta.location.getOrElse(srcDir)
    val pin = graft.core.ManifestTable.CloneBranchPrefix +
      "deep." + (ns :+ dstIdent.name()).mkString(".")
    val v = graft.core.ManifestTable.createBranch(dataDir, pin, version)
    try {
      val st = graft.core.ManifestTable.state(dataDir, v)
      val dstFs = graft.core.LakeStorage.openFor(dstDir)
      dstFs.mkdirs(new Path(dstDir))
      val toCopy = (st.files ++ st.dvs.valuesIterator.map(_.path).toSeq).sorted
      try {
        // DISTRIBUTED copy (the distcp shape): above a size threshold the
        // copy+verify runs as ONE SPARK JOB over the file list — one task
        // per file — so migration throughput scales with the cluster, not
        // with one driver NIC (a 100 TB table through a 16-thread driver
        // pool is an hours-to-days funnel). Below the threshold the
        // bounded driver pool wins: no job-scheduling latency on the
        // metadata-sized tables DDL tests and small DR moves touch.
        val bytes = DeepCopy.copyList(dataDir, dstDir,
          toCopy.map(r => (r, r)), GraftCatalog.copyThresholdBytes)
        // identity high-water carry-over: the clone's rows KEEP their
        // surrogate keys, so the target's reservation sequence must start
        // at the source's current mark — a fresh marker dir would restart
        // at 0 and the first INSERT would silently re-issue keys already
        // present in the copied rows. (Zero-copy clones share the data
        // root and therefore the marker sequence; only the deep path
        // needs the seed.)
        IdentityColumns.specs(meta.schema).foreach { spec =>
          val hw = IdentityColumns.highWater(dataDir, spec.col)
          if (hw > 0) IdentityColumns.seed(dstDir, spec.col, hw)
        }
        // a rival CREATE/clone may have published its own MetaFile at
        // dstDir while we copied: re-check before committing a log
        // version into what is now THEIR directory. (The residual
        // check-to-commit window is the same non-transactional DDL
        // window replaceMeta documents — quiesce DDL racing a clone.)
        if (fs.exists(new Path(dstDir, MetaFile)))
          throw new TableAlreadyExistsException((ns :+ dstIdent.name()).toSeq)
        graft.core.ManifestTable.commitStagedSnapshot(dstDir, st.files,
          stats = Some(st.stats), dvs = st.dvs)
        if (!writeMeta(dstDir, meta.copy(location = None, cloneBranch = None)))
          throw new TableAlreadyExistsException((ns :+ dstIdent.name()).toSeq)
        (v, toCopy.length.toLong, bytes)
      } catch { case e: Throwable =>
        // cleanup must respect ownership: while no MetaFile exists the
        // dir is unpublished clone scratch — delete it wholesale so a
        // retry starts clean. If a rival's MetaFile appeared mid-copy,
        // the dir is THEIRS: deleting it would destroy a live table
        // (the review-caught race), so remove only the uuid-pool files
        // THIS clone staged and leave everything else untouched.
        try {
          if (!fs.exists(new Path(dstDir, MetaFile))) {
            dstFs.delete(new Path(dstDir), true); ()
          } else toCopy.foreach { rel =>
            try { dstFs.delete(new Path(dstDir, rel), false); () }
            catch { case _: java.io.IOException => () }
          }
        } catch { case _: java.io.IOException => () }
        throw e
      }
    } finally {
      graft.core.ManifestTable.dropBranch(dataDir, pin); ()
    }
  }

  /** Deep clone for KEYEDLOG tables — the document store's DR /
    * storage-tier migration: copy ONE consistent snapshot's live files
    * (journal-resolved; `version` time-travels via the tombstone rule
    * the asOf scan uses) to the target's own root — md5-verified,
    * distributed above the [[DeepCopy.copyList]] threshold — journal
    * them as the target's GENESIS entry with the source's column stats
    * carried verbatim (copied bytes keep their skipping bounds), and
    * publish the descriptor. The target owes the source nothing.
    * Zero-copy keyedlog clones stay unsupported: the zero-copy pin
    * machinery is a manifest branch-log concept. History/tombstones are
    * deliberately NOT copied — a deep clone is a snapshot migration, and
    * its version line starts fresh (same contract as the manifest deep
    * clone's one-version log). A compaction racing the copy swaps the
    * source dir and fails the copy LOUDLY (md5/open errors) — quiesce
    * maintenance around migrations, then retry. */
  private def createDeepCloneKeyedLog(srcIdent: Identifier,
      dstIdent: Identifier, meta: TableMeta, srcDir: String,
      version: Option[Long]): (Long, Long, Long) = {
    import graft.sources.{KeyedLogSource, KeyedLogVersionLog}
    val ns = dstIdent.namespace()
    if (ns.nonEmpty && !fs.exists(new Path(nsDir(ns))))
      throw new NoSuchNamespaceException(ns)
    val dstDir = tableDir(dstIdent)
    if (fs.exists(new Path(dstDir, MetaFile)))
      throw new TableAlreadyExistsException((ns :+ dstIdent.name()).toSeq)
    val conf = LakeStorage.taskConf()
    val dataDir = meta.location.getOrElse(srcDir)
    // resolve the snapshot's NAMES and each name's physical source file
    // (a later rewrite may have tombstoned it — same rule as VERSION AS OF
    // scans: serve the `.rm-` copy, fail loudly past tombstone retention)
    val (names, srcRelOf): (Seq[String], String => String) = version match {
      case None =>
        (KeyedLogVersionLog.liveSet(dataDir, conf).getOrElse(
          KeyedLogSource.listDataFiles(dataDir, conf)
            .map(f => new Path(f).getName).toSeq.sorted), identity[String] _)
      case Some(v) =>
        val nm = KeyedLogVersionLog.liveSetAt(dataDir, conf, v).getOrElse(
          throw new IllegalArgumentException(
            s"deep clone: version $v of '${srcIdent.name()}' is not journaled"))
        val listed = KeyedLogSource.listDataFiles(dataDir, conf)
          .map(f => new Path(f).getName).toSet
        lazy val tombs = KeyedLogSource.tombstonesOf(dataDir, conf)
        (nm.toSeq.sorted, (n: String) =>
          if (listed.contains(n)) n
          else tombs.getOrElse(n, throw new IllegalStateException(
            s"deep clone: file $n of version $v is gone — its tombstone " +
              "aged out (vacuum) or a compaction replaced the data plane")))
    }
    val dstFs = graft.core.LakeStorage.openFor(dstDir)
    dstFs.mkdirs(new Path(dstDir))
    val pairs = names.map(n => (srcRelOf(n), n))
    try {
      val bytes = DeepCopy.copyList(dataDir, dstDir, pairs,
        GraftCatalog.copyThresholdBytes)
      // carry the source's journaled bounds for the copied names — the
      // bytes are identical, so the skipping bounds are too
      val vs = KeyedLogVersionLog.versions(dataDir, conf)
      val stats =
        if (vs.isEmpty) Map.empty[String, Map[String, (Long, Long)]]
        else KeyedLogVersionLog.statsJournaled(dataDir, conf, vs).view
          .filterKeys(names.toSet).toMap
      // rival-publish re-check, same window as the manifest deep clone
      if (fs.exists(new Path(dstDir, MetaFile)))
        throw new TableAlreadyExistsException((ns :+ dstIdent.name()).toSeq)
      val v = KeyedLogVersionLog.commit(dstDir, conf, names, stats = stats)
        .getOrElse(-1L)
      if (!writeMeta(dstDir, meta.copy(location = None, cloneBranch = None)))
        throw new TableAlreadyExistsException((ns :+ dstIdent.name()).toSeq)
      (v, names.length.toLong, bytes)
    } catch { case e: Throwable =>
      // ownership-aware cleanup (see the manifest path): unpublished dir
      // goes wholesale; a rival's live table loses only OUR staged names
      try {
        if (!fs.exists(new Path(dstDir, MetaFile))) {
          dstFs.delete(new Path(dstDir), true); ()
        } else names.foreach { n =>
          try { dstFs.delete(new Path(dstDir, n), false); () }
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: java.io.IOException => () }
      throw e
    }
  }

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] = {
    val p = new Path(root)
    if (!fs.exists(p)) return Array.empty
    fs.listStatus(p)
      .filter(s => s.isDirectory && !fs.exists(new Path(s.getPath, MetaFile)))
      .map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (fs.exists(new Path(nsDir(namespace)))) Array.empty // one level only
    else throw new NoSuchNamespaceException(namespace)

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] =
    if (namespace.isEmpty || fs.exists(new Path(nsDir(namespace))))
      java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    val p = new Path(nsDir(namespace))
    if (fs.exists(p)) throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(p)
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"catalog $catalogName namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = new Path(nsDir(namespace))
    if (!fs.exists(p)) false
    else {
      if (!cascade && fs.listStatus(p).nonEmpty)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      fs.delete(p, true)
    }
  }

  // ---- descriptor I/O ----

  private def readMeta(dir: String): Option[TableMeta] = {
    val p = new Path(dir, MetaFile)
    if (!fs.exists(p)) return None
    val m = org.json4s.jackson.JsonMethods.parse(graft.core.LakeStorage.readText(fs, p))
    def str(k: String): Option[String] = m \ k match {
      case org.json4s.JString(s) => Some(s)
      case _                     => None
    }
    def num(k: String): Option[Int] = m \ k match {
      case org.json4s.JInt(n) => Some(n.toInt)
      case _                  => None
    }
    Some(TableMeta(
      provider = str("provider").getOrElse(
        throw new IllegalStateException(s"$p: missing provider")),
      schema = DataType.fromJson(str("schema").getOrElse(
        throw new IllegalStateException(s"$p: missing schema"))).asInstanceOf[StructType],
      location = str("location"),
      bucket = for (n <- num("bucketN"); c <- str("bucketCol"))
        yield Bucketing(n, c),
      maxFieldId = num("maxFieldId"),
      dmlMode = str("dmlMode"),
      cluster = str("cluster").map(_.split(",").toSeq.filter(_.nonEmpty).map { s =>
        s.split(":", 3) match {
          case Array(fn, c, "") => ClusterKey(fn, c)
          case Array(fn, c, w)  => ClusterKey(fn, c, Some(w.toInt))
          case _ => throw new IllegalStateException(s"$p: corrupt cluster spec '$s'")
        }
      }).getOrElse(Nil),
      bloomCols = str("bloomCols")
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      ndvCols = str("ndvCols")
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      cloneBranch = str("cloneBranch"),
      checks = (m \ "checks" match {
        case org.json4s.JObject(fields) => fields.collect {
          case (n, org.json4s.JString(sql)) => (n, sql)
        }.sortBy(_._1)
        case _ => Nil
      })))
  }

  /** Create-if-absent of the descriptor — the same atomic-create commit as
    * the manifest markers, so two racing CREATE TABLEs resolve to one
    * winner. False if the table already exists. */
  private def writeMeta(dir: String, meta: TableMeta): Boolean = {
    val d = new Path(dir)
    if (!fs.exists(d)) fs.mkdirs(d)
    val p = new Path(dir, MetaFile)
    import org.json4s.JsonDSL._
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        ("provider" -> meta.provider) ~ ("schema" -> meta.schema.json) ~
          ("location" -> meta.location) ~
          ("bucketN" -> meta.bucket.map(_.n)) ~
          ("bucketCol" -> meta.bucket.map(_.col)) ~
          ("maxFieldId" -> meta.maxFieldId) ~
          ("dmlMode" -> meta.dmlMode) ~
          ("cluster" -> (if (meta.cluster.isEmpty) None
            else Some(meta.cluster.map(k =>
              s"${k.fn}:${k.col}:${k.width.getOrElse("")}").mkString(",")))) ~
          ("bloomCols" -> (if (meta.bloomCols.isEmpty) None
            else Some(meta.bloomCols.mkString(",")))) ~
          ("ndvCols" -> (if (meta.ndvCols.isEmpty) None
            else Some(meta.ndvCols.mkString(",")))) ~
          ("cloneBranch" -> meta.cloneBranch) ~
          ("checks" -> (if (meta.checks.isEmpty) None
            else Some(meta.checks.toMap)))))
    val out = try fs.create(p, false) catch {
      case _: java.io.IOException => return false
    }
    try { out.write(json.getBytes("UTF-8")); true } finally out.close()
  }

  /** Descriptor update for ALTER TABLE (delete + recreate; the window is
    * tolerable because a descriptor is tiny and alters are rare/manual —
    * a store with atomic overwrite closes it). */
  private def replaceMeta(dir: String, meta: TableMeta): Unit = {
    fs.delete(new Path(dir, MetaFile), false)
    if (!writeMeta(dir, meta))
      throw new IllegalStateException(s"could not update descriptor under $dir")
  }
}

object GraftCatalog {
  private[catalog] val MetaFile = "_graft_table.json"

  /** Size threshold above which bulk file copies (deep clone,
    * register_files import) run as ONE Spark job over the file list
    * instead of a bounded driver pool — see [[DeepCopy.copyList]]. */
  private[catalog] def copyThresholdBytes: Long =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => scala.util.Try(s.conf.get(
        "spark.graft.clone.distributedThresholdBytes").toLong).toOption)
      .getOrElse(256L * 1024 * 1024)
  /** Hash-bucket clustering of a manifest table: `PARTITIONED BY
    * (bucket(n, col))` at CREATE time. */
  private[catalog] case class Bucketing(n: Int, col: String)
  /** `maxFieldId`: the COLUMN-MAPPING high-water mark — the largest
    * parquet field id this table has ever assigned (tables created before
    * mapping carry None and keep by-name resolution + the rename
    * rejection). Persisted so a DROP followed by an ADD can never reuse a
    * dropped column's id — id reuse would resurrect the dropped column's
    * bytes under the new column's name. */
  /** One declared partition transform of a `PARTITIONED BY (days(ts),
    * identity(k), truncate(4, s))` table. The engine implements these as
    * DECLARATIVE CLUSTERING: every transform here is monotonic in its
    * source column, so range-partitioning + sorting writes by the SOURCE
    * columns yields files whose log-carried min/max bounds are disjoint
    * along the partition dimensions — and the existing stats-skipping
    * layer then prunes partitions at plan time with no extra metadata.
    * (Hash `bucket(n, col)` is the one non-monotonic transform; it keeps
    * its own storage-partitioned path.) */
  private[catalog] case class ClusterKey(fn: String, col: String,
                                         width: Option[Int] = None) {
    def render: String = fn match {
      case "identity" => col
      case "truncate" => s"truncate(${width.get}, $col)"
      case f          => s"$f($col)"
    }
  }

  /** `dmlMode`: None = copy-on-write (default); Some("merge-on-read") =
    * row-level DML writes deletion vectors (see [[ManifestDeltaOperation]]). */
  private[catalog] case class TableMeta(provider: String, schema: StructType,
                                        location: Option[String],
                                        bucket: Option[Bucketing] = None,
                                        maxFieldId: Option[Int] = None,
                                        dmlMode: Option[String] = None,
                                        cluster: Seq[ClusterKey] = Nil,
                                        bloomCols: Seq[String] = Nil,
                                        ndvCols: Seq[String] = Nil,
                                        cloneBranch: Option[String] = None,
                                        checks: Seq[(String, String)] = Nil)

  /** `TBLPROPERTIES ('graft.ndv.columns'='k,url')`: batch inserts sketch
    * these columns' distinct values per file (DataSketches HLL, stored in
    * the commit marker next to min/max — see [[graft.core.NdvStats]]) and
    * scans serve the merged distinct count to the optimizer through DSv2
    * column statistics. CBO join/filter estimation then works from the
    * log alone — no ANALYZE TABLE pass. int/bigint/string/binary plus
    * date/timestamp (sketched via their epoch integers). */
  val NdvColsProp = "graft.ndv.columns"

  /** ONE definition of the NDV-column declaration check (existence +
    * sketchable domain) — used by CREATE-time parsing, ALTER validation,
    * and collect_stats(columns => ...); a drifted copy would let one
    * front door accept a type another refuses. */
  private[catalog] def validateNdvColumn(owner: String,
      schema: StructType, c: String): Unit = {
    val f = schema.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"$owner: $NdvColsProp names unknown column '$c'"))
    require(graft.core.NdvStats.eligible(f.dataType),
      s"$owner: $NdvColsProp column '$c' is ${f.dataType.simpleString} — " +
        "HLL sketches cover int/bigint/string/binary/date/timestamp")
  }

  /** The CREATE TABLE property selecting the row-level DML strategy. */
  val DmlModeProp = "graft.dml.mode"

  /** Lossless type widenings old parquet files serve without rewrite
    * (Spark 4 parquet readers promote the physical type on read —
    * SPARK-40876): the integral chain and float→double. */
  private[catalog] def canWiden(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case _                                              => false
    }
  }

  /** `TBLPROPERTIES ('graft.bloom.columns'='h,url')`: every data write
    * (insert, DML rewrite, streaming epoch, compact, purge) bakes a
    * parquet BLOOM FILTER for these columns into its files. Point
    * lookups on high-cardinality UNSORTED columns (dedup hashes, URLs,
    * request ids) then skip whole row groups at read time — min/max
    * stats cannot serve them (every file spans the full hash range).
    * This is the parquet-native bloom (codegen'd reader applies it
    * during row-group filtering), not a bespoke index format. */
  val BloomColsProp = "graft.bloom.columns"

  /** The per-write parquet options that bake blooms for the declared
    * index columns (consumed from the job's hadoop configuration by
    * parquet-mr's writer). */
  private[catalog] def bloomWriteOptions(bloomCols: Seq[String]): Map[String, String] =
    bloomCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap

  /** Session conf pinning a write-audit-publish branch: while set, reads
    * and writes of any manifest table that HAS a branch of that name
    * target the branch instead of main (Iceberg's `spark.wap.branch`
    * pattern); tables without the branch resolve to main. */
  val WapBranchConf = "graft.wap.branch"

  /** Register this catalog on a session under `name` rooted at `root`.
    * (Conf-only registration — the first SQL reference instantiates it.)
    * Also enables parquet FIELD-ID resolution on the session: mapped
    * manifest tables (created by this catalog) resolve columns by the
    * stable ids their descriptor assigns, not by name — what makes
    * ALTER TABLE RENAME COLUMN a metadata-only operation. Reading a
    * renamed table WITHOUT this conf would silently null the renamed
    * column (parquet by-name resolution finds nothing), so registration
    * is the choke point that turns it on. Schemas without id metadata
    * (every non-catalog parquet read) are untouched by the conf. */
  def register(spark: SparkSession, name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    // NOTE timestamps: manifest DATA files are written as INT64 micros
    // (see graft.core.ManifestPoolWriter.prepare) — the deprecated INT96
    // default carries no usable min/max statistics, which would silently
    // blind data skipping and days()/hours() partition pruning. The
    // session default is left untouched so non-catalog writes keep their
    // configured format.
  }

  private[catalog] val FieldIdKey = "parquet.field.id"

  private[catalog] def isMapped(schema: StructType): Boolean =
    schema.exists(_.metadata.contains(FieldIdKey))

  /** Fail-safe for mapped tables: reading them with field-id resolution
    * DISABLED would match columns by name — a renamed column would
    * silently read as null. Every mapped scan path calls this at plan
    * time; [[register]] sets the conf, so only a hand-wired session
    * (catalog conf copied without register) can trip it, loudly. */
  private[catalog] def requireFieldIdReads(schema: StructType, table: String): Unit =
    if (isMapped(schema))
      require(org.apache.spark.sql.internal.SQLConf.get
          .getConfString("spark.sql.parquet.fieldId.read.enabled", "false") == "true",
        s"$table uses column mapping (parquet field ids): set " +
          "spark.sql.parquet.fieldId.read.enabled=true on this session " +
          "(GraftCatalog.register does) — a by-name read would silently " +
          "null renamed columns")

  /** Fresh ids 1..n for a NEW table's columns (any ids arriving on a CTAS
    * source schema are overwritten — the new table owns its id space). */
  private[catalog] def assignFieldIds(schema: StructType): StructType =
    StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).putLong(FieldIdKey, i + 1L).build())
    })

  /** Attach the declared schema's field ids to a write's columns (matched
    * by name — the last name-based step; files then carry ids and every
    * later read resolves by id). No-op for unmapped tables. */
  private[catalog] def stampFieldIds(df: DataFrame, declared: StructType): DataFrame = {
    if (!isMapped(declared)) return df
    val q = Constraints.qcol _
    df.select(df.schema.fieldNames.toIndexedSeq.map { n =>
      declared.find(_.name == n) match {
        case Some(d) if d.metadata.contains(FieldIdKey) => q(n).as(n, d.metadata)
        case _                                          => q(n)
      }
    }: _*)
  }

  /** Schema-level variant for the InternalRow write paths (streaming
    * epochs, DML rewrites): same field order, declared ids attached. */
  private[catalog] def stampFieldIds(writeSchema: StructType,
                                     declared: StructType): StructType =
    if (!isMapped(declared)) writeSchema
    else StructType(writeSchema.fields.map { f =>
      declared.find(_.name == f.name) match {
        case Some(d) if d.metadata.contains(FieldIdKey) =>
          f.copy(metadata = d.metadata)
        case _ => f
      }
    })
}
