package graft.catalog

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{ManifestPoolWriter, ManifestPoolWriterFactory, ManifestTable, PoolFileCommit}

/** Group-based row-level DML (SQL `DELETE FROM` / `UPDATE` / `MERGE INTO`)
  * over a [[graft.core.ManifestTable]] — the copy-on-write model of
  * Delta/Iceberg on the manifest commit protocol (the reference's lake has
  * no in-place mutation at all, ref DatalakePublishService.kt:25-43 — this
  * is part of the declared engine surface beyond it).
  *
  * The GROUP is a data file. Spark's group-based rewrite plans
  * `ReplaceData(scan → surviving/updated/merged rows)`; this class supplies
  * the two connector halves:
  *
  *  - '''Scan''': the pinned snapshot's files, exposed with a per-row
  *    `_file` metadata column. It implements [[SupportsRuntimeFiltering]]
  *    on `_file`, so Spark's runtime group filtering (an `IN` subquery of
  *    the files that actually contain matching rows) narrows the rewrite
  *    to AFFECTED FILES ONLY — an UPDATE touching one file of a 100 TB
  *    table scans-and-rewrites that one file, not the table.
  *  - '''Write''': a DSv2 [[BatchWrite]] whose tasks stream rows through
  *    the engine's [[graft.core.ManifestPoolWriter]] into a fresh
  *    uncommitted pool; the job commit is one
  *    [[ManifestTable.commitRewrite]] — current manifest minus the
  *    scanned (affected) files plus the rewritten ones, with optimistic
  *    rebase over concurrent appends and a stale-abort if a concurrent
  *    writer replaced a file this DML read.
  *
  * Tasks that produce no rows open no file (a selective DELETE commits no
  * empty parquet shards); a failed task's file is deleted on abort and a
  * lost-and-retried task's file is simply never referenced by any
  * manifest, so it is invisible and later vacuumed with its pool.
  */
class ManifestRowLevelOperation(dir: String, declared: StructType,
                                cmd: Command,
                                bucketing: Option[GraftCatalog.Bucketing] = None,
                                cluster: Seq[GraftCatalog.ClusterKey] = Nil,
                                branch: Option[String] = None,
                                bloomCols: Seq[String] = Nil,
                                ndvCols: Seq[String] = Nil,
                                checks: Seq[Constraints.Check] = Nil)
    extends RowLevelOperation {

  private[catalog] def bloomColumns: Seq[String] = bloomCols
  private[catalog] def ndvColumns: Seq[String] = ndvCols
  private[catalog] def branchName: Option[String] = branch
  private[catalog] def checkList: Seq[Constraints.Check] = checks

  import ManifestRowLevelOperation._

  /** Marker log the DML resolves against and commits to (the branch
    * sidecar log under WAP; data pools stay under `dir` either way). */
  private[catalog] val logDir: String =
    branch.map(b => ManifestTable.branchLogDir(dir, b)).getOrElse(dir)

  /** Snapshot pinned when the DML statement starts analysis — scan and
    * commit agree on this base even if the table moves underneath
    * (deletion vectors included: the scan reads LIVE rows only, and the
    * commit aborts if a concurrent vector lands on a scanned file). */
  private[catalog] val snapshotState: ManifestTable.TableState =
    ManifestTable.currentVersion(logDir)
      .map(ManifestTable.state(logDir, _))
      .getOrElse(ManifestTable.TableState(Seq.empty, Map.empty, Map.empty))

  private[catalog] def snapshot: Seq[String] = snapshotState.files
  private[catalog] def snapshotStats: Map[String, graft.core.FileStats.Stats] =
    snapshotState.stats

  /** What the commit replaces: narrowed by the scan's runtime group
    * filter, defaulting to the full snapshot (driver-side only). */
  @volatile private[catalog] var scannedFiles: Seq[String] = snapshot

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    GraftCatalog.requireFieldIdReads(declared, s"rowlevel($dir)")
    () => new ManifestRowLevelScan(this, dir, declared)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new ManifestReplaceWrite(
        ManifestRowLevelOperation.this, dir,
        // rewritten files must carry the table's field ids (column
        // mapping) — the write schema arrives metadata-free from the plan
        GraftCatalog.stampFieldIds(info.schema(), declared), bucketing, cluster)
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(FileCol))

  override def description(): String = s"ManifestRowLevelOperation($cmd, $dir)"
}

object ManifestRowLevelOperation {
  /** Metadata column carrying each row's dir-relative data-file path. */
  val FileCol = "_file"

  /** Dir-relative name of ANY manifest data file (pool or adopted):
    * strips the table root's qualified prefix — the manifest's file keys
    * are exactly these, whatever the path depth (`register_files` adopts
    * `import1/part-...parquet`-shaped names that the one-pool-deep
    * [[relName]] would reject). */
  private[catalog] def relNameIn(dir: String): String => String = {
    val prefix = graft.core.LakeStorage.openFor(dir)
      .makeQualified(new Path(dir)).toString + "/"
    absolute => {
      if (absolute.startsWith(prefix)) absolute.stripPrefix(prefix)
      else {
        // unqualified fallback (a caller handed a plain path)
        val raw = new Path(dir).toString + "/"
        val at = absolute.indexOf(raw)
        require(at >= 0, s"$absolute is not under the table root $dir")
        absolute.substring(at + raw.length)
      }
    }
  }

  /** Re-plan parquet splits at FILE granularity, tagging each with its
    * dir-relative name — what lets the reader append `_file` as a
    * partition constant and runtime group filtering prune whole files. */
  private[catalog] def regroupPerFile(dir: String,
      parts: Array[InputPartition]): Array[InputPartition] = {
    val rel = relNameIn(dir)
    var i = -1
    parts.flatMap {
      case fp: FilePartition => fp.files.map { pf =>
        i += 1
        FileTaggedPartition(FilePartition(i, Array(pf)),
          rel(pf.filePath.toString)): InputPartition
      }
      case other => throw new IllegalStateException(
        s"parquet planned a non-file partition: $other")
    }
  }
}

/** The row-level read: parquet scan of the pinned snapshot, one input
  * partition per file split, each row suffixed with its `_file`. Reads
  * delegate to the built-in parquet reader factory; the wrapper only
  * re-groups split planning to file granularity (so runtime group
  * filtering composes with normal row-group splitting) and appends the
  * constant file tag. Row-based (the rewrite path is write-dominated). */
class ManifestRowLevelScan(op: ManifestRowLevelOperation, dir: String,
                           declared: StructType)
    extends Scan with Batch with SupportsRuntimeFiltering {

  import ManifestRowLevelOperation._

  @volatile private var currentFiles: Seq[String] = op.snapshot

  override def readSchema(): StructType =
    StructType(declared.fields :+ StructField(FileCol, StringType, nullable = false))
  override def toBatch: Batch = this
  override def description(): String =
    s"ManifestRowLevelScan(dir=$dir, files=${currentFiles.size}/${op.snapshot.size})"

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(FileCol))

  /** Runtime group filter: Spark hands the distinct `_file` values that
    * contain rows matching the DML condition; everything else drops out
    * of both the scan AND the commit's replaced set. */
  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case In(FileCol, values) =>
        val keep = values.map(String.valueOf).toSet
        currentFiles = currentFiles.filter(keep.contains)
        op.scannedFiles = currentFiles
      case _ => () // unexpected runtime filters are advisory — ignore
    }

  private def dvs = op.snapshotState.dvs

  private def innerScan(files: Seq[String]): Scan =
    ManifestFileIndex.scanBuilder(SparkSession.active, declared, dir, files,
      op.snapshotStats, CaseInsensitiveStringMap.empty(),
      withRowIndex = dvs.nonEmpty).build()

  override def planInputPartitions(): Array[InputPartition] = {
    if (currentFiles.isEmpty) return Array.empty
    val parts = innerScan(currentFiles).toBatch.planInputPartitions()
    if (dvs.isEmpty) regroupPerFile(dir, parts)
    else {
      // vectored snapshot: the rewrite must read LIVE rows only, so the
      // per-file partitions route through the row-address readers (the
      // same `_file`-tagged output shape, vectors subtracted)
      val relOf = relNameIn(dir)
      var i = -1
      parts.flatMap {
        case fp: FilePartition => fp.files.map { pf =>
          i += 1
          val rel = relOf(pf.filePath.toString)
          RowAddressPartition(FilePartition(i, Array(pf)), rel,
            dvs.get(rel).map(_.path)): InputPartition
        }
        case other => throw new IllegalStateException(
          s"parquet planned a non-file partition: $other")
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the factory closes over schema/conf only — independent of which
    // exact files end up planned, so building it from the current (or
    // even empty) list is safe
    val scan = innerScan(currentFiles)
    if (dvs.isEmpty) FileTagReaderFactory(scan.toBatch.createReaderFactory())
    else RowAddressReaderFactory(scan.toBatch.createReaderFactory(), dir,
      scan.readSchema(), emitPos = false, emitFile = true)
  }
}

/** The REGULAR manifest scan builder: a [[ParquetScanBuilder]] (full
  * pushdown, pruning, aggregate pushdown, vectorized reads) that
  * additionally serves the `_file` metadata column. When a query — in
  * practice the runtime group-filter subquery of a DML statement, or a
  * user SELECTing `_file` — asks for it, the built parquet scan is
  * wrapped with per-file split planning and a reader that appends the
  * file tag; when no one asks, the builder is byte-for-byte the built-in
  * parquet scan. */
class ManifestScanBuilder(mkBuilder: (Seq[String], Boolean) => org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder,
                          options: CaseInsensitiveStringMap,
                          bucketing: Option[GraftCatalog.Bucketing] = None,
                          streamSource: Option[(String, StructType)] = None,
                          allPaths: Seq[String] = Seq.empty,
                          pathStats: Map[String, graft.core.FileStats.Stats] = Map.empty,
                          dir: String = "",
                          dvByRel: Map[String, graft.core.DeletionVectors.DvRef] = Map.empty,
                          declaredSchema: StructType = new StructType())
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import ManifestRowLevelOperation.FileCol

  /** Pending deletion vectors force the row-address read path: the
    * parquet scan carries the row-index column and readers subtract
    * vectored positions (see [[DvRead]]). */
  private val dvActive = dvByRel.nonEmpty
  private var withRowIndex = dvActive
  /** The parquet builder is constructed LAZILY: its log-served file index
    * materializes one FileStatus per live file, which at 10⁵ files is the
    * dominant planning cost — and a metadata-served aggregate (see
    * pushAggregation) never needs it at all. Every non-metadata path
    * touches `inner` and builds it exactly once. */
  private var innerCache: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder = null
  private def inner: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder = {
    if (innerCache == null) innerCache = mkBuilder(allPaths, withRowIndex)
    innerCache
  }
  private var needFile = false
  private var needPos = false
  private var aggPushed = false
  private var savedSchema: Option[StructType] = None
  private var savedFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Seq.empty
  private var savedAgg: Option[org.apache.spark.sql.connector.expressions.aggregate.Aggregation] = None

  private def prunedForInner(stripped: StructType): StructType =
    if (withRowIndex) DvRead.withRowIndex(stripped) else stripped

  override def pruneColumns(requiredSchema: StructType): Unit = {
    needFile = requiredSchema.fieldNames.contains(FileCol)
    needPos = requiredSchema.fieldNames.contains(DvRead.PosCol)
    val stripped = StructType(requiredSchema.fields
      .filterNot(f => f.name == FileCol || f.name == DvRead.PosCol))
    savedSchema = Some(stripped)
    // a metadata-served aggregate ignores column pruning (its LocalScan
    // schema IS the aggregate schema) — don't force the file index
    if (metadataAgg.isDefined) return
    if (needPos && !withRowIndex) {
      // `_pos` asked on a vector-free table: rebuild the inner builder
      // with the row-index schema and replay what was already pushed
      // (column pruning is the LAST pushdown step, so only filters can
      // have landed; an aggregate pushdown never coexists with metadata
      // columns in the required schema)
      withRowIndex = true
      innerCache = mkBuilder(allPaths, withRowIndex)
      if (savedFilters.nonEmpty) { inner.pushFilters(savedFilters); () }
    }
    inner.pruneColumns(prunedForInner(stripped))
  }

  override def pushFilters(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    savedFilters = filters
    if (filters.isEmpty) return Seq.empty // nothing to push or re-evaluate
    inner.pushFilters(filters)
  }

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    if (savedFilters.isEmpty && innerCache == null) Array.empty
    else inner.pushedFilters

  /** Set when an unfiltered aggregation can be answered ENTIRELY from the
    * log's per-file statistics — see pushAggregation. */
  private var metadataAgg: Option[(StructType, Array[InternalRow])] = None

  /** METADATA-ONLY aggregation: an unfiltered COUNT(*) / COUNT(col) /
    * MIN(col) / MAX(col) — optionally GROUPED BY file-constant columns —
    * over a table whose log records every live file's statistics is a
    * driver-side fold, zero file opens, zero footer reads, O(1) Spark
    * jobs. The level above parquet's own aggregate pushdown (which still
    * opens every footer), and what keeps `SELECT count(*)` (or
    * `SELECT lang, count(*) ... GROUP BY lang` on a lang-clustered
    * layout) instant on a 10⁵-file table. Complete-pushdown contract: the
    * scan serves exactly one row per group holding the final answer, so
    * Spark plans no aggregate (and no exchange) above it.
    *
    * Soundness rules:
    *  - GROUP BY columns must be FILE-CONSTANT in every (non-empty) file:
    *    either provably all-null (null group key) or min == max with zero
    *    nulls — exactly what an identity-partitioned layout guarantees.
    *    Key types: the loss-less stat shapes (integral/date/timestamp and
    *    exact strings). A single mixed file refuses the whole pushdown.
    *  - COUNT(*): every planned file carries a row count; pending deletion
    *    vectors SUBTRACT their exact log-recorded cardinalities (stored −
    *    vectored = live) — per file, so grouped counts stay exact too.
    *  - COUNT(col): additionally needs the column's exact null count in
    *    every file, and NO pending vectors (a vector cannot say whether it
    *    deleted null or non-null rows).
    *  - MIN/MAX(col): integral/date/timestamp columns only (loss-less
    *    bounds), present in every file that has non-null rows (an all-null
    *    file constrains nothing), and NO pending vectors (a vector may
    *    have deleted the extreme row).
    * Anything else refuses here and falls through to the parquet builder. */
  private def servableMetadataAgg(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Option[(StructType, Array[InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    if (savedFilters.nonEmpty) return None
    if (!allPaths.forall(pathStats.contains)) return None
    val declared = declaredSchema
    if (declared.isEmpty) return None

    def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: NamedReference if f.fieldNames.length == 1 =>
          Some(f.fieldNames.head)
        case _ => None
      }
    def field(name: String): Option[StructField] =
      declared.fields.find(_.name.equalsIgnoreCase(name))
    def colKey(name: String): String = name.toLowerCase(java.util.Locale.ROOT)
    /** Catalyst value for a log LongVal under the column's declared type. */
    def typed(dt: DataType, v: Long): Option[Any] = dt match {
      case LongType    => Some(v)
      case IntegerType => Some(v.toInt)
      case ShortType   => Some(v.toShort)
      case ByteType    => Some(v.toByte)
      case DateType    => Some(v.toInt) // log stores epoch days
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => Some(v) // micros
      case _           => None
    }
    /** Catalyst value for any loss-less stat shape (group keys). */
    def keyTyped(dt: DataType, sv: graft.core.FileStats.StatVal): Option[Any] =
      (dt, sv) match {
        case (StringType, graft.core.FileStats.StringVal(s)) =>
          Some(UTF8String.fromString(s))
        case (_, graft.core.FileStats.LongVal(v)) => typed(dt, v)
        case _ => None
      }

    // ---- group assignment: every non-empty file must be file-constant in
    // every group column (all-null → null key); a mixed file refuses ----
    val groupFields: Seq[StructField] =
      aggregation.groupByExpressions.toSeq.map { e =>
        colName(e).flatMap(field).getOrElse(return None)
      }
    val livePaths = allPaths.filter(pathStats(_).rowCount > 0L)
    def fileKey(p: String): Option[Seq[Any]] = {
      val st = pathStats(p)
      val parts = groupFields.map { f =>
        val cs = st.col(colKey(f.name))
        cs match {
          case Some(c) if c.nullCount.contains(st.rowCount) => Some(null)
          case Some(c) if c.nullCount.contains(0L) =>
            (c.min, c.max) match {
              case (Some(a), Some(b)) if a == b => keyTyped(f.dataType, a)
              case _                            => None
            }
          case _ => None
        }
      }
      if (parts.exists(_.isEmpty)) None else Some(parts.map(_.get))
    }
    val keyed: Seq[(Seq[Any], String)] = livePaths.map { p =>
      fileKey(p) match {
        case Some(k) => (k, p)
        case None    => return None // a group column varies inside a file
      }
    }
    // ungrouped → one group (empty key) over ALL paths, so an empty table
    // still serves count(*) = 0; grouped → groups from the live files
    val groups: Seq[(Seq[Any], Seq[String])] =
      if (groupFields.isEmpty) Seq((Seq.empty, allPaths))
      else keyed.groupBy(_._1).map { case (k, ps) => (k, ps.map(_._2)) }.toSeq

    def liveRows(paths: Seq[String]): Long = paths.iterator.map { p =>
      pathStats(p).rowCount -
        dvByRel.get(ManifestSparkTable.relOf(dir, p)).map(_.count).getOrElse(0L)
    }.sum

    def bound(paths: Seq[String],
              col: org.apache.spark.sql.connector.expressions.Expression,
              isMin: Boolean): Option[(StructField, Any)] =
      for {
        name <- colName(col)
        f <- field(name)
        _ <- typed(f.dataType, 0L) // type servable at all?
        stats = paths.map(pathStats).map(s => (s.rowCount, s.col(colKey(name))))
        // each file: a usable bound, or provably all-null (constrains
        // nothing); a file with non-null rows but no recorded bound
        // poisons the whole fold
        bounds <- stats.foldLeft(Option(Seq.empty[Long])) {
          case (None, _) => None
          case (Some(acc), (rows, cs)) =>
            val b = cs.flatMap(c => if (isMin) c.min else c.max)
            b match {
              case Some(graft.core.FileStats.LongVal(v)) => Some(acc :+ v)
              case Some(_) => None // non-integral stat shape
              case None =>
                val allNull = rows == 0L ||
                  cs.exists(c => c.nullCount.contains(rows))
                if (allNull) Some(acc) else None
            }
        }
      } yield {
        val agg = if (bounds.isEmpty) null
          else typed(f.dataType, if (isMin) bounds.min else bounds.max).orNull
        (StructField(s"${if (isMin) "min" else "max"}($name)", f.dataType,
          nullable = true), agg)
      }

    def servedFor(paths: Seq[String]): Seq[Option[(StructField, Any)]] =
      aggregation.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some((StructField("count(*)", LongType, nullable = false),
            liveRows(paths)))
        case c: Count if !c.isDistinct && !dvActive =>
          for {
            name <- colName(c.column())
            _ <- field(name)
            nulls <- Some(paths.map(pathStats)
              .map(_.col(colKey(name)).flatMap(_.nullCount)))
            if nulls.forall(_.isDefined)
          } yield (StructField(s"count($name)", LongType, nullable = false),
            paths.map(pathStats(_).rowCount).sum - nulls.flatten.sum)
        case m: Min if !dvActive => bound(paths, m.column(), isMin = true)
        case m: Max if !dvActive => bound(paths, m.column(), isMin = false)
        case _ => None
      }

    // group columns lead the served schema: Spark maps the scan output
    // positionally as groupBy attributes ++ aggregate columns. A GROUP
    // whose every stored row is vector-deleted has ZERO live rows — in
    // SQL it does not exist, so its row must be dropped (the ungrouped
    // fold keeps its single row: a global count over an empty table IS 0)
    val perGroup: Seq[(Seq[Any], Seq[(StructField, Any)])] = groups.flatMap {
      case (key, paths) =>
        if (groupFields.nonEmpty && liveRows(paths) == 0L) None
        else {
          val served = servedFor(paths)
          if (served.exists(_.isEmpty)) return None
          Some((key, served.flatten))
        }
    }
    // a grouped aggregate over zero live files serves ZERO rows — the
    // schema still needs every aggregate servable in principle
    val emptyServed = servedFor(Seq.empty)
    if (emptyServed.exists(_.isEmpty)) return None
    val aggFields = perGroup.headOption.map(_._2.map(_._1))
      .getOrElse(emptyServed.flatten.map(_._1))
    val keyFields = groupFields.map(f =>
      StructField(f.name, f.dataType, nullable = true))
    val rows = perGroup.map { case (key, served) =>
      InternalRow.fromSeq(key ++ served.map(_._2))
    }
    Some((StructType(keyFields ++ aggFields), rows.toArray))
  }

  /** The aggregation Spark last offered, with its metadata answer: Spark
    * asks [[supportCompletePushDown]] and then [[pushAggregation]] about
    * the same object, and the fold over every file's stats runs once. */
  private var offered: Option[(org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
    Option[(StructType, Array[InternalRow])])] = None

  private def metadataAnswer(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Option[(StructType, Array[InternalRow])] =
    offered match {
      case Some((a, answer)) if a eq aggregation => answer
      case _ =>
        val answer = servableMetadataAgg(aggregation)
        offered = Some((aggregation, answer))
        answer
    }

  override def supportCompletePushDown(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataAnswer(aggregation).isDefined

  override def pushAggregation(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    metadataAnswer(aggregation).foreach { agg =>
      metadataAgg = Some(agg)
      savedAgg = Some(aggregation)
      aggPushed = true
      return true
    }
    // per-file pre-aggregation counts rows the vectors have deleted —
    // refuse parquet pushdown while any vector is pending (purge restores
    // it); the metadata COUNT(*) above already handled the exact case
    if (dvActive) return false
    aggPushed = inner.pushAggregation(aggregation)
    if (aggPushed) savedAgg = Some(aggregation)
    aggPushed
  }

  /** A replay closure for runtime (join-driven) pruning: rebuilds the
    * scan over a reduced file list — same pushed filters, same pruned
    * schema, same row-index shape; it differs ONLY in files. Captures
    * SNAPSHOT locals, never `this`: a method reference would retain the
    * whole builder (and its materialized per-file index) inside every
    * long-lived scan. */
  private def rebuiltParquet: Seq[String] => org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = {
    val mk = mkBuilder
    val wri = withRowIndex
    val filtersSnap = savedFilters
    val schemaSnap = savedSchema.map(prunedForInner)
    files => {
      val b = mk(files, wri)
      if (filtersSnap.nonEmpty) { b.pushFilters(filtersSnap); () }
      schemaSnap.foreach(b.pruneColumns)
      b.build().asInstanceOf[
        org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
    }
  }

  /** Manifest data skipping: drop files whose log-carried stats prove no
    * row can satisfy some pushed conjunct (see [[graft.core.FileStats]]),
    * then rebuild the parquet scan over the survivors — planning-time
    * file pruning, before any split exists or any footer is opened. The
    * replayed builder sees identical schema/filters/aggregation, so the
    * built scan differs ONLY in its file list; on any replay surprise the
    * un-pruned scan is used (skipping is an optimization, never a
    * correctness dependency). */
  private def statsPrunedBuilder(): Option[
      (org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder, Seq[String])] = {
    if (pathStats.isEmpty || savedFilters.isEmpty) return None
    val deterministic = savedFilters.filter(_.deterministic)
    if (deterministic.isEmpty) return None
    val survivors = allPaths.filter { p =>
      pathStats.get(p) match {
        case None    => true // no stats recorded: never skip
        case Some(s) => deterministic.forall(f => graft.core.FileStats.mayMatch(f, s))
      }
    }
    if (survivors.length == allPaths.length) return None
    val b = mkBuilder(survivors, withRowIndex)
    b.pushFilters(savedFilters)
    savedAgg.foreach { agg =>
      if (!b.pushAggregation(agg)) return None // replay surprise: fall back
    }
    savedSchema.foreach(s => b.pruneColumns(prunedForInner(s)))
    Some((b, survivors))
  }

  /** Log-served DSv2 column statistics for the PLANNED files: distinct
    * count from the union of their HLL sketches ([[graft.core.NdvStats]];
    * a column serves only when EVERY planned file carries its sketch),
    * null count as the exact sum, integral min/max from the skipping
    * bounds. Reaches catalyst `ColumnStat` via `transformV2Stats`, so CBO
    * filter/join estimation runs on log stats alone — no ANALYZE. */
  private def servedColumnStats(planned: Seq[String]): Map[String, ManifestScanBuilder.ServedColStat] = {
    if (planned.isEmpty || !planned.forall(pathStats.contains)) return Map.empty
    val declared = streamSource.map(_._2).getOrElse(return Map.empty)
    val sts = planned.map(pathStats)
    // serving needs EVERY planned file sketched, so a field absent from
    // the first file can never serve — restricting to the first file's
    // sketched fields keeps undeclared tables at O(1) extra planning
    // cost (no per-field × per-file sweep at 10⁵ files)
    val candidates = declared.fields.filter(f =>
      sts.head.col(f.name.toLowerCase(java.util.Locale.ROOT))
        .exists(_.ndvSketch.isDefined))
    if (candidates.isEmpty) return Map.empty
    candidates.iterator.map { f =>
      val key = f.name.toLowerCase(java.util.Locale.ROOT)
      val cols = sts.map(_.col(key))
      val distinct =
        if (cols.forall(_.exists(_.ndvSketch.isDefined)))
          Some(graft.core.NdvStats.mergedDistinctCached(dir, key, planned,
            cols.map(_.get.ndvSketch.get)))
        else None
      val nulls =
        if (cols.forall(_.exists(_.nullCount.isDefined)))
          Some(cols.map(_.get.nullCount.get).sum)
        else None
      val longs = cols.map(_.map(c => (c.min, c.max)))
      val minL = longs.map(_.flatMap(_._1)).map {
        case Some(graft.core.FileStats.LongVal(v)) => Some(v); case _ => None
      }
      val maxL = longs.map(_.flatMap(_._2)).map {
        case Some(graft.core.FileStats.LongVal(v)) => Some(v); case _ => None
      }
      // distribution: serve an equi-height histogram only when EVERY
      // planned file carries the column's grid AND the distinct count
      // served (per-bin ndv is apportioned from it) — a file written
      // before the declaration soundly pauses serving, like the sketches
      // 64 served bins (not the grids' 16): with few equi-height bins a
      // low-mass tail gets absorbed into one wide bin and its range
      // estimate collapses to the bin-uniform assumption; 64 bins keep
      // ~1.5% mass resolution at zero extra marker cost (bin count is a
      // serve-time choice — the stored grids are unchanged)
      val hist =
        if (distinct.isDefined && cols.forall(_.exists(_.hist.isDefined)))
          graft.core.HistStats.mergedEquiHeightCached(dir, key, planned,
            cols.map(_.get.hist.get), bins = 64, ndvTotal = distinct.get)
        else None
      f.name -> ManifestScanBuilder.ServedColStat(
        distinct, nulls,
        if (minL.forall(_.isDefined))
          ManifestScanBuilder.boxBound(minL.flatten.min, f.dataType)
        else None,
        if (maxL.forall(_.isDefined))
          ManifestScanBuilder.boxBound(maxL.flatten.max, f.dataType)
        else None,
        hist)
    }.filter(_._2.distinct.isDefined).toMap // NDV is the payload; serve only sketched cols
  }

  override def build(): Scan = {
    // metadata-only aggregation: one local row per group, no file opened
    metadataAgg.foreach { case (schema, servedRows) =>
      return new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = servedRows
        override def description(): String =
          s"MetadataAggScan(${schema.fieldNames.mkString(", ")})"
      }
    }
    val (chosen, planned) = statsPrunedBuilder().getOrElse((inner, allPaths))
    // exact planned-row cardinality for CBO/AQE, when the log's stats
    // cover every planned file (vacuously exact 0 for a fully pruned or
    // empty scan); deletion-vector cardinalities are in the log, so the
    // count stays EXACT on vectored tables — live rows, not stored rows
    val exactRows: Option[Long] =
      if (planned.forall(pathStats.contains))
        Some(planned.iterator.map { p =>
          pathStats(p).rowCount -
            dvByRel.get(ManifestSparkTable.relOf(dir, p)).map(_.count).getOrElse(0L)
        }.sum)
      else None
    val parquet = chosen.build()
    if (withRowIndex) {
      // the row-address path: vectors applied (and/or `_pos` served) by
      // per-split readers; `readStream.table` keeps working through a
      // vector-blind delegate (the stream serves the APPEND log — rows a
      // later vector deleted were genuinely present when their file was
      // committed, so replaying them is the stream's contract)
      val streamDelegate = streamSource.collect {
        case (sdir, sdecl) if !aggPushed =>
          val plain = mkBuilder(planned, false)
          plain.pushFilters(savedFilters)
          savedSchema.foreach(plain.pruneColumns)
          ManifestStreamScan(plain.build(), sdir, sdecl,
            Option(options.get("start_version")).map(_.toLong).getOrElse(0L),
            exactRows, savedFilters,
            Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
            Option(options.get("maxFilesPerTrigger")).map(_.toLong),
            Option(options.get("maxBytesPerTrigger")).map(_.toLong))(): Scan
      }
      val dataFields = parquet.readSchema().fields
        .filterNot(_.name == DvRead.RowIndexCol)
      val output = StructType(dataFields ++
        (if (needPos) Seq(StructField(DvRead.PosCol, org.apache.spark.sql.types.LongType,
          nullable = false)) else Nil) ++
        (if (needFile) Seq(StructField(FileCol, StringType, nullable = false)) else Nil))
      return RowAddressScan(parquet, dir, dvByRel, needPos, needFile, output,
        exactRows, streamDelegate)(planned, pathStats, Some(rebuiltParquet))
    }
    if (needFile) return FileTagWrapScan(parquet, dir)
    // key-grouped (storage-partitioned) scan: opt-in via the v2 bucketing
    // flag, only when the bucket key survives pruning (the reported
    // expressions must resolve in the scan output) and no aggregate was
    // pushed (agg pushdown re-ids the relation output, after which Spark
    // cannot attach the reported partitioning)
    bucketing match {
      case Some(b)
          if !aggPushed &&
            org.apache.spark.sql.internal.SQLConf.get.getConfString(
              "spark.sql.sources.v2.bucketing.enabled", "false") == "true" &&
            parquet.readDataSchema.fieldNames.contains(b.col) =>
        BucketedManifestScan(parquet, b, exactRows)
      case _ => streamSource match {
        // the plain scan doubles as the streaming source (offset =
        // manifest version); batch behavior is forwarded untouched.
        // start_version seeds a FRESH stream's initial offset (the batch
        // path reads the same option as a bounded incremental scan)
        case Some((dir, declared)) if !aggPushed =>
          // runtime (join-driven) file pruning inputs: the planned file
          // list + its log stats, and the replay closure (rebuiltParquet)
          ManifestStreamScan(parquet, dir, declared,
            Option(options.get("start_version")).map(_.toLong).getOrElse(0L),
            exactRows, savedFilters,
            Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
            Option(options.get("maxFilesPerTrigger")).map(_.toLong),
            Option(options.get("maxBytesPerTrigger")).map(_.toLong),
            servedColumnStats(planned))(planned, pathStats,
            Some(rebuiltParquet))
        case _ => parquet
      }
    }
  }
}

object ManifestScanBuilder {
  /** One column's log-served v2 statistics (see servedColumnStats).
    * `hist` = (rows per bin, (lo, hi, ndv) equi-height bins) merged from
    * the planned files' per-file grids ([[graft.core.HistStats]]). */
  case class ServedColStat(distinct: Option[Long], nulls: Option[Long],
                           minVal: Option[AnyRef], maxVal: Option[AnyRef],
                           hist: Option[(Double, Seq[(Double, Double, Long)])] = None)

  /** Box a footer long bound in the column's CATALYST-INTERNAL shape —
    * transformV2Stats passes v2 min/max objects into `ColumnStat`
    * verbatim, and `FilterEstimation` then casts by the attribute type
    * (Int for int/date, Long for bigint/timestamp, ...): a mis-boxed
    * bound is a planner ClassCastException, not a worse estimate. */
  def boxBound(v: Long, dt: org.apache.spark.sql.types.DataType): Option[AnyRef] = dt match {
    case org.apache.spark.sql.types.ByteType    => Some(java.lang.Byte.valueOf(v.toByte))
    case org.apache.spark.sql.types.ShortType   => Some(java.lang.Short.valueOf(v.toShort))
    case org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.DateType    => Some(java.lang.Integer.valueOf(v.toInt))
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType =>
      Some(java.lang.Long.valueOf(v))
    case _ => None // strings/floats: no long-bound channel to serve
  }
}

/** Storage-partitioned scan of a fully bucketed manifest table: parquet
  * splits are regrouped into one input partition per PRESENT bucket
  * ([[HasPartitionKey]] = the bucket id), and the scan reports
  * `KeyGroupedPartitioning(bucket(n, col))` — joins of co-bucketed tables
  * and key aggregations then plan without a shuffle, and with
  * `spark.sql.sources.v2.bucketing.shuffle.enabled` Spark hashes an
  * UNBUCKETED join side into this bucket space (via the catalog's
  * `bucket` function) instead of exchanging both sides. Reading delegates
  * split-by-split to the parquet reader factory — pushdown, pruning, and
  * vectorization are untouched. */
case class BucketedManifestScan(inner: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
                                b: GraftCatalog.Bucketing,
                                exactRowCount: Option[Long] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = inner.readSchema()
  override def toBatch: Batch = this
  // regrouping splits by bucket changes the partitioning, not the size:
  // keep the parquet scan's statistics (joins against a THIRD, unbucketed
  // table still want broadcast decisions), upgraded with the exact
  // stats-derived row count when the log covers every planned file
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val base = inner.estimateStatistics()
    exactRowCount match {
      case None => base
      case Some(rc) => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = base.sizeInBytes()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(rc)
      }
    }
  }
  override def description(): String =
    s"BucketedManifestScan(bucket(${b.n}, ${b.col}), ${inner.description()})"

  private lazy val bucketGroups: Seq[(Int, Seq[FilePartition])] =
    inner.toBatch.planInputPartitions().toSeq
      .map {
        case fp: FilePartition => fp
        case other => throw new IllegalStateException(
          s"parquet planned a non-file partition: $other")
      }
      // one split may bin-pack files of several buckets: break up per file
      .flatMap(fp => fp.files.map(pf => (pf, fp)))
      .groupBy { case (pf, _) =>
        graft.core.ManifestTable
          .bucketOfFile(pf.filePath.toString.split('/').last)
          .getOrElse(throw new IllegalStateException(
            s"${pf.filePath}: not a bucketed data file"))
      }
      .map { case (bucket, pfs) =>
        (bucket, pfs.zipWithIndex.map { case ((pf, _), i) =>
          FilePartition(i, Array(pf))
        })
      }
      .toSeq.sortBy(_._1)

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(b.n, b.col)),
      bucketGroups.size)

  override def planInputPartitions(): Array[InputPartition] =
    bucketGroups.map { case (bucket, parts) =>
      BucketGroupPartition(bucket, parts.toArray): InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    BucketGroupReaderFactory(inner.toBatch.createReaderFactory())
}

/** All parquet splits of one bucket, keyed by the bucket id. */
case class BucketGroupPartition(bucket: Int, parts: Array[FilePartition])
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
  override def preferredLocations(): Array[String] =
    parts.flatMap(_.preferredLocations()).distinct
}

/** Reads a bucket group by chaining the parquet reader over its splits. */
case class BucketGroupReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val parts = partition.asInstanceOf[BucketGroupPartition].parts
    new PartitionReader[InternalRow] {
      private var i = 0
      private var current: PartitionReader[InternalRow] = _
      override def next(): Boolean = {
        while (true) {
          if (current == null) {
            if (i >= parts.length) return false
            current = inner.createReader(parts(i)); i += 1
          }
          if (current.next()) return true
          current.close(); current = null
        }
        false // unreachable
      }
      override def get(): InternalRow = current.get()
      override def close(): Unit = if (current != null) current.close()
    }
  }
}

/** Wraps an already-built (pruned, filtered) parquet scan so every row
  * carries its `_file` tag as an appended last column. */
case class FileTagWrapScan(inner: Scan, dir: String) extends Scan with Batch {
  import ManifestRowLevelOperation._
  override def readSchema(): StructType =
    StructType(inner.readSchema().fields :+
      StructField(FileCol, StringType, nullable = false))
  override def toBatch: Batch = this
  override def description(): String = s"FileTagWrap(${inner.description()})"
  override def planInputPartitions(): Array[InputPartition] =
    regroupPerFile(dir, inner.toBatch.planInputPartitions())
  override def createReaderFactory(): PartitionReaderFactory =
    FileTagReaderFactory(inner.toBatch.createReaderFactory())
}

/** A single-file parquet split plus the dir-relative name it came from. */
case class FileTaggedPartition(inner: FilePartition, rel: String)
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Delegates reading to the parquet factory and appends the `_file` tag
  * as a partition-constant last column. */
case class FileTagReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FileTaggedPartition]
    val reader = inner.createReader(p.inner)
    val tag = new GenericInternalRow(Array[Any](UTF8String.fromString(p.rel)))
    val joined = new JoinedRow
    new PartitionReader[InternalRow] {
      override def next(): Boolean = reader.next()
      override def get(): InternalRow = joined(reader.get(), tag)
      override def close(): Unit = reader.close()
    }
  }
}

/** The replace-data write: tasks write parquet into one fresh pool; the
  * job commit swaps the scanned files for the written ones in a single
  * optimistic manifest commit. On a BUCKETED table the write declares the
  * bucket distribution (clustered by the key into exactly n partitions,
  * so the partition index is the bucket id) and stages into a bucketed
  * pool — DML keeps the table storage-partitioned. */
class ManifestReplaceWrite(op: ManifestRowLevelOperation, dir: String,
                           schema: StructType,
                           bucketing: Option[GraftCatalog.Bucketing] = None,
                           cluster: Seq[GraftCatalog.ClusterKey] = Nil)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  private val poolName = bucketing match {
    case Some(b) => s"d-bucketed-${b.n}-${UUID.randomUUID()}"
    case None    => "d-" + UUID.randomUUID().toString
  }

  private def clusterSortOrders: Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    cluster.map { k =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(k.col),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    }.toArray

  override def requiredDistribution: org.apache.spark.sql.connector.distributions.Distribution =
    bucketing match {
      case Some(b) => org.apache.spark.sql.connector.distributions.Distributions
        .clustered(Array(org.apache.spark.sql.connector.expressions.Expressions.identity(b.col)))
      case None if cluster.nonEmpty =>
        // transform-partitioned tables: the DML rewrite range-partitions
        // + sorts on the partition source columns, so rewritten files
        // keep narrow disjoint bounds and partition pruning survives DML
        org.apache.spark.sql.connector.distributions.Distributions
          .ordered(clusterSortOrders)
      case None => org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    }
  override def requiredNumPartitions(): Int = bucketing.map(_.n).getOrElse(0)
  override def requiredOrdering: Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (bucketing.isEmpty && cluster.nonEmpty) clusterSortOrders else Array.empty

  override def toBatch: BatchWrite = this
  override def description(): String = s"ManifestReplaceWrite($dir/$poolName)"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    val (owf, conf) = ManifestPoolWriter.prepare(spark, schema,
      GraftCatalog.bloomWriteOptions(op.bloomColumns))
    // CHECK constraints: every rewritten row (survivors + updated/merged)
    // re-validates in the task writer — the same contract Delta's
    // CheckInvariant enforces on CoW DML output
    ManifestPoolWriterFactory(owf, s"$dir/$poolName", schema, conf,
      Constraints.rowChecker(spark, schema, op.checkList))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val added = messages
      .collect { case PoolFileCommit(Some(name)) => s"$poolName/$name" }
      .toSeq.sorted
    op.branchName.foreach(ManifestTable.requireBranchIntact(dir, _))
    ManifestTable.commitRewrite(op.logDir, removed = op.scannedFiles,
      added = added, expectedDvs = Some(op.snapshotState.dvs),
      dataDir = Some(dir), ndvCols = op.ndvColumns)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = graft.core.LakeStorage.openFor(dir)
    fs.delete(new Path(dir, poolName), true)
    ()
  }
}
