package graft.catalog

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.core.{DeletionVectors, LakeStorage, ManifestPoolWriter, ManifestTable, PoolFileCommit}

/** MERGE-ON-READ row-level DML (`'graft.dml.mode' = 'merge-on-read'`
  * tables): instead of rewriting every file that holds an affected row
  * (the copy-on-write plan of [[ManifestRowLevelOperation]]), the
  * operation reports a stable per-row id — `(_file, _pos)` — and Spark
  * plans a DELTA write that streams the matched row ids back. Deletes
  * become DELETION VECTORS (a position sidecar per touched file, see
  * [[graft.core.DeletionVectors]]); UPDATE/MERGE re-insert their changed
  * rows as ordinary new data files in the same commit. A DELETE touching
  * one row of a 100 TB table therefore writes a few-hundred-byte vector
  * and one marker — no data file is rewritten; `purge_deletes`/`compact`
  * collect the read-side debt later.
  *
  * The scan half reuses the pinned-snapshot per-file planning of the
  * copy-on-write scan (runtime group filtering on `_file` narrows it to
  * affected files) but serves `_pos` from Spark's parquet row-index
  * machinery and applies the snapshot's EXISTING vectors, so re-deleting
  * an already-deleted row is impossible. The write half clusters rows by
  * `_file` (one task owns all of a file's deletes), merges each file's
  * new positions with its existing vector EXECUTOR-side, and commits all
  * vectors plus any insert files as ONE optimistic
  * [[ManifestTable.commitDeleteVectors]] — which aborts if a concurrent
  * writer removed or re-vectored a targeted file (stale scan). */
class ManifestDeltaOperation(dir: String, declared: StructType, cmd: Command,
                             branch: Option[String] = None,
                             bloomCols: Seq[String] = Nil,
                             ndvCols: Seq[String] = Nil,
                             checks: Seq[Constraints.Check] = Nil)
    extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  import ManifestRowLevelOperation.FileCol

  private[catalog] def bloomColumns: Seq[String] = bloomCols
  private[catalog] def ndvColumns: Seq[String] = ndvCols
  private[catalog] def branchName: Option[String] = branch
  private[catalog] def checkList: Seq[Constraints.Check] = checks

  /** Marker log the DML resolves against and commits to (the branch
    * sidecar log under WAP; data pools stay under `dir` either way). */
  private[catalog] val logDir: String =
    branch.map(b => ManifestTable.branchLogDir(dir, b)).getOrElse(dir)

  /** Snapshot pinned at analysis — scan, vector merge, and commit
    * validation all key off this state. */
  private[catalog] val snapshotState: ManifestTable.TableState =
    ManifestTable.currentVersion(logDir)
      .map(ManifestTable.state(logDir, _))
      .getOrElse(ManifestTable.TableState(Seq.empty, Map.empty, Map.empty))

  override def command(): Command = cmd

  /** Order matters: the delta scan exposes no column pruning, so Spark
    * binds its rows POSITIONALLY to `tableColumns ++ rowId` — and the
    * physical row layout is `[declared..., _pos, _file]` (the parquet
    * row-index column sits last among data columns, the `_file` tag is
    * appended after it). */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(DvRead.PosCol), Expressions.column(FileCol))

  /** UPDATE/MERGE-update arrive as delete(old id) + insert(new row) —
    * the natural shape for vectors (delete the position, append the
    * replacement). */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    GraftCatalog.requireFieldIdReads(declared, s"delta($dir)")
    new ManifestDeltaScanBuilder(this, dir, declared)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new ManifestDeltaWrite(
        ManifestDeltaOperation.this, dir,
        GraftCatalog.stampFieldIds(info.schema(), declared),
        info.rowIdSchema().orElse(null))
    }

  override def description(): String = s"ManifestDeltaOperation($cmd, $dir)"
}

/** Builder for the delta DML read. Unlike the copy-on-write scan (which
  * must hand the write FULL rows, so pruning/pushdown buy nothing), the
  * delta scan's consumers are projections over (condition columns ∪ row
  * id ∪ assignment inputs) — a selective DELETE therefore reads ONLY its
  * condition columns plus row addresses, with the condition pushed to
  * parquet (row-group/page skipping stays position-correct thanks to the
  * row-index machinery) and stats-listed files that cannot match pruned
  * at plan time. UPDATE/MERGE naturally request every column and degrade
  * to the full read. */
class ManifestDeltaScanBuilder(op: ManifestDeltaOperation, dir: String,
                               declared: StructType)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  import ManifestRowLevelOperation.FileCol

  private var requested: StructType = declared
  private var savedFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Seq.empty

  private val inner = ManifestFileIndex.scanBuilder(SparkSession.active,
    declared, dir, op.snapshotState.files, op.snapshotState.stats,
    CaseInsensitiveStringMap.empty(), withRowIndex = true)

  override def pushFilters(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    savedFilters = filters
    inner.pushFilters(filters)
  }

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    requested = StructType(requiredSchema.fields
      .filterNot(f => f.name == FileCol || f.name == DvRead.PosCol))
    inner.pruneColumns(DvRead.withRowIndex(requested))
  }

  override def build(): Scan =
    new ManifestDeltaScan(op, dir, declared, requested, savedFilters)
}

/** The delta DML read: the pinned snapshot with existing vectors applied,
  * every row carrying its `(_pos, _file)` id. One partition per file
  * split; runtime group filtering AND the pushed condition's file stats
  * prune whole files before any split is planned. */
class ManifestDeltaScan(op: ManifestDeltaOperation, dir: String,
                        declared: StructType, requested: StructType,
                        pushed: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
    extends Scan with Batch with SupportsRuntimeFiltering {

  import ManifestRowLevelOperation.FileCol

  /** Plan-time data skipping on the DML scan itself: a file whose
    * log-carried stats prove the pushed condition can never be TRUE
    * holds no affected rows. (The vector commit only targets files the
    * scan SURFACED, so skipped files are simply never touched.) */
  @volatile private var currentFiles: Seq[String] = {
    val deterministic = pushed.filter(_.deterministic)
    if (deterministic.isEmpty) op.snapshotState.files
    else op.snapshotState.files.filter { f =>
      op.snapshotState.stats.get(f) match {
        case None    => true
        case Some(s) => deterministic.forall(graft.core.FileStats.mayMatch(_, s))
      }
    }
  }

  override def readSchema(): StructType =
    StructType(requested.fields :+
      StructField(DvRead.PosCol, LongType, nullable = false) :+
      StructField(FileCol, StringType, nullable = false))
  override def toBatch: Batch = this
  override def description(): String =
    s"ManifestDeltaScan(dir=$dir, files=${currentFiles.size}/${op.snapshotState.files.size}, " +
      s"pushed=${pushed.size})"

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(FileCol))

  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case In(FileCol, values) =>
        val keep = values.map(String.valueOf).toSet
        currentFiles = currentFiles.filter(keep.contains)
      case _ => () // unexpected runtime filters are advisory — ignore
    }

  /** Re-plans the (pruned, filtered) parquet scan over exactly `files` —
    * the same replay ManifestScanBuilder's stats pruning uses. */
  private def innerScan(files: Seq[String]): Scan = {
    val b = ManifestFileIndex.scanBuilder(SparkSession.active, declared, dir,
      files, op.snapshotState.stats, CaseInsensitiveStringMap.empty(),
      withRowIndex = true)
    if (pushed.nonEmpty) { b.pushFilters(pushed); () }
    b.pruneColumns(DvRead.withRowIndex(requested))
    b.build()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    if (currentFiles.isEmpty) return Array.empty
    val dvs = op.snapshotState.dvs
    val relOf = ManifestRowLevelOperation.relNameIn(dir)
    var i = -1
    innerScan(currentFiles).toBatch.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files.map { pf =>
        i += 1
        val rel = relOf(pf.filePath.toString)
        RowAddressPartition(FilePartition(i, Array(pf)), rel,
          drop = dvs.get(rel).map(_.path)): InputPartition
      }
      case other => throw new IllegalStateException(
        s"parquet planned a non-file partition: $other")
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val scan = innerScan(currentFiles)
    RowAddressReaderFactory(scan.toBatch.createReaderFactory(), dir,
      scan.readSchema(), emitPos = true, emitFile = true)
  }
}

/** Per-task result of a delta write: the task's insert file (if it
  * received inserts) and, per touched data file, the REPLACEMENT vector
  * it wrote (already merged with the file's previous vector) and that
  * vector's total position count. */
case class DeltaTaskCommit(insertFile: Option[String],
                           dvs: Map[String, (String, Long)])
    extends WriterCommitMessage

/** The delta write: deletes cluster by `_file` so each task owns its
  * files' vectors; inserts stream through the ordinary pool writer. The
  * job commit is one [[ManifestTable.commitDeleteVectors]]. */
class ManifestDeltaWrite(op: ManifestDeltaOperation, dir: String,
                         writeSchema: StructType, rowIdSchema: StructType)
    extends DeltaWrite with DeltaBatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  private val insertPool = "d-" + UUID.randomUUID().toString
  private val dvPool = DeletionVectors.PoolPrefix + UUID.randomUUID().toString

  override def requiredDistribution: org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.clustered(
      Array(Expressions.identity(ManifestRowLevelOperation.FileCol)))
  override def requiredNumPartitions(): Int = 0
  override def requiredOrdering: Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty

  override def toBatch: DeltaBatchWrite = this
  override def description(): String = s"ManifestDeltaWrite($dir/$dvPool)"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val spark = SparkSession.active
    val (owf, conf) = ManifestPoolWriter.prepare(spark, writeSchema,
      GraftCatalog.bloomWriteOptions(op.bloomColumns))
    // CHECK constraints bind to the INSERT row shape (writeSchema): a
    // merge-on-read DML's freshly-inserted and updated rows re-validate.
    // A delete-only plan has an EMPTY write schema (it only vectors
    // existing rows, insert() is never called) — nothing to check there
    val checker =
      if (writeSchema.isEmpty) None
      else Constraints.rowChecker(spark, writeSchema, op.checkList)
    ManifestDeltaWriterFactory(owf, dir, s"$dir/$insertPool", insertPool,
      dvPool, writeSchema, rowIdSchema,
      op.snapshotState.dvs.map { case (f, ref) => f -> ref.path }, conf, checker)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val commits = messages.collect { case c: DeltaTaskCommit => c }
    val added = commits.flatMap(_.insertFile).map(n => s"$insertPool/$n").toSeq.sorted
    // clustering on _file makes one task per file the normal case; a
    // plan that did not honor it still commits correctly — colliding
    // fragments are merged here (driver-side, rare)
    val fs = LakeStorage.openFor(dir)
    val merged = scala.collection.mutable.Map.empty[String, (String, Long)]
    commits.flatMap(_.dvs).foreach { case (rel, (dvName, count)) =>
      merged.get(rel) match {
        case None => merged(rel) = (dvName, count)
        case Some((otherName, _)) =>
          val union = DeletionVectors.merge(
            DeletionVectors.read(fs, dir, otherName),
            DeletionVectors.read(fs, dir, dvName))
          val name = s"$dvPool/merged-${UUID.randomUUID()}.dv"
          DeletionVectors.write(fs, dir, name, union)
          merged(rel) = (name, union.length.toLong)
      }
    }
    if (merged.isEmpty && added.isEmpty) return // no-op DML matched nothing
    val dvRefs = merged.toMap.map { case (rel, (name, n)) =>
      rel -> DeletionVectors.DvRef(name, n)
    }
    val expected = dvRefs.keysIterator
      .map(f => f -> op.snapshotState.dvs.get(f).map(_.path)).toMap
    op.branchName.foreach(ManifestTable.requireBranchIntact(dir, _))
    ManifestTable.commitDeleteVectors(op.logDir, dvRefs, added, expected,
      dataDir = Some(dir), ndvCols = op.ndvColumns)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = LakeStorage.openFor(dir)
    fs.delete(new Path(dir, insertPool), true)
    fs.delete(new Path(dir, dvPool), true)
    ()
  }
}

case class ManifestDeltaWriterFactory(owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
                                      dir: String, insertPoolPath: String,
                                      insertPool: String, dvPool: String,
                                      writeSchema: StructType,
                                      rowIdSchema: StructType,
                                      existingDvs: Map[String, String],
                                      conf: SerializableConfiguration,
                                      checker: Option[Constraints.RowChecker] = None)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new ManifestDeltaTaskWriter(this, partitionId, taskId)
}

/** One task's delta writer: buffers deleted positions per file, writes
  * each file's REPLACEMENT vector (existing ∪ new positions) on commit,
  * and lazily opens one parquet pool file for inserts. */
class ManifestDeltaTaskWriter(f: ManifestDeltaWriterFactory,
                              partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val fileOrd = f.rowIdSchema.fieldIndex(ManifestRowLevelOperation.FileCol)
  private val posOrd = f.rowIdSchema.fieldIndex(DvRead.PosCol)

  private val deletes =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
  private var insertWriter: ManifestPoolWriter = _

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val rel = id.getUTF8String(fileOrd).toString
    deletes.getOrElseUpdate(rel, scala.collection.mutable.ArrayBuffer.empty) +=
      id.getLong(posOrd)
    ()
  }

  override def insert(row: InternalRow): Unit = {
    if (insertWriter == null)
      insertWriter = new ManifestPoolWriter(f.owf, f.insertPoolPath,
        f.writeSchema, f.conf, partitionId, taskId, f.checker)
    insertWriter.write(row)
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    // defensive: representUpdateAsDeleteAndInsert routes updates through
    // delete+insert, but honor a direct update the same way
    delete(metadata, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    val insertMsg = Option(insertWriter).map(_.commit()).collect {
      case PoolFileCommit(Some(name)) => name
    }
    val conf = f.conf.value
    val fs = LakeStorage.openFor(new Path(f.dir), conf)
    val dvs = deletes.iterator.map { case (rel, buf) =>
      val fresh = buf.toArray.sorted.distinct
      val merged = f.existingDvs.get(rel) match {
        case Some(prev) => DeletionVectors.merge(DvRead.positions(f.dir, prev, conf), fresh)
        case None       => fresh
      }
      val safeName = rel.replace('/', '_')
      val name = f"${f.dvPool}/$safeName-$partitionId%05d-$taskId.dv"
      DeletionVectors.write(fs, f.dir, name, merged)
      rel -> (name, merged.length.toLong)
    }.toMap
    DeltaTaskCommit(insertMsg, dvs)
  }

  override def abort(): Unit =
    if (insertWriter != null) insertWriter.abort()

  override def close(): Unit =
    if (insertWriter != null) insertWriter.close()
}
