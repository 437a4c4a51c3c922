package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.ManifestTable

/** `t.changes` — FULL change-data-capture over a manifest table's version
  * window, rows tagged `_change_type`:
  *
  * {{{
  *   spark.read.option("start_version", 2)          -- required
  *        .option("end_version", 5)                 -- default: current
  *        .table("cat.db.t.changes")
  * }}}
  *
  * The manifest diff gives the feed at FILE granularity with no side
  * journal: rows of files ADDED in the window are `insert` (post-image),
  * rows of files REMOVED are `delete` (pre-image — the file content is
  * still on disk until vacuum, which is exactly why vacuum keeps a grace
  * version). A copy-on-write DML rewrite therefore emits the affected
  * files' pre-image as deletes and the rewritten files as inserts — the
  * delete+insert pairing downstream MERGE consumers expect from a CDC
  * feed (Delta CDF semantics at file granularity); pure appends emit only
  * inserts. Unchanged files (present in both manifests) emit nothing.
  *
  * Reading is two delegated parquet scans (one per side) whose partitions
  * are tagged and whose rows get the literal column appended — the same
  * JoinedRow wrap the DML `_file` column uses; no data is copied or
  * shuffled to produce the feed. */
class ManifestChangesTable(dir: String, declared: StructType) extends Table with SupportsRead {

  override def name(): String = s"changes($dir)"
  override def schema(): StructType =
    StructType(declared.fields :+
      StructField(ManifestChangesTable.ChangeCol, StringType, nullable = false))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  /** Batch reads want an explicit window (`start_version` required); a
    * STREAM (`spark.readStream.table("cat.db.t.changes")`) seeds its
    * cursor from `start_version` when given, else from version 0 —
    * the first micro-batch then emits the full current snapshot as
    * inserts, and every later batch is that version window's change
    * feed. The batch-side requirement is enforced at plan time so the
    * same scan object can serve either mode. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    GraftCatalog.requireFieldIdReads(declared, name())
    val start = Option(options.get("start_version")).map(_.toLong)
    val end = Option(options.get("end_version")).map(_.toLong)
    val maxV = Option(options.get("maxVersionsPerTrigger")).map(_.toLong)
    val maxF = Option(options.get("maxFilesPerTrigger")).map(_.toLong)
    val maxB = Option(options.get("maxBytesPerTrigger")).map(_.toLong)
    () => ManifestChangesScan(dir, declared, start, end, maxV, maxF, maxB)
  }
}

object ManifestChangesTable {
  val ChangeCol = "_change_type"
}

case class ManifestChangesScan(dir: String, declared: StructType,
                               startVersion: Option[Long], endVersion: Option[Long],
                               maxVersionsPerTrigger: Option[Long] = None,
                               maxFilesPerTrigger: Option[Long] = None,
                               maxBytesPerTrigger: Option[Long] = None)
    extends Scan with Batch {

  override def readSchema(): StructType =
    StructType(declared.fields :+
      StructField(ManifestChangesTable.ChangeCol, StringType, nullable = false))
  override def toBatch: Batch = this
  override def description(): String =
    s"ManifestChangesScan($dir, ${startVersion.getOrElse("?")}.." +
      s"${endVersion.getOrElse("current")})"

  override def planInputPartitions(): Array[InputPartition] = {
    val start = startVersion.getOrElse(throw new IllegalArgumentException(
      s"changes($dir): t.changes needs .option(\"start_version\", v)"))
    ManifestTable.resolve(dir, Some(start))
    val end = ManifestTable.resolve(dir, endVersion).get
    require(end >= start,
      s"end_version $end precedes start_version $start")
    ManifestChanges.windowPartitions(dir, declared, start, end)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ManifestChanges.readerFactory(dir, declared)

  /** The change feed as a STREAM: offset = manifest version, each
    * micro-batch = that window's change rows (`_change_type` included) —
    * the Delta "read change feed" streaming mode on the manifest log.
    * A fresh stream seeds from `start_version` (default 0 = the current
    * snapshot arrives as the first batch's inserts). */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ManifestChangesMicroBatchStream(dir, declared, startVersion.getOrElse(0L),
      maxVersionsPerTrigger, maxFilesPerTrigger, maxBytesPerTrigger)
}

object ManifestChanges {

  /** The change rows of the committed window (from, to] as tagged input
    * partitions. `from == 0` means "from empty": the whole `to` snapshot
    * arrives as inserts — what a fresh change stream starts from. */
  def windowPartitions(dir: String, declared: StructType,
                       from: Long, to: Long): Array[InputPartition] = {
    // endpoint states: the end side carries added files' lengths and
    // vectors, the start side the pre-window vectors (what was already
    // dead before the window — never re-emitted)
    val startState =
      if (from <= 0L) ManifestTable.TableState(Seq.empty, Map.empty, Map.empty)
      else ManifestTable.state(dir, from)
    val endState = ManifestTable.state(dir, to)
    // O(window delta) marker replay — neither endpoint snapshot resolves
    // on an all-delta window (ManifestTable.diff)
    val (added, removed) =
      if (from <= 0L) (endState.files, Seq.empty[String])
      else ManifestTable.diff(dir, from, to)

    def parquetScan(paths: Seq[String], withRowIndex: Boolean): Scan =
      ManifestFileIndex.scanBuilder(SparkSession.active, declared, dir, paths,
        endState.stats, CaseInsensitiveStringMap.empty(),
        withRowIndex = withRowIndex).build()

    /** Per-file row-address partitions (the vector-aware sides of the
      * feed): `filters(rel)` supplies each file's position filter. */
    def addressed(paths: Seq[String], tag: String,
        filters: String => RowAddressPartition => RowAddressPartition): Seq[InputPartition] = {
      if (paths.isEmpty) return Seq.empty
      val relOf = ManifestRowLevelOperation.relNameIn(dir)
      var i = -1
      parquetScan(paths, withRowIndex = true).toBatch.planInputPartitions().toSeq.flatMap {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.map { pf =>
            i += 1
            val rel = relOf(pf.filePath.toString)
            val base = RowAddressPartition(
              org.apache.spark.sql.execution.datasources.FilePartition(i, Array(pf)), rel)
            ChangeTaggedPartition(filters(rel)(base), tag): InputPartition
          }
        case other => throw new IllegalStateException(
          s"parquet planned a non-file partition: $other")
      }
    }

    def tagged(paths: Seq[String], tag: String): Seq[InputPartition] =
      if (paths.isEmpty) Seq.empty
      else parquetScan(paths, withRowIndex = false).toBatch.planInputPartitions().toSeq
        .map(p => ChangeTaggedPartition(p, tag): InputPartition)

    // inserts: window-added files, minus rows a vector killed by `end`
    // (added-then-deleted nets out, matching the endpoint row sets)
    val (addedDv, addedPlain) = added.partition(endState.dvs.contains)
    val inserts = tagged(addedPlain, "insert") ++
      addressed(addedDv, "insert", rel => _.copy(drop = endState.dvs.get(rel).map(_.path)))
    // deletes: window-removed files' pre-images, minus rows already dead
    // at `start` (they were never alive in this window)
    val (removedDv, removedPlain) = removed.partition(startState.dvs.contains)
    val deletes = tagged(removedPlain, "delete") ++
      addressed(removedDv, "delete", rel => _.copy(drop = startState.dvs.get(rel).map(_.path)))
    // vector deletes: files live at BOTH endpoints whose vector grew —
    // pre-images of exactly the newly-killed positions
    val survivors = endState.files.toSet -- added
    val vectorKilled = endState.dvs.keys.toSeq.filter { f =>
      survivors.contains(f) &&
        startState.dvs.get(f).map(_.path) != endState.dvs.get(f).map(_.path)
    }.sorted
    val dvDeletes = addressed(vectorKilled, "delete", rel => _.copy(
      keepOnly = endState.dvs.get(rel).map(_.path),
      keepExclude = startState.dvs.get(rel).map(_.path)))
    (inserts ++ deletes ++ dvDeletes).toArray
  }

  /** Two delegate factories: plain parquet rows, and row-address rows
    * (position-filtered, row-index column hidden); both file-agnostic —
    * one factory serves every window/batch. */
  def readerFactory(dir: String, declared: StructType): ChangeTagReaderFactory = {
    def parquetScan(withRowIndex: Boolean): Scan =
      ManifestFileIndex.scanBuilder(SparkSession.active, declared, dir,
        Seq.empty, Map.empty, CaseInsensitiveStringMap.empty(),
        withRowIndex = withRowIndex).build()
    val addressedScan = parquetScan(withRowIndex = true)
    ChangeTagReaderFactory(
      parquetScan(withRowIndex = false).toBatch.createReaderFactory(),
      Some(RowAddressReaderFactory(addressedScan.toBatch.createReaderFactory(),
        dir, addressedScan.readSchema(), emitPos = false, emitFile = false)))
  }
}

/** Micro-batch stream over the change feed: the same version offsets as
  * the plain table stream ([[ManifestMicroBatchStream]]), but each batch
  * serves the window's CHANGE rows — delete pre-images (file removals
  * and deletion-vector growth) included, tagged `_change_type`. The
  * stream a downstream MERGE keeps a replica in sync with. */
class ManifestChangesMicroBatchStream(dir: String, declared: StructType,
                                      startVersion: Long,
                                      maxVersionsPerTrigger: Option[Long] = None,
                                      maxFilesPerTrigger: Option[Long] = None,
                                      maxBytesPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = ManifestVersionOffset(startVersion)
  override def latestOffset(): Offset =
    ManifestVersionOffset(ManifestTable.currentVersion(dir).getOrElse(0L))
  override def deserializeOffset(json: String): Offset =
    ManifestVersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(ManifestTable.currentVersion(dir).getOrElse(0L))
  /** Same version-granular admission control as the plain table stream
    * (`maxVersionsPerTrigger`/`maxFilesPerTrigger` read options): a
    * from-version-0 CDC backfill drains in bounded, checkpointed
    * batches. The file budget counts the window's ADDED files (the
    * dominant read); delete pre-images ride their version. */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val target = availableNowCap.getOrElse(
      ManifestTable.currentVersion(dir).getOrElse(0L))
    val from = start.asInstanceOf[ManifestVersionOffset].v
    ManifestVersionOffset(StreamAdmission.admit(dir, from, target,
      maxVersionsPerTrigger, maxFilesPerTrigger, maxBytesPerTrigger))
  }
  override def reportLatestOffset(): Offset = latestOffset()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ManifestVersionOffset].v
    val to = end.asInstanceOf[ManifestVersionOffset].v
    if (to <= from) return Array.empty
    if (from > 0L) ManifestTable.resolve(dir, Some(from))
    ManifestChanges.windowPartitions(dir, declared, from, to)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ManifestChanges.readerFactory(dir, declared)
}

case class ChangeTaggedPartition(inner: InputPartition, change: String)
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

case class ChangeTagReaderFactory(inner: PartitionReaderFactory,
                                  addressed: Option[RowAddressReaderFactory] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChangeTaggedPartition]
    val reader = p.inner match {
      case ra: RowAddressPartition =>
        addressed.getOrElse(throw new IllegalStateException(
          s"row-addressed change partition $ra routed through a change " +
            "reader built without a RowAddressReaderFactory")).createReader(ra)
      case plain                   => inner.createReader(plain)
    }
    val tag = new GenericInternalRow(Array[Any](UTF8String.fromString(p.change)))
    val joined = new JoinedRow
    new PartitionReader[InternalRow] {
      override def next(): Boolean = reader.next()
      override def get(): InternalRow = joined(reader.get(), tag)
      override def close(): Unit = reader.close()
    }
  }
}
