package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileFormat}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{DeletionVectors, LakeStorage}

/** Read-side application of deletion vectors, plus the `_pos` metadata
  * column (a row's parquet-file-absolute index — the row-id half of
  * merge-on-read DML; `_file` is the other half).
  *
  * Row positions come from Spark's own parquet row-index machinery: a
  * read schema containing [[FileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME]]
  * makes both parquet readers emit each row's file-absolute index,
  * CORRECT UNDER ROW-GROUP AND PAGE SKIPPING — a naive per-reader counter
  * would silently mis-number rows the moment a pushed filter skipped a
  * page, deleting the wrong rows ever after. Positions therefore stay
  * valid with full filter pushdown left enabled.
  *
  * A scan over a vectored table plans ONE input partition per parquet
  * split, each tagged with its file's vector path (if any); readers load
  * the vector executor-side (a JVM-wide cache keeps one copy per vector
  * file) and drop matching positions. Vector application is row-based —
  * the price of pending deletes, paid only by files that have them and
  * reclaimed by `purge_deletes`/`compact`. */
object DvRead {

  /** `_pos`: a row's file-absolute index — with `_file`, the stable row
    * id merge-on-read DML deletes by. */
  val PosCol = "_pos"

  private[catalog] val RowIndexCol: String =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME

  // NULLABLE on purpose: the parquet readers treat the (file-absent)
  // column as an allowed missing column and then the row-index generator
  // fills it — a non-nullable field fails the vectorized reader's
  // required-column check before the generator ever runs
  private[catalog] val RowIndexField: StructField =
    StructField(RowIndexCol, LongType, nullable = true)

  /** `schema` plus the row-index column the parquet readers populate. */
  private[catalog] def withRowIndex(schema: StructType): StructType =
    StructType(schema.fields :+ RowIndexField)

  // one decoded vector per (dir, path) per executor JVM; vectors are
  // metadata-sized, and the crude full-clear bound just stops a
  // long-lived executor scanning MANY tables from accumulating forever
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  /** The positions of the vector at `dvPath`, read with `conf` (the conf
    * the caller's plan shipped) on a cache miss. */
  private[catalog] def positions(dir: String, dvPath: String, conf: Configuration): Array[Long] = {
    val key = s"$dir $dvPath"
    val hit = cache.get(key)
    if (hit != null) return hit
    val loaded = DeletionVectors.read(LakeStorage.openFor(new Path(dir), conf), dir, dvPath)
    if (cache.size > 64) cache.clear()
    cache.put(key, loaded)
    loaded
  }
}

/** One parquet split plus its row-address context: the file's
  * dir-relative name (the `_file` tag / DML group id) and its position
  * filter — `drop` subtracts a vector's positions (the live-row read);
  * `keepOnly`/`keepExclude` serve ONLY `keepOnly`'s positions minus
  * `keepExclude`'s (the change feed's delete pre-images: rows a window's
  * vector newly killed). */
case class RowAddressPartition(inner: FilePartition, rel: String,
                               drop: Option[String] = None,
                               keepOnly: Option[String] = None,
                               keepExclude: Option[String] = None)
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Wraps an already-built parquet scan (whose read schema ends with the
  * row-index column) so rows are served with deletion vectors applied
  * and, on request, `_pos` / `_file` appended. `output` is the EXACT
  * schema the plan expects — the row-index column is hidden by a
  * zero-copy projection unless `_pos` surfaces it. */
case class RowAddressScan(inner: ParquetScan, dir: String,
                          dvByRel: Map[String, DeletionVectors.DvRef],
                          emitPos: Boolean, emitFile: Boolean,
                          output: StructType,
                          exactRowCount: Option[Long],
                          streamDelegate: Option[Scan] = None)
                         // second parameter list: runtime-pruning inputs,
                         // EXCLUDED from case-class equality (see
                         // ManifestStreamScan for the same pattern)
                         (val plannedFiles: Seq[String] = Seq.empty,
                          val pathStats: Map[String, graft.core.FileStats.Stats] = Map.empty,
                          val rebuildScan: Option[Seq[String] => ParquetScan] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.internal.connector.SupportsMetadata {

  override def readSchema(): StructType = output
  override def toBatch: Batch = this
  override def description(): String =
    s"RowAddressScan(dvFiles=${dvByRel.size}, ${inner.description()})"

  // Runtime (join-driven) pruning on the VECTORED read path — the same
  // two levels as ManifestStreamScan: drop every planned file the log's
  // stats exclude for the runtime keys (stored-row bounds are a superset
  // of live rows, so pruning stays sound under vectors), re-push the keys
  // into the survivors' parquet pushdown. Pruned files simply never look
  // up their vector.
  @volatile private[graft] var runtimeScan: ParquetScan = inner
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    inner.readDataSchema.fieldNames.filterNot(_ == DvRead.RowIndexCol)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val readable = inner.readDataSchema.fieldNames
      .filterNot(_ == DvRead.RowIndexCol)
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    RuntimePruning(inner, plannedFiles, pathStats, rebuildScan, output,
      readable, filters).foreach(runtimeScan = _)
  }

  // EXPLAIN evidence (PushedFilters / ReadSchema) forwarded from parquet
  override def getMetaData(): Map[String, String] =
    inner.getMetaData() + ("DeletionVectors" -> dvByRel.size.toString)

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

  /** A stream reading this table ignores vectors by design (the stream
    * IS the append log — see ManifestStreamScan); the delegate serves
    * `readStream.table` when the batch path is vector-aware. */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    streamDelegate match {
      case Some(s) => s.toMicroBatchStream(checkpointLocation)
      case None    => super.toMicroBatchStream(checkpointLocation)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    // planned paths are fully qualified (the log-served file index
    // qualifies them); manifest keys are dir-relative — strip the
    // qualified root, never guess at path depth (adopted files can sit
    // at any depth under the root)
    val relOf = ManifestRowLevelOperation.relNameIn(dir)
    var i = -1
    runtimeScan.toBatch.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files.map { pf =>
        i += 1
        // relNameIn fails LOUDLY on a path that doesn't resolve under the
        // table root — a silent depth guess here would skip the file's
        // deletion vector and resurrect deleted rows
        val rel = relOf(pf.filePath.toString)
        RowAddressPartition(FilePartition(i, Array(pf)), rel,
          dvByRel.get(rel).map(_.path)): InputPartition
      }
      case other => throw new IllegalStateException(
        s"parquet planned a non-file partition: $other")
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // surfacing `_pos` renames the row-index column IN PLACE (zero-copy),
    // which is only sound while it sits exactly where `_pos` sits in the
    // output — last among the data columns (the builder constructs the
    // data schema that way; this guards against a refactor breaking it)
    require(!emitPos ||
        inner.readSchema().fields.last.name == DvRead.RowIndexCol,
      s"row-index column must be last in ${inner.readSchema().fieldNames.mkString(",")}")
    RowAddressReaderFactory(runtimeScan.toBatch.createReaderFactory(), dir,
      runtimeScan.readSchema(), emitPos, emitFile)
  }
}

/** Delegates to the parquet reader factory; drops vectored positions,
  * hides the row-index column (unless `_pos` keeps it), appends the
  * `_file` tag. */
case class RowAddressReaderFactory(inner: PartitionReaderFactory, dir: String,
                                   innerSchema: StructType,
                                   emitPos: Boolean, emitFile: Boolean)
    extends PartitionReaderFactory {

  private val posOrdinal = innerSchema.fieldIndex(DvRead.RowIndexCol)

  // vectors are read with the conf the parquet scan already broadcasts
  // to its readers, never with an executor's default conf
  private def conf: Configuration = inner match {
    case p: ParquetPartitionReaderFactory => p.broadcastedConf.value.value
    case other => throw new IllegalStateException(s"expected a parquet reader factory, got $other")
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RowAddressPartition]
    val reader = inner.createReader(p.inner)
    // keep-only mode (change-feed pre-images) precomputes the accept set;
    // drop mode (live reads) keeps the reject set — both sorted arrays
    val (accept: Option[Array[Long]], deleted: Array[Long]) = p.keepOnly match {
      case Some(keep) =>
        val kept = DvRead.positions(dir, keep, conf)
        val excl = p.keepExclude.map(DvRead.positions(dir, _, conf))
          .getOrElse(Array.emptyLongArray)
        val acc =
          if (excl.isEmpty) kept
          else kept.filter(java.util.Arrays.binarySearch(excl, _) < 0)
        (Some(acc), Array.emptyLongArray)
      case None =>
        (None, p.drop.map(DvRead.positions(dir, _, conf)).getOrElse(Array.emptyLongArray))
    }
    // zero-copy facade hiding the row-index column when _pos is not asked
    val projected: Option[ProjectingInternalRow] =
      if (emitPos) None
      else Some(ProjectingInternalRow(
        StructType(innerSchema.fields.patch(posOrdinal, Nil, 1)),
        innerSchema.indices.filterNot(_ == posOrdinal).toIndexedSeq))
    val tag =
      if (emitFile)
        Some(new GenericInternalRow(Array[Any](UTF8String.fromString(p.rel))))
      else None
    val joined = new JoinedRow
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (reader.next()) {
          val row = reader.get()
          val pos = row.getLong(posOrdinal)
          val ok = accept match {
            case Some(acc) => java.util.Arrays.binarySearch(acc, pos) >= 0
            case None => deleted.isEmpty ||
              java.util.Arrays.binarySearch(deleted, pos) < 0
          }
          if (ok) { current = row; return true }
        }
        false
      }
      override def get(): InternalRow = {
        val base = projected match {
          case Some(proj) => proj.project(current); proj
          case None       => current
        }
        tag match {
          case Some(t) => joined(base, t)
          case None    => base
        }
      }
      override def close(): Unit = reader.close()
    }
  }
}
