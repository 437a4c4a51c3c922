package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.core.{LakeStorage, ManifestPoolWriter, ManifestTable, PoolFileCommit}

/** Structured-Streaming sink for manifest tables
  * (`df.writeStream.toTable("catalog.db.t")`): every micro-batch becomes
  * one committed manifest version, so streams land in the same versioned,
  * time-travelable tables batch SQL reads — with EXACTLY-ONCE output.
  *
  * Exactly-once is derived from the manifest itself, no side ledger:
  *  - each epoch stages into the DETERMINISTIC pool
  *    `d-stream-<queryId>-e<epochId>` (queryId is stable across restarts;
  *    task files are staged `.tmp-` and renamed to attempt-independent
  *    names on task commit, so retries replace, never duplicate);
  *  - the epoch commit first checks whether any committed version already
  *    references that pool — a REPLAYED epoch (failure between sink
  *    commit and offset-log write) finds its pool referenced and skips,
  *    turning at-least-once delivery into exactly-once table state.
  *
  * Append mode commits `base ∪ epoch` (delta-only, existing data
  * re-listed); complete/truncate mode commits the epoch as a replacing
  * snapshot. Either way concurrent BATCH writers interleave safely
  * through the optimistic commit loop.
  *
  * The replay check reads every surviving version's manifest, so its
  * cost tracks the RETAINED version count — schedule [[ManifestTable
  * .vacuum]] on long-running streams (which production retention does
  * anyway) to keep it O(retention), not O(stream lifetime).
  *
  * `branch`: continuous write-audit-publish — epoch versions commit to
  * the BRANCH's sidecar log (pools still land in the parent data plane,
  * like every branch write), so a stream stages continuously while main
  * stays untouched until `fast_forward` publishes the audited output.
  * The epoch replay check runs against the branch log, preserving
  * exactly-once across restarts on the branch. */
class ManifestStreamingWrite(dir: String, schema: StructType, queryId: String,
                             truncate: Boolean,
                             bloomCols: Seq[String] = Nil,
                             branch: Option[String] = None,
                             ndvCols: Seq[String] = Nil,
                             checks: Seq[Constraints.Check] = Nil,
                             identity: Seq[IdentityColumns.Spec] = Nil,
                             identitySlab: Long = 1L << 20)
    extends StreamingWrite {

  import ManifestStreamingWrite.poolName

  /** Marker log the epochs commit against: branch sidecar or table root. */
  private val logDir: String =
    branch.map(b => ManifestTable.branchLogDir(dir, b)).getOrElse(dir)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val (owf, conf) = ManifestPoolWriter.prepare(spark, schema,
      GraftCatalog.bloomWriteOptions(bloomCols))
    // CHECK constraints: bound on the driver (needs the analyzer), the
    // codegen'd predicates evaluate per row inside each epoch's task
    // writers — a violating micro-batch fails BEFORE its epoch commits
    ManifestStreamingWriterFactory(owf, dir, queryId, schema, conf,
      Constraints.rowChecker(spark, schema, checks),
      identity, identitySlab)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // a drop_branch/expire_refs racing this stream must fail the epoch
    // LOUDLY — committing would mkdirs a fork-less zombie branch log
    branch.foreach { b =>
      if (!ManifestTable.branchIntact(dir, b))
        throw new IllegalStateException(
          s"streaming epoch $epochId: branch '$b' of $dir was dropped " +
            "mid-stream — stop the stream (or re-create the branch and restart)")
    }
    val pool = poolName(queryId, epochId)
    val prefix = s"$pool/"
    val alreadyCommitted =
      ManifestTable.allReferencedFiles(logDir).exists(_.startsWith(prefix))
    if (alreadyCommitted) return // replayed epoch: table state already has it
    val files = messages
      .collect { case PoolFileCommit(Some(name)) => s"$pool/$name" }
      .toSeq.sorted
    // declared-NDV tables sketch each epoch's files too, so the
    // all-planned-files serving rule survives continuous ingest
    val stats =
      if (ndvCols.isEmpty) None
      else Some(ManifestTable.collectStats(dir, files, ndvCols))
    if (truncate)
      ManifestTable.commitStagedSnapshot(logDir, files, stats, dataDir = Some(dir))
    else if (files.nonEmpty)
      ManifestTable.commitStagedAppend(logDir, files, dataDir = Some(dir),
        stats = stats)
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val pool = poolName(queryId, epochId)
    val prefix = s"$pool/"
    val referenced =
      ManifestTable.allReferencedFiles(logDir).exists(_.startsWith(prefix))
    if (!referenced) { LakeStorage.openFor(dir).delete(new Path(dir, pool), true); () }
  }
}

object ManifestStreamingWrite {
  private[catalog] def poolName(queryId: String, epochId: Long): String =
    s"d-stream-$queryId-e$epochId"
}

case class ManifestStreamingWriterFactory(owf: OutputWriterFactory, dir: String,
    queryId: String, schema: StructType, conf: SerializableConfiguration,
    checker: Option[Constraints.RowChecker] = None,
    identity: Seq[IdentityColumns.Spec] = Nil,
    identitySlab: Long = 1L << 20)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val checked = new ManifestStreamingPoolWriter(owf,
      s"$dir/${ManifestStreamingWrite.poolName(queryId, epochId)}",
      schema, conf, partitionId, taskId, checker)
    // identity fill wraps OUTSIDE the checks: a CHECK may reference the
    // identity column, so it must see the filled value
    if (identity.isEmpty) checked
    else new IdentityEpochFillWriter(checked, schema, identity, dir,
      queryId, epochId, partitionId, identitySlab)
  }
}

/** Streaming identity fill: per-row key assignment from the task's
  * per-(epoch, partition) slab ([[IdentityColumns.reserveEpochSlab]] — a
  * replayed epoch re-reads the same slab base, so regenerated pool files
  * carry byte-identical keys). GENERATED ALWAYS rejects explicit values
  * loudly; BY DEFAULT keeps them (and they burn their ordinal, the batch
  * path's documented quirk). The row rewrite is one codegen'd
  * UnsafeProjection over (input ++ keys) — no copies beyond the
  * projection every writer already implies. */
class IdentityEpochFillWriter(inner: DataWriter[InternalRow],
    schema: StructType, specs: Seq[IdentityColumns.Spec], dir: String,
    queryId: String, epochId: Long, partitionId: Int, slab: Long)
    extends DataWriter[InternalRow] {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
  import org.apache.spark.sql.types._

  private val ordinals = specs.map(sp => schema.fieldIndex(sp.col))
  private val dts = ordinals.map(schema(_).dataType)
  dts.zip(specs).foreach { case (dt, sp) =>
    require(dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType,
      s"identity column ${sp.col}: streaming fill supports integral types, got ${dt.simpleString}")
  }
  // reserved on FIRST row: empty partitions claim no slab
  private lazy val bases = specs.map(sp => IdentityColumns.reserveEpochSlab(
    dir, sp.col, queryId, epochId, partitionId, slab))
  private var n = 0L
  private val keyRow = new GenericInternalRow(specs.length)
  private val joined = new JoinedRow
  private val proj = {
    val exprs = schema.fields.zipWithIndex.map { case (f, i) =>
      ordinals.indexOf(i) match {
        case -1 => BoundReference(i, f.dataType, f.nullable)
        case k  => BoundReference(schema.length + k, f.dataType, f.nullable)
      }
    }
    UnsafeProjection.create(exprs.toIndexedSeq)
  }

  private def asType(dt: DataType, v: Long): Any = dt match {
    case LongType    => v
    case IntegerType => v.toInt
    case ShortType   => v.toShort
    case ByteType    => v.toByte
    case other => throw new IllegalStateException(s"unreachable: $other")
  }

  override def write(row: InternalRow): Unit = {
    if (n >= slab)
      throw new IllegalStateException(
        s"streaming epoch $epochId partition $partitionId exceeded its " +
          s"identity slab of $slab rows — raise spark.graft.identity.epochSlab")
    specs.indices.foreach { k =>
      val sp = specs(k); val i = ordinals(k); val dt = dts(k)
      if (!row.isNullAt(i)) {
        if (!sp.allowExplicit)
          throw new IllegalArgumentException(
            s"identity column ${sp.col} is GENERATED ALWAYS — explicit values " +
              "are rejected on streaming writes too")
        keyRow.update(k, row.get(i, dt))
      } else
        keyRow.update(k, asType(dt, sp.start + sp.step * (bases(k) + n)))
    }
    n += 1
    inner.write(proj(joined(row, keyRow)))
  }

  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

/** Parquet task writer with the staged-rename epoch protocol: stage to an
  * attempt-unique `.tmp-` name, rename to the attempt-INDEPENDENT
  * `part-<partitionId>.parquet` on task commit (replace-on-retry), so an
  * epoch replay regenerates identical pool contents. Lazy open — empty
  * partitions leave no file. */
class ManifestStreamingPoolWriter(owf: OutputWriterFactory, poolPath: String,
    schema: StructType, conf: SerializableConfiguration,
    partitionId: Int, taskId: Long, checker: Option[InternalRow => Unit])
    extends ManifestPoolWriter(owf, poolPath, schema, conf, partitionId, taskId, checker,
      name = Some(f".tmp-part-$partitionId%05d-t$taskId.parquet")) {

  override def commit(): WriterCommitMessage = super.commit() match {
    case PoolFileCommit(Some(tmpName)) =>
      val fs = LakeStorage.openFor(poolPath, conf.value)
      val dest = new Path(poolPath, f"part-$partitionId%05d.parquet")
      if (fs.exists(dest) && !fs.delete(dest, false))
        throw new java.io.IOException(s"manifest stream: could not replace $dest")
      if (!fs.rename(new Path(poolPath, tmpName), dest))
        throw new java.io.IOException(s"manifest stream: rename failed for $tmpName")
      PoolFileCommit(Some(dest.getName))
    case nothing => nothing
  }
}
