package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

import graft.core.LakeStorage

/** Row-level DML (UPDATE / MERGE / arbitrary-predicate DELETE) for the
  * keyed-log connector — group-based COPY-ON-WRITE at FILE granularity,
  * the same DSv2 contract the manifest format implements
  * ([[graft.catalog.ManifestRowLevelOperation]]), re-expressed for a
  * journal-backed text format:
  *
  *  - the SCAN pins the live file set at operation start (journal-resolved
  *    — [[KeyedLogSource.readerNames]]), plans one split per file, and
  *    tags every row with its source file name (`_klfile`, the group
  *    identity). Spark's runtime group filtering
  *    ([[SupportsRuntimeFiltering]] on `_klfile`) first runs the
  *    command's condition to find MATCHED files, then re-plans the scan
  *    over only those — unmatched files are never read twice and never
  *    rewritten. The scan deliberately pushes NO data filters: a
  *    group-based rewrite must re-emit EVERY row of an affected file
  *    (survivors included), so row filtering would silently drop them.
  *  - the WRITE stages replacement files under dot-prefixed (hidden)
  *    names via the normal task-commit rename protocol — bucket-declared
  *    tables stage through the CLUSTERED writer so rewritten files keep
  *    their `-K=` tags and storage-partitioned reads survive DML — then
  *    the job commit swaps SNAPSHOT-style: (1) REVEAL the staged files
  *    under their final names (new, unique — still invisible to
  *    journal-resolved readers), (2) JOURNAL one rebased rewrite entry
  *    (live minus replaced plus revealed, rm/ad recorded for the changes
  *    feed), (3) HIDE the replaced originals as `.rm-v<version>-`
  *    tombstones — the feed's delete pre-images, aged out by the vacuum
  *    orphan sweep.
  *
  * Isolation contract: readers resolve their file set from the journal
  * ([[KeyedLogVersionLog.liveSet]]), so a reader racing the commit sees
  * either the complete pre-swap snapshot (entry not yet landed; originals
  * still on disk) or the complete post-swap one — never missing rows,
  * never duplicates. A crash BEFORE the journal entry lands leaves the
  * table untouched (originals intact; revealed/staged output is
  * journal-invisible and [[KeyedLogReplaceWrite.abort]] removes it); a
  * crash AFTER leaves a committed swap plus tombstone work the next
  * maintenance pass sweeps. The one residual: a reader that PLANNED
  * pre-swap and opens a tombstoned file after the swap fails loudly
  * (the pre-image moved) — the manifest format retains replaced pools
  * until vacuum and does not share this window. */
class KeyedLogRowLevelOperation(path: String, bucketN: Option[Int],
                                cmd: Command,
                                declared: org.apache.spark.sql.types.StructType =
                                  KeyedLogSource.schema) extends RowLevelOperation {
  import KeyedLogRowLevelOperation._

  private[sources] val conf = LakeStorage.taskConf()

  /** Live file NAMES pinned when the DML statement starts analysis —
    * scan and commit agree on this base (journal-resolved; listing on
    * pre-journal dirs). */
  private[sources] val snapshot: Seq[String] =
    KeyedLogSource.readerFiles(path, conf).map(f => new Path(f).getName).sorted

  /** What the commit replaces: narrowed by the scan's runtime group
    * filter, defaulting to the full snapshot (driver-side only). */
  @volatile private[sources] var scannedFiles: Seq[String] = snapshot

  override def command(): Command = cmd

  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new KeyedLogRowLevelScan(this, path, declared)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        val expected = declared
        // names AND types, not names alone — a type-mismatched plan must
        // fail here, not corrupt lines in the task writers
        require(info.schema().fieldNames.sameElements(expected.fieldNames) &&
            DataType.equalsStructurally(info.schema(), expected, ignoreNullability = true),
          s"keyed_log rewrite schema must be ${expected.simpleString}; got " +
            info.schema().simpleString)
        // rewrites keep the layout they found: bucket-declared tables and
        // fully key-clustered dirs re-cluster (storage-partitioned reads
        // survive DML); plain dirs rewrite plain
        val clustered = bucketN.isDefined || (snapshot.nonEmpty &&
          snapshot.forall(n => KeyedLogSource.keyOfFile(n).isDefined))
        new KeyedLogReplaceWrite(KeyedLogRowLevelOperation.this, path,
          info.queryId(), clustered,
          declared.fields.drop(KeyedLogSource.schema.length).map(_.dataType).toSeq)
      }
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(FileCol))

  override def description(): String = s"KeyedLogRowLevelOperation($cmd, $path)"
}

object KeyedLogRowLevelOperation {
  /** Metadata column carrying each row's source file NAME (keyed-log
    * dirs are flat, so the name is the identity). */
  val FileCol = "_klfile"

  /** Hidden-name prefix for staged rewrite output (dot = reader-invisible). */
  private[sources] def stagePrefix(queryId: String): String = s".rl-$queryId-"
}

/** The row-level read: one split per pinned snapshot file, rows tagged
  * with `_klfile`. No data-filter pushdown BY DESIGN (see the class doc
  * above); runtime group filtering narrows both the planned splits and
  * the operation's replace set. */
class KeyedLogRowLevelScan(op: KeyedLogRowLevelOperation, path: String,
    declared: StructType = KeyedLogSource.schema)
    extends ScanBuilder with Scan with Batch
    with SupportsPushDownRequiredColumns with SupportsRuntimeFiltering {
  import KeyedLogRowLevelOperation._

  private val fullSchema = StructType(declared.fields :+
    StructField(FileCol, StringType, nullable = false))
  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = this

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"KeyedLogRowLevelScan path=$path files=${op.scannedFiles.length}"

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(FileCol))

  /** Runtime GROUP filter: Spark runs the command's condition first and
    * hands back the matched `_klfile` set — narrow both the scan and the
    * files the commit will replace. Unsupported shapes leave the full
    * snapshot in place (correct, just a broader rewrite). */
  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case In(FileCol, values) =>
        val keep = values.collect { case s: String => s }.toSet
        op.scannedFiles = op.scannedFiles.filter(keep.contains)
      case _ => ()
    }

  override def planInputPartitions(): Array[InputPartition] =
    op.scannedFiles.map(n =>
      KeyedLogPartition(Seq(new Path(path, n).toString)): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    // pushed = empty: every row of a planned file must reach the rewrite
    KeyedLogReaderFactory(required, Array.empty, op.conf)
}

/** The replace-data write: tasks stage hidden `.rl-` files through the
  * normal replace-on-retry rename protocol; the job commit swaps them in
  * (reveal staged → journal one rebased rewrite entry → tombstone the
  * replaced originals; see [[KeyedLogRowLevelOperation]]'s isolation
  * contract). A zero-matched-rows command (nothing scanned, nothing
  * staged) commits NOTHING — no journal entry, so incremental cursors
  * never see a phantom full-table rewrite for a no-op; an inserts-only
  * MERGE (rows staged, no file replaced) journals a PLAIN append entry. */
class KeyedLogReplaceWrite(op: KeyedLogRowLevelOperation, path: String,
                           queryId: String, clustered: Boolean,
                           extras: Seq[org.apache.spark.sql.types.DataType] = Nil)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import KeyedLogRowLevelOperation.stagePrefix

  override def requiredDistribution: org.apache.spark.sql.connector.distributions.Distribution =
    if (clustered) KeyedLogSource.clusteredDistribution
    else org.apache.spark.sql.connector.distributions.Distributions.unspecified()
  override def requiredOrdering: Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (clustered) KeyedLogSource.clusteredOrdering else Array.empty

  override def toBatch: BatchWrite = this
  override def description(): String = s"KeyedLogReplaceWrite($path)"

  /** True once the swap's journal entry landed: from that moment the
    * revealed files ARE the table's live data, so [[abort]] must leave
    * everything in place (the swap is durable; only tombstone cleanup
    * can still be pending, and the orphan sweep owns that). */
  @volatile private var journaled = false
  /** Final names revealed so far — a pre-journal abort removes these
    * (journal-invisible, but a listing-based consumer such as a fresh
    * stream would otherwise pick them up). */
  @volatile private var revealedNames: Seq[String] = Nil

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    if (clustered)
      KeyedLogClusteredWriterFactory(path, queryId, op.conf, stagePrefix(queryId),
        extras)
    else KeyedLogWriterFactory(path, queryId, op.conf, stagePrefix(queryId), extras)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = LakeStorage.openFor(path, op.conf.value)
    val cms = messages.toSeq.collect { case c: KeyedLogCommit => c }
    val staged = cms.flatMap(_.fileNames).sorted
    val prefix = stagePrefix(queryId)
    // writer stats arrive keyed by STAGED name; the journal must carry
    // them under the revealed (final) names
    val revealedStats = cms.iterator.flatMap(_.stats)
      .map { case (n, st) => n.stripPrefix(prefix) -> st }.toMap
    // zero matched rows AND zero output: a true no-op — journaling a
    // rewrite here would make every incremental cursor re-deliver the
    // whole table for nothing
    if (op.scannedFiles.isEmpty && staged.isEmpty) return
    // 0. a destructive swap on a journal-LESS dir first journals a
    //    GENESIS anchor (the current listed live set, as a rewrite):
    //    from here every consumer resolves from the journal, so the
    //    reveal below is invisible until the swap's entry lands — on a
    //    listing-read dir a crash between reveal and journal would
    //    otherwise leave originals AND replacements both visible
    //    (duplicate rows, unsweepable: the leftovers aren't dot-files)
    if (op.scannedFiles.nonEmpty &&
        KeyedLogVersionLog.head(path, op.conf).isEmpty)
      KeyedLogVersionLog.commit(path, op.conf,
        KeyedLogSource.listDataFiles(path, op.conf)
          .map(f => new Path(f).getName).toSeq, rewrite = true)
    // 1. REVEAL the staged replacements under their final (new, unique)
    //    names — still invisible to journal-resolved readers. Revealed
    //    names accumulate AS THEY LAND so a mid-reveal failure leaves
    //    them visible to abort()'s cleanup.
    staged.foreach { sn =>
      val dest = new Path(path, sn.stripPrefix(prefix))
      if (fs.exists(dest) && !fs.delete(dest, false))
        throw new java.io.IOException(
          s"keyed_log($path): rewrite could not replace ${dest.getName}")
      if (!fs.rename(new Path(path, sn), dest))
        throw new java.io.IOException(
          s"keyed_log($path): rewrite reveal rename failed for $sn")
      revealedNames = revealedNames :+ dest.getName
    }
    if (op.scannedFiles.nonEmpty) {
      // 2. JOURNAL the swap (rebased inside the commit loop: concurrent
      //    appends journaled since the scan's snapshot carry over)
      val v = KeyedLogVersionLog.commitRewrite(path, op.conf,
        op.scannedFiles.toSet, revealedNames, stats = revealedStats)
      journaled = true
      // 3. HIDE the replaced originals as version-tagged tombstones —
      //    the changes feed's delete pre-images. Best-effort: the swap
      //    is durable; a failed rename logs the (journal-invisible)
      //    leftover instead of failing a committed operation.
      KeyedLogSource.hideReplaced(path, op.conf, v, op.scannedFiles)
    } else {
      KeyedLogVersionLog.commit(path, op.conf, revealedNames,
        stats = revealedStats)
      journaled = true
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // once the journal entry landed the revealed files are the table's
    // live data — keep everything (the swap is durable)
    if (journaled) return
    // nothing destructive happened yet (originals untouched until after
    // the journal commit): remove staged AND already-revealed output so
    // no journal-invisible garbage is left for listing-based consumers
    val fs = LakeStorage.openFor(path, op.conf.value)
    messages.toSeq.collect { case KeyedLogCommit(names, _) => names }.flatten
      .foreach(n => fs.delete(new Path(path, n), false))
    revealedNames.foreach(n => fs.delete(new Path(path, n), false))
  }
}
