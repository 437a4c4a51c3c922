package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.LakeStorage
import graft.sources.{KeyedLogPartition, KeyedLogReaderFactory, KeyedLogSource, KeyedLogVersionLog}

/** `t.changes` for KEYEDLOG tables — the commit-journal CDC feed, rows
  * tagged `_change_type`, window/error contract matching
  * [[ManifestChangesTable]]:
  *
  * {{{
  *   spark.read.option("start_version", 0)          -- required; -1 = from the beginning
  *        .option("end_version", 5)                 -- default: journal head
  *        .table("cat.db.t.changes")
  *
  *   spark.readStream                               -- STREAMING: offset = journal version
  *        .option("start_version", 3)               -- optional seed; default -1 (everything)
  *        .option("maxVersionsPerTrigger", 2)       -- admission control
  *        .option("maxFilesPerTrigger", 16)
  *        .table("cat.db.t.changes")
  * }}}
  *
  * The journal is insert-only except compaction, so the feed has two row
  * kinds: rows of files a normal commit added are `insert` (post-image);
  * a compaction journals the WHOLE post-compaction file set marked as a
  * rewrite, and its rows are tagged `rewrite` — the refresh/upsert event
  * manifest tables express as delete+insert pairs. (A keyedlog compaction
  * swaps the old files away, so their pre-images cannot be served; every
  * surviving row is inside the rewrite's post-image.) Versions BEFORE the
  * last rewrite in the window are superseded by it — their content is a
  * subset of the rewrite rows — so the feed serves the last rewrite plus
  * every later insert, applying the same upsert semantics incremental
  * consumers already get from the windowed scan. A STREAM applies this
  * rule per micro-batch window: versions already emitted by earlier
  * batches stay emitted, and the batch carrying a rewrite emits it as
  * the refresh event the consumer applies.
  *
  * Reading ships each served file as one [[KeyedLogPartition]] through the
  * connector's own reader, wrapped with the same literal-append
  * [[ChangeTagReaderFactory]] the manifest feed uses — no data is copied
  * or shuffled to produce the feed. */
class KeyedLogChangesTable(dir: String,
    declared: StructType = KeyedLogSource.schema)
    extends Table with SupportsRead {

  override def name(): String = s"changes($dir)"
  override def schema(): StructType =
    StructType(declared.fields :+
      StructField(ManifestChangesTable.ChangeCol, StringType, nullable = false))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  /** Batch reads want an explicit window (`start_version` required,
    * enforced at plan time); a STREAM seeds its cursor from
    * `start_version` when given, else -1 (the full journal arrives as
    * the first batches) — the same split the manifest feed makes. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val start = Option(options.get("start_version")).map(_.toLong)
    val end = Option(options.get("end_version")).map(_.toLong)
    val maxV = Option(options.get("maxVersionsPerTrigger")).map(_.toLong)
    val maxF = Option(options.get("maxFilesPerTrigger")).map(_.toLong)
    () => KeyedLogChangesScan(dir, start, end, maxV, maxF, declared)
  }
}

case class KeyedLogChangesScan(dir: String, startVersion: Option[Long],
                               endVersion: Option[Long],
                               maxVersionsPerTrigger: Option[Long] = None,
                               maxFilesPerTrigger: Option[Long] = None,
                               declared: StructType = KeyedLogSource.schema)
    extends Scan with Batch {

  private val conf = LakeStorage.taskConf()

  override def readSchema(): StructType =
    StructType(declared.fields :+
      StructField(ManifestChangesTable.ChangeCol, StringType, nullable = false))
  override def toBatch: Batch = this
  override def description(): String =
    s"KeyedLogChangesScan($dir, ${startVersion.getOrElse("?")}.." +
      s"${endVersion.getOrElse("head")})"

  override def planInputPartitions(): Array[InputPartition] = {
    val start = startVersion.getOrElse(throw new IllegalArgumentException(
      s"changes($dir): t.changes needs .option(\"start_version\", v)"))
    val journaled = KeyedLogVersionLog.versions(dir, conf)
    require(start == -1L || journaled.contains(start),
      s"start_version $start is not journaled under $dir " +
        s"(journaled: ${journaled.mkString(",")}) — compacted past the cursor?")
    val end = endVersion.getOrElse(journaled.lastOption.getOrElse(-1L))
    require(end == -1L || journaled.contains(end),
      s"end_version $end is not journaled under $dir")
    require(end >= start,
      s"end_version $end precedes start_version $start")
    KeyedLogChanges.windowPartitions(dir, conf, start, end)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    KeyedLogChanges.readerFactory(conf, declared)

  /** The journal feed as a STREAM: offset = journal version, each
    * micro-batch = that window's change rows — the keyedlog arm of the
    * manifest change stream (qs16), sharing its offset/AvailableNow/
    * throttle contract. A CDC replica over the document store follows
    * the journal without polling version windows by hand. */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new KeyedLogChangesMicroBatchStream(dir, startVersion.getOrElse(-1L),
      maxVersionsPerTrigger, maxFilesPerTrigger, declared)
}

private[catalog] object KeyedLogChanges {

  /** (version, tag, file names) per served change group of the window
    * (from, to].
    *
    * Entry kinds in the window:
    *  - plain commit → its fresh names tagged `insert` (post-images);
    *  - FULL rewrite (compaction / metadata delete journaled without an
    *    rm set by an older revision) → the whole post-rewrite set tagged
    *    `rewrite`, superseding every earlier version IN THE WINDOW;
    *  - ROW-LEVEL rewrite (rm/ad recorded — UPDATE, MERGE, CoW or
    *    metadata DELETE) → the replaced files' pre-images tagged
    *    `delete` (served from their `.rm-v<version>-` tombstones) plus
    *    the replacement files tagged `insert` — the manifest feed's
    *    delete/insert pair contract at file granularity (survivor rows
    *    of a rewritten file appear in both images; applying delete-then-
    *    insert reproduces the exact post-state). Row-level rewrites do
    *    NOT supersede earlier entries — they touched only their rm set. */
  def served(dir: String,
             conf: org.apache.spark.util.SerializableConfiguration,
             from: Long, to: Long): Seq[(Long, String, Seq[String])] = {
    val committed = KeyedLogVersionLog.versions(dir, conf)
    val window = committed.filter(v => v > from && v <= to)
    val entries = window.map(v => v -> KeyedLogVersionLog.entry(dir, conf, v))
    val tagged = entries.flatMap { case (v, e) =>
      if (!e.rewrite) Seq((v, "insert", e.fresh))
      // rm/ad key PRESENCE marks a row-level rewrite — a rebased no-op
      // (rm=[] ad=[]) serves nothing rather than a phantom whole-table
      // refresh; compaction/pre-field entries (keys absent) supersede
      else if (e.rm.isEmpty && e.ad.isEmpty) Seq((v, "rewrite", e.fresh))
      else Seq((v, "delete", e.rm.getOrElse(Nil)),
        (v, "insert", e.ad.getOrElse(Nil))).filter(_._3.nonEmpty)
    }
    val lastRw = tagged.lastIndexWhere(_._2 == "rewrite")
    if (lastRw < 0) tagged else tagged.drop(lastRw)
  }

  /** The window's change groups resolved to readable files, one
    * [[KeyedLogPartition]] per file, change-tagged. */
  def windowPartitions(dir: String,
                       conf: org.apache.spark.util.SerializableConfiguration,
                       from: Long, to: Long): Array[InputPartition] = {
    // journal window resolved first (in `served`), listing second — same
    // writer-race ordering as the windowed scan. A name missing from the
    // listing is served from its `.rm-` tombstone when a row-level swap
    // kept the pre-image (delete groups resolve there by construction);
    // re-list once (compactor racing the first listing), then fail loudly.
    def listing(): Map[String, String] = KeyedLogSource
      .listDataFiles(dir, conf).map(f => new Path(f).getName -> f).toMap
    var listed = listing()
    var relisted = false
    // ONE tombstone listing for the whole plan, taken lazily on the
    // first miss — per-missing-name listings would make feed planning
    // O(names × LIST) on an object store
    lazy val tombstones: Map[String, String] =
      KeyedLogSource.tombstonesOf(dir, conf)
    served(dir, conf, from, to).flatMap { case (v, tag, names) =>
      names.map { n =>
        if (!listed.contains(n) && tag != "delete" && !relisted) {
          listed = listing(); relisted = true
        }
        val f =
          if (tag == "delete")
            // the exact tombstone this swap hid the pre-image under; a
            // reveal-rename leftover (tombstone failed, original still
            // visible) serves from the visible name
            tombstones.get(n).filter(_ == KeyedLogSource.tombstoneName(v, n))
              .orElse(listed.get(n).map(f => new Path(f).getName))
              .map(t => new Path(dir, t).toString)
              .getOrElse(throw new IllegalStateException(
                s"keyed_log t.changes: pre-image of $n (v$v) is gone — its " +
                  "tombstone aged out (vacuum); restart from a full scan"))
          else listed.get(n)
            .orElse(tombstones.get(n).map(t => new Path(dir, t).toString))
            .getOrElse(throw new IllegalStateException(
              s"keyed_log t.changes: journaled file $n is gone (compacted or " +
                "vacuumed past your cursor?) — restart from a full scan"))
        ChangeTaggedPartition(KeyedLogPartition(Seq(f)), tag): InputPartition
      }
    }.toArray
  }

  def readerFactory(conf: org.apache.spark.util.SerializableConfiguration,
      declared: StructType = KeyedLogSource.schema): PartitionReaderFactory =
    ChangeTagReaderFactory(
      KeyedLogReaderFactory(declared, Array.empty, conf))
}

/** Micro-batch stream over the keyedlog journal feed: offset = journal
  * version (the exactly-once unit the journal already provides — an
  * entry is visible atomically or not at all, and a replayed window's
  * groups are deterministic), each batch = [[KeyedLogChanges.served]] of
  * its window. The keyedlog twin of [[ManifestChangesMicroBatchStream]]:
  * same AvailableNow pinning, same version-granular admission control. */
class KeyedLogChangesMicroBatchStream(dir: String, startVersion: Long,
                                      maxVersionsPerTrigger: Option[Long] = None,
                                      maxFilesPerTrigger: Option[Long] = None,
                                      declared: StructType = KeyedLogSource.schema)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.Offset

  private val conf = LakeStorage.taskConf()

  private def headVersion: Long =
    KeyedLogVersionLog.versions(dir, conf).lastOption.getOrElse(-1L)

  override def initialOffset(): Offset = ManifestVersionOffset(startVersion)
  override def latestOffset(): Offset = ManifestVersionOffset(headVersion)
  override def deserializeOffset(json: String): Offset =
    ManifestVersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // ---- Trigger.AvailableNow: pin the journal head visible when the
  // trigger fires; commits racing the drain land in the NEXT run. ----
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(headVersion)

  /** Version-granular admission control (`maxVersionsPerTrigger` /
    * `maxFilesPerTrigger`): a from-the-beginning CDC backfill of a large
    * document store drains in bounded, checkpointed batches. The file
    * budget counts each version's SERVED groups (fresh names; rm+ad for
    * row-level rewrites — both sides are read). At least one pending
    * version is always admitted (progress guarantee). */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val target = availableNowCap.getOrElse(headVersion)
    val from = start.asInstanceOf[ManifestVersionOffset].v
    if (target <= from ||
        (maxVersionsPerTrigger.isEmpty && maxFilesPerTrigger.isEmpty))
      return ManifestVersionOffset(target)
    ManifestVersionOffset(StreamAdmission.admitVersions(
      KeyedLogVersionLog.versions(dir, conf).filter(v => v > from && v <= target),
      from, maxVersionsPerTrigger, maxFilesPerTrigger, maxBytes = None,
      cost = { v =>
        val e = KeyedLogVersionLog.entry(dir, conf, v)
        // row-level rewrites serve BOTH sides (pre-images + post-images)
        val files =
          if (e.rm.isDefined || e.ad.isDefined)
            e.rm.map(_.length).getOrElse(0) + e.ad.map(_.length).getOrElse(0)
          else e.fresh.length
        (files.toLong, 0L)
      }))
  }
  override def reportLatestOffset(): Offset = latestOffset()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ManifestVersionOffset].v
    val to = end.asInstanceOf[ManifestVersionOffset].v
    if (to <= from) return Array.empty
    val journaled = KeyedLogVersionLog.versions(dir, conf)
    require(from <= -1L || journaled.contains(from),
      s"keyed_log change-stream offset $from is not journaled under $dir — " +
        "compacted past the checkpoint? restart from a full scan")
    require(journaled.contains(to),
      s"keyed_log change-stream end offset $to is not journaled under $dir")
    KeyedLogChanges.windowPartitions(dir, conf, from, to)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    KeyedLogChanges.readerFactory(conf, declared)
}
