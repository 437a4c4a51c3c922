package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** File-manifest-committed table versions: the transaction-log pattern at
  * the heart of Delta/Iceberg, on plain parquet (no table-format jars ship
  * in this environment, BASELINE.json:6).
  *
  * Layout:
  * {{{
  *   dir/d-<writeId>/part-<partition>-<taskId>.parquet
  *                                          data-file pools, one per write
  *   dir/_commit_00000000000000000001       commit marker (JSON, see below)
  *   dir/_commit_00000000000000000002
  *   dir/_ckpt_00000000000000000010         checkpoint: full file list at v10
  * }}}
  *
  * Commit markers are DELTA-ENCODED so that commit cost is O(change), not
  * O(live files) — the property that keeps the metadata plane viable at
  * 10⁶-file scale, where a full-list marker would be a ~100 MB object
  * rewritten on every append:
  *  - `{"s":[...]}`       snapshot commit: the version IS this list
  *  - `{"a":[...],"r":[...]}` delta commit: previous version minus `r`
  *    plus `a` (appends carry only `a`; row-level DML carries both)
  *  - `[...]`             legacy full-list marker, still readable
  * Every [[VersionLog.AnchorInterval]] commits, the committer also writes a
  * CHECKPOINT — a plain text file, one dir-relative path per line, of the
  * fully-resolved list at that version (text so the metadata itself is
  * splittable and `spark.read.text`-able for metadata-as-Dataset reads).
  * Snapshot RESOLUTION walks markers backward from the requested version
  * only until the nearest snapshot marker or checkpoint (≤ interval
  * markers), then replays deltas forward — never the whole history.
  *
  * Each data file is written once, under its final task-unique name
  * ([[ManifestPoolWriter]]): no `_temporary` directory, no rename, no
  * `_SUCCESS` file. A version becomes visible through ONE atomic object
  * creation (`create(overwrite = false)` of its marker), written only after every
  * data file it references is fully written — so a reader concurrent with
  * any writer sees either the old or the new version, never a missing or
  * half-written file. A crash before the marker leaves an invisible orphan
  * pool that [[vacuum]] removes. Checkpoints are written via temp-file +
  * atomic rename and are pure caches: losing one costs a longer replay,
  * never correctness.
  *
  * Because the manifest lists files (rather than naming a directory),
  * [[append]] commits ONLY its delta files — an append to a 100 TB table
  * writes the new rows and one small marker, never rewriting existing
  * data, and (with delta markers) never re-listing it either. [[compact]]
  * rewrites the current files into fewer and commits a snapshot manifest
  * referencing only the rewrite.
  *
  * Concurrency is OPTIMISTIC, Delta-style: every commit targets version
  * `current + 1`; losing the race to another writer (marker already
  * exists) re-reads the new current version, REBASES, and retries:
  *  - [[write]] (snapshot replace) is independent of the base — a retry
  *    just bumps the version number;
  *  - [[append]] is a pure delta — a retry just bumps the version number
  *    (no base state is read at all);
  *  - [[commitRewrite]] re-checks that the files it removed are still
  *    live in the new base, and ABORTS if not (stale rewrite);
  *  - [[compact]] re-adds files appended since the snapshot it rewrote,
  *    and ABORTS if a concurrent writer replaced/removed files it
  *    compacted (the rewrite is stale — rerun it).
  * The markers are a [[VersionLog]] (numbered from 1, head pointer
  * `_head`): its doc gives the claim loop, the pointer protocol and the
  * claim's atomicity by store class. [[vacuum]]
  * keeps the previous `keep - 1` versions as a grace window for in-flight
  * readers (and writes a checkpoint at the oldest kept version before
  * deleting older markers, so kept versions stay resolvable); schedule it
  * accordingly.
  */
object ManifestTable {

  private val MarkerPrefix = "_commit_"
  private val CkptPrefix = "_ckpt_"
  private val DataDirPrefix = "d-"

  private def ckptName(n: Long): String = f"${CkptPrefix}$n%020d"

  /** The marker log of `dir`: markers numbered from 1, head pointer `_head`. */
  private def markerLog(dir: String): VersionLog =
    new VersionLog(dir, LakeStorage.openFor(dir), MarkerPrefix, Some("_head"), "manifest")

  /** Highest committed version, if any. */
  def currentVersion(dir: String): Option[Long] = markerLog(dir).head

  /** currentVersion + the number of filesystem operations it took —
    * test instrumentation for the O(1)-with-pointer claim. */
  private[graft] def currentVersionProbed(dir: String): (Option[Long], Int) =
    markerLog(dir).headProbed

  /** Latest version committed at or before `tsMillis` (marker modification
    * time — the commit instant on any Hadoop filesystem). None if the
    * table has no version that old. */
  def versionAsOfTimestamp(dir: String, tsMillis: Long): Option[Long] =
    markerLog(dir).asOfTimestamp(tsMillis)

  /** The version a reader of `dir` sees: the head for `asOf = None` (None
    * while nothing is committed), else `asOf` itself. The one rule: the
    * head comes from the log's pointer ([[VersionLog.head]]), and a version
    * is committed iff its marker exists. A resolution that succeeds never
    * lists the directory; only a rejection lists, to name the versions
    * still present. A version never committed, or vacuumed since, throws
    * IllegalStateException. */
  def resolve(dir: String, asOf: Option[Long]): Option[Long] = asOf match {
    case None => markerLog(dir).head
    case Some(v) if isCommitted(dir, v) => asOf
    case Some(v) => throw new IllegalStateException(
      s"version $v is not committed under $dir " +
        s"(committed: ${markerLog(dir).listed.mkString(",")})")
  }

  /** Whether version `v`'s marker exists — one `exists` (see [[resolve]]). */
  def isCommitted(dir: String, v: Long): Boolean = markerLog(dir).has(v)

  /** All committed versions still present (ascending), by one listing. */
  def allVersions(dir: String): Seq[Long] = markerLog(dir).listed

  /** [[allVersions]] with each marker's commit instant (modification time). */
  def commitTimes(dir: String): Seq[(Long, Long)] = markerLog(dir).commitTimes

  // ---- marker encoding -------------------------------------------------

  /** `stats`: per-ADDED-file column statistics (see [[FileStats]]) under
    * the marker's `"st"` key — the data-skipping index, carried next to
    * the file list so planning a selective scan needs no extra object
    * reads. Advisory: absent entries (legacy markers, unreadable footers)
    * just mean "never skip this file".
    *
    * `dvs`: deletion-vector attachments under the marker's `"dv"` key —
    * `{dataFile: {"f": vectorFile, "n": deletedCount}}`. REPLACEMENT
    * semantics per data file (a newer vector supersedes the older one);
    * removing a data file drops its attachment. See [[DeletionVectors]]. */
  private sealed trait MarkerData
  private final case class SnapshotMarker(files: Seq[String],
      stats: Map[String, FileStats.Stats],
      dvs: Map[String, DeletionVectors.DvRef]) extends MarkerData
  private final case class DeltaMarker(add: Seq[String], remove: Seq[String],
      stats: Map[String, FileStats.Stats],
      dvs: Map[String, DeletionVectors.DvRef]) extends MarkerData

  /** A fully-resolved version: live data files, their data-skipping
    * stats, and their deletion-vector attachments. */
  final case class TableState(files: Seq[String],
      stats: Map[String, FileStats.Stats],
      dvs: Map[String, DeletionVectors.DvRef]) {
    /** Live rows = committed rows minus deleted positions — exact when
      * the log's stats cover every file. */
    def deletedRows: Long = dvs.valuesIterator.map(_.count).sum
  }

  private val EmptyState = TableState(Seq.empty, Map.empty, Map.empty)

  private def markerStats(m: Map[String, org.json4s.JValue]): Map[String, FileStats.Stats] =
    m.get("st") match {
      case Some(obj: org.json4s.JObject) =>
        obj.obj.iterator.flatMap { case (file, j) =>
          FileStats.fromJson(j).map(file -> _)
        }.toMap
      case _ => Map.empty
    }

  private def markerDvs(m: Map[String, org.json4s.JValue]): Map[String, DeletionVectors.DvRef] =
    m.get("dv") match {
      case Some(obj: org.json4s.JObject) =>
        obj.obj.iterator.flatMap { case (file, j) =>
          DeletionVectors.fromJson(j).map(file -> _)
        }.toMap
      case _ => Map.empty
    }

  private def decodeMarker(j: org.json4s.JValue): MarkerData = j match {
    case arr: org.json4s.JArray =>
      SnapshotMarker(VersionLog.strings(arr), Map.empty, Map.empty) // legacy full list
    case obj: org.json4s.JObject =>
      val m = obj.obj.toMap
      if (m.contains("s"))
        SnapshotMarker(VersionLog.strings(m("s")), markerStats(m), markerDvs(m))
      else DeltaMarker(
        VersionLog.strings(m.getOrElse("a", org.json4s.JNothing)),
        VersionLog.strings(m.getOrElse("r", org.json4s.JNothing)),
        markerStats(m), markerDvs(m))
    case other => VersionLog.corrupt(s"expected JSON array or object, got $other")
  }

  /** Marker `version`, through the log's entry cache. */
  private def readMarkerData(dir: String, version: Long): MarkerData =
    markerLog(dir).entry(version)(decodeMarker)

  /** Checkpoint line format: `relative/path`, `relative/path\t{stats}`,
    * or `relative/path\t{stats}\t{dv}` (tab-separated file-stats and
    * deletion-vector JSON — paths never contain tabs; the stats field may
    * be empty when only a vector is attached; legacy stats-less
    * checkpoints parse as the first form). Still plain newline-separated
    * text, so the metadata stays `spark.read.text`-able and splittable. */
  private def readCheckpointEntries(dir: String, version: Long): TableState = {
    val text = LakeStorage.readText(LakeStorage.openFor(dir), new Path(dir, ckptName(version)))
    if (text.isEmpty) return EmptyState
    val files = Seq.newBuilder[String]
    val stats = Map.newBuilder[String, FileStats.Stats]
    val dvs = Map.newBuilder[String, DeletionVectors.DvRef]
    text.split("\n", -1).iterator.filter(_.nonEmpty).foreach { line =>
      val fields = line.split("\t", -1)
      val f = fields(0)
      files += f
      if (fields.length > 1 && fields(1).nonEmpty)
        FileStats.parse(fields(1)).foreach(s => stats += f -> s)
      if (fields.length > 2 && fields(2).nonEmpty)
        DeletionVectors.parse(fields(2)).foreach(d => dvs += f -> d)
    }
    TableState(files.result(), stats.result(), dvs.result())
  }

  /** Write the checkpoint for `version` (temp file + atomic rename; a
    * concurrent duplicate writer loses the rename and cleans up — the
    * content is deterministic, so either copy is correct). */
  private def writeCheckpoint(dir: String, version: Long, st: TableState): Unit = {
    val fs = LakeStorage.openFor(dir)
    val target = new Path(dir, ckptName(version))
    if (fs.exists(target)) return
    val tmp = new Path(dir, s".${ckptName(version)}.tmp-${java.util.UUID.randomUUID()}")
    val body = st.files.map { f =>
      (st.stats.get(f), st.dvs.get(f)) match {
        case (None, None)       => f
        case (s, None)          => s"$f\t${s.map(FileStats.render).getOrElse("")}"
        case (s, Some(d))       =>
          s"$f\t${s.map(FileStats.render).getOrElse("")}\t${DeletionVectors.render(d)}"
      }
    }.mkString("\n")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, target)) { fs.delete(tmp, false); () }
  }

  // ---- snapshot resolution ---------------------------------------------

  /** The data files (relative paths) of a committed version: nearest
    * checkpoint-or-snapshot anchor at or below `version`, plus forward
    * replay of the delta markers above it. Retries once on a marker
    * deleted mid-scan by a concurrent [[vacuum]] — the retry re-anchors at
    * the checkpoint vacuum wrote before truncating. */
  def manifest(dir: String, version: Long): Seq[String] =
    manifestEntries(dir, version)._1

  /** [[manifest]] plus the per-file data-skipping stats the log carries
    * for those files (files without stats are simply absent from the
    * map — they are scanned unconditionally). Same resolution cost. */
  def manifestEntries(dir: String, version: Long): (Seq[String], Map[String, FileStats.Stats]) = {
    val st = state(dir, version)
    (st.files, st.stats)
  }

  /** Resolved-state LRU (values softly referenced — the GC reclaims them
    * under memory pressure before anything OOMs). A committed version's
    * content is immutable, so (dir, version) *almost* identifies a state;
    * the one rebirth case — DROP TABLE then CREATE at the same path —
    * is fenced by the resolution CHAIN's identity ([[Chain.tag]]): the
    * (length, mtime) stamp of every marker the backward walk reads plus
    * that of its checkpoint anchor. Fencing on v's own marker alone is
    * not sound for DELTA versions: a recreate where v's delta marker
    * matches across incarnations (an empty append) but an EARLIER chain
    * marker differs would serve the dead incarnation's state. A hit
    * costs the walk's marker stats (entry-cache hits) instead of
    * checkpoint + chain replay — at 10⁵ live files that's the difference
    * between ~0.24 s and ~1 ms per query plan (measured in
    * tools/MetaScale). */
  private val StateCacheMax = 32
  private val stateCache =
    new java.util.LinkedHashMap[(String, Long),
        java.lang.ref.SoftReference[(Seq[VersionLog.Stamp], TableState)]](StateCacheMax, 0.75f, true) {
      override protected def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long),
            java.lang.ref.SoftReference[(Seq[VersionLog.Stamp], TableState)]]): Boolean =
        size() > StateCacheMax
    }

  /** The backward walk that resolves a version: from `version` down to
    * the nearest snapshot marker or checkpoint (or below v1: the table
    * began empty), at most [[VersionLog.AnchorInterval]] markers. `base`
    * reads the anchor's state; `deltas` (oldest first) replay on it. */
  private final case class Chain(tag: Seq[VersionLog.Stamp], base: () => TableState,
                                 deltas: List[DeltaMarker])

  private def chain(dir: String, version: Long): Chain = {
    val log = markerLog(dir)
    val tag = Vector.newBuilder[VersionLog.Stamp]
    var deltas = List.empty[DeltaMarker]
    var base: () => TableState = null
    var v = version
    while (base == null) {
      if (v < 1) base = () => EmptyState
      else log.stamped(v)(decodeMarker) match {
        case (stamp, SnapshotMarker(files, st, dv)) =>
          tag += stamp
          base = () => TableState(files, st, dv)
        case (stamp, d: DeltaMarker) =>
          tag += stamp
          val ckpt = try Some(log.fs.getFileStatus(new Path(dir, ckptName(v))))
            catch { case _: java.io.FileNotFoundException => None }
          ckpt match {
            case Some(ck) => // the checkpoint already holds this delta
              tag += ((ck.getLen, ck.getModificationTime))
              val at = v
              base = () => readCheckpointEntries(dir, at)
            case None => deltas ::= d; v -= 1
          }
      }
    }
    Chain(tag.result(), base, deltas)
  }

  /** [[manifestEntries]] plus the version's deletion-vector attachments —
    * what every LIVE-ROW read path resolves (a scan that ignored the
    * vectors would resurrect deleted rows). Retries on a marker deleted
    * mid-walk by a concurrent [[vacuum]] — the retry re-anchors at the
    * checkpoint vacuum wrote before truncating. */
  def state(dir: String, version: Long): TableState = {
    val key = (dir, version)
    var lastMiss: java.io.FileNotFoundException = null
    var attempt = 0
    while (attempt < 3) {
      try {
        val c = chain(dir, version)
        stateCache.synchronized {
          val ref = stateCache.get(key)
          val hit = if (ref == null) null else ref.get()
          if (hit != null && hit._1 == c.tag) return hit._2
        }
        val resolved = c.deltas.foldLeft(c.base()) { case (TableState(list, stats, dvs), d) =>
          val rm = d.remove.toSet
          TableState(
            (if (rm.isEmpty) list else list.filterNot(rm)) ++ d.add,
            (if (rm.isEmpty) stats else stats -- rm) ++ d.stats,
            (if (rm.isEmpty) dvs else dvs -- rm) ++ d.dvs)
        }
        stateCache.synchronized {
          stateCache.put(key, new java.lang.ref.SoftReference((c.tag, resolved))); ()
        }
        return resolved
      } catch { case e: java.io.FileNotFoundException => lastMiss = e; attempt += 1 }
    }
    throw new IllegalStateException(
      s"version $version of $dir is not resolvable (vacuumed or corrupt log)", lastMiss)
  }

  /** Number of marker/checkpoint objects the backward walk reads to
    * resolve `version` — test instrumentation for the O(interval) claim. */
  private[core] def resolutionDepth(dir: String, version: Long): Int =
    chain(dir, version).tag.size

  /** (added, removed) files between two committed versions — the change
    * feed's metadata query, O(window delta): replays ONLY the delta
    * markers in (from, to], never resolving either endpoint snapshot. A
    * file removed and re-added inside the window cancels out, exactly
    * matching the endpoint set difference. A SNAPSHOT marker inside the
    * window (compaction, INSERT OVERWRITE, rollback) breaks the delta
    * chain — the diff then falls back to the two endpoint resolutions
    * (each itself checkpoint-anchored, O(interval)). */
  def diff(dir: String, fromVersion: Long, toVersion: Long): (Seq[String], Seq[String]) = {
    require(toVersion >= fromVersion,
      s"diff: end $toVersion precedes start $fromVersion")
    val added = scala.collection.mutable.LinkedHashSet.empty[String]
    val removed = scala.collection.mutable.LinkedHashSet.empty[String]
    var v = fromVersion + 1
    while (v <= toVersion) {
      readMarkerData(dir, v) match {
        case DeltaMarker(add, rm, _, _) =>
          rm.foreach { f => if (!added.remove(f)) { removed += f; () } }
          add.foreach { f => if (!removed.remove(f)) { added += f; () } }
        case _: SnapshotMarker =>
          val from = manifest(dir, fromVersion).toSet
          val to = manifest(dir, toVersion).toSet
          return ((to -- from).toSeq.sorted, (from -- to).toSeq.sorted)
      }
      v += 1
    }
    (added.toSeq.sorted, removed.toSeq.sorted)
  }

  /** The files version `v`'s commit ADDED (delta add-list, or the full
    * list for a snapshot commit) and the marker's stats for them — one
    * marker read, no resolution. The log-carried sizes let metadata
    * tables and compaction size files without stat-ing them. */
  private[graft] def addedEntriesAt(dir: String, v: Long)
      : (Seq[String], Map[String, FileStats.Stats]) =
    readMarkerData(dir, v) match {
      case DeltaMarker(add, _, st, _)   => (add, st)
      case SnapshotMarker(files, st, _) => (files, st)
    }

  /** The files version `v`'s commit ADDED (a snapshot's full list) and
    * their total log-carried bytes — one marker read; what streaming
    * admission control budgets batches by. Files whose stats lack a
    * length (legacy markers) count 0 bytes: the bytes budget is a
    * stats-powered refinement, never a correctness gate. */
  private[graft] def addsAt(dir: String, v: Long): (Seq[String], Long) = {
    def bytes(files: Seq[String], st: Map[String, FileStats.Stats]): Long =
      files.iterator.flatMap(f => st.get(f).flatMap(_.sizeBytes)).sum
    readMarkerData(dir, v) match {
      case d: DeltaMarker    => (d.add, bytes(d.add, d.stats))
      case s: SnapshotMarker => (s.files, bytes(s.files, s.stats))
    }
  }

  /** Every file referenced by ANY surviving committed version, in ONE pass
    * over the log (oldest version resolved once, then just the adds /
    * snapshot lists of later markers — no per-version resolution). */
  private[graft] def allReferencedFiles(dir: String): Set[String] = {
    val versions = allVersions(dir)
    if (versions.isEmpty) return Set.empty
    val acc = scala.collection.mutable.HashSet.empty[String]
    val oldest = state(dir, versions.head)
    acc ++= oldest.files
    acc ++= oldest.dvs.valuesIterator.map(_.path)
    versions.tail.foreach { v =>
      readMarkerData(dir, v) match {
        case SnapshotMarker(files, _, dv) =>
          acc ++= files; acc ++= dv.valuesIterator.map(_.path)
        case DeltaMarker(add, _, _, dv)   =>
          acc ++= add; acc ++= dv.valuesIterator.map(_.path)
      }
    }
    acc.toSet
  }

  /** Write `df` as a NEW SNAPSHOT (replacing the table contents) and
    * commit it. Returns the committed version. */
  def write(df: DataFrame, dir: String): Long =
    commitStagedSnapshot(dir, stagePool(df, dir))

  /** Append `df` to the table: writes ONLY the delta files and commits a
    * delta marker — existing data is neither rewritten nor re-listed.
    * Returns the committed version. */
  def append(df: DataFrame, dir: String): Long =
    commitStagedAppend(dir, stagePool(df, dir))

  /** Append `df` exactly once PER TAG — the foreachBatch retry contract:
    * stages under the DETERMINISTIC pool `d-tag-<tag>` and commits only
    * when no LIVE file references that pool, so a micro-batch that
    * re-runs after a failure (same batchId, same re-derived rows) lands
    * as a no-op instead of duplicating. A crashed half-stage is safely
    * replaced (the pool is cleared before the write, and an uncommitted
    * pool is invisible); losing the commit race to one's own earlier
    * attempt resolves to that attempt's version.
    *
    * Contract: ONE writer per tag, and a tag must be FRESH — never reused
    * after its batch's files could have been rewritten (compaction /
    * snapshot replace), because the idempotence check runs against the
    * LIVE file set only. Monotonic streaming batch ids satisfy both.
    * Files are plain NAME-RESOLVED parquet: a catalog table read through
    * column mapping (parquet field ids) would resolve them as all-null —
    * target unmapped tables (`LOCATION` tables), like any external
    * producer. Returns the version holding the tag's files. */
  def appendIdempotent(df: DataFrame, dir: String, tag: String,
                       ndvCols: Seq[String] = Nil): Long = {
    require(tag.nonEmpty && tag.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"pool tag must be path-safe: '$tag'")
    val pool = s"${DataDirPrefix}tag-$tag"
    def committedIn(v: Long): Boolean =
      state(dir, v).files.exists(_.startsWith(pool + "/"))
    currentVersion(dir).filter(committedIn).getOrElse {
      // clear a crashed attempt's files: pool files are created, never
      // overwritten, and task ids restart with each application, so a
      // rerun after a driver crash can pick a crashed file's name
      LakeStorage.openFor(dir).delete(new Path(dir, pool), true)
      val files = JobCensus.labeled(df.sparkSession, "core.manifest.append_idempotent") {
        writePool(df, dir, pool)
      }
      if (files.isEmpty) return currentVersion(dir).getOrElse(0L)
      val st = collectStats(dir, files, ndvCols)
      try commitLoop(dir) { base =>
        if (base.exists(committedIn)) None // already landed: resolve below
        else Some(Delta(add = files, remove = Seq.empty, stats = st))
      } catch {
        case e: java.util.ConcurrentModificationException =>
          currentVersion(dir).filter(committedIn).getOrElse(throw e)
      }
    }
  }

  /** Stage `df` as an UNCOMMITTED data pool (invisible to every reader
    * until some manifest references it) and return the staged file list —
    * the two-phase half of [[write]]/[[append]] for callers that must
    * defer the commit (e.g. the catalog's atomic CTAS). Abandoned pools
    * are [[vacuum]] fodder. */
  def stagePool(df: DataFrame, dir: String,
                writeOptions: Map[String, String] = Map.empty): Seq[String] =
    writePool(df, dir, writeOptions = writeOptions)

  /** Stage `df` RANGE-CLUSTERED on `cols` (a declared-partitioning
    * table's write path): range repartition + in-partition sort means
    * every staged file covers a narrow, disjoint slice of the partition
    * columns — the commit-time footer stats then carry tight bounds and
    * scan planning prunes whole partitions via ordinary data skipping
    * (see the catalog's PARTITIONED BY transforms). Cost: one range
    * shuffle per write, the price any partitioned table format pays. */
  def stagePoolClustered(df: DataFrame, dir: String, cols: Seq[String],
                         writeOptions: Map[String, String] = Map.empty): Seq[String] = {
    import org.apache.spark.sql.functions.col
    writePool(
      df.repartitionByRange(cols.map(col): _*).sortWithinPartitions(cols.map(col): _*),
      dir, writeOptions = writeOptions)
  }

  /** Stage `df` BUCKET-CLUSTERED: rows are hash-repartitioned into
    * `numBuckets` by `keyCol` (Spark's murmur3 partitioning, so the shuffle
    * partition index IS the bucket id, which the pool writer bakes into
    * the `part-<index>-<taskId>.parquet` file names) into a pool named
    * `d-bucketed-<numBuckets>-<uuid>`. A table whose every pool carries
    * the same bucket tag can be scanned with key-grouped (storage-
    * partitioned) splits — see the catalog's bucketed scan. */
  def stagePoolBucketed(df: DataFrame, dir: String, numBuckets: Int,
                        keyCol: String,
                        writeOptions: Map[String, String] = Map.empty): Seq[String] =
    writePool(
      df.repartition(numBuckets, org.apache.spark.sql.functions.col(keyCol)),
      dir, poolName = s"${BucketedPoolPrefix}$numBuckets-${java.util.UUID.randomUUID()}",
      writeOptions = writeOptions)

  /** The bucket count of a bucketed pool name, None for plain pools. */
  def bucketsOfPool(poolName: String): Option[Int] =
    if (!poolName.startsWith(BucketedPoolPrefix)) None
    else poolName.stripPrefix(BucketedPoolPrefix).split("-", 2) match {
      case Array(n, _) => scala.util.Try(n.toInt).toOption
      case _           => None
    }

  /** The bucket id a data file holds (its shuffle partition index, baked
    * into the task file name `part-<index>-...`). */
  def bucketOfFile(fileName: String): Option[Int] = {
    val m = BucketFilePattern.matcher(fileName)
    if (m.matches()) Some(m.group(1).toInt) else None
  }

  private val BucketedPoolPrefix = "d-bucketed-"
  private val BucketFilePattern =
    java.util.regex.Pattern.compile("part-(\\d+)-.*")

  /** Commit previously staged files as a replacing snapshot. Harvests the
    * staged files' data-skipping stats from their footers unless the
    * caller already has them (`stats` non-None — e.g. [[rollback]], whose
    * files are old and whose stats the log already holds). */
  def commitStagedSnapshot(dir: String, files: Seq[String],
      stats: Option[Map[String, FileStats.Stats]] = None,
      dataDir: Option[String] = None,
      dvs: Map[String, DeletionVectors.DvRef] = Map.empty): Long = {
    val st = stats.getOrElse(FileStats.collect(dataDir.getOrElse(dir), files))
    commitLoop(dir) { _ => Some(Snapshot(files, st, dvs)) }
  }

  /** Commit previously staged files as an append. A pure delta: no base
    * state is read, so the commit (and any rebase retry) is O(delta)
    * regardless of table size — including the data-skipping stats
    * harvest, which reads only the NEW files' footers.
    *
    * `dataDir`: where the staged files physically live when the marker
    * LOG is elsewhere (branch commits — see [[createBranch]]). */
  def commitStagedAppend(dir: String, files: Seq[String],
      dataDir: Option[String] = None,
      stats: Option[Map[String, FileStats.Stats]] = None): Long = {
    val st = stats.getOrElse(FileStats.collect(dataDir.getOrElse(dir), files))
    commitLoop(dir) { _ => Some(Delta(add = files, remove = Seq.empty, stats = st)) }
  }

  /** Footer stats for freshly staged files, enriched with NDV sketches
    * for the declared columns (see [[NdvStats]]) — the shared stat
    * harvest of every write path, so tables declaring `graft.ndv.columns`
    * keep serving distinct counts through DML rewrites, compaction, and
    * streaming epochs, not just batch inserts (the all-planned-files
    * serving rule would otherwise silently pause after the first
    * rewrite). */
  private[graft] def collectStats(dataDir: String, files: Seq[String],
      ndvCols: Seq[String]): Map[String, FileStats.Stats] = {
    val base = FileStats.collect(dataDir, files)
    if (ndvCols.isEmpty || files.isEmpty) base
    else {
      val spark = SparkSession.active
      // one fused pass harvests the HLL sketches AND the exact per-file
      // histogram bounds; the bucket-count pass is the only other delta
      // read — two scans of the just-written files, not three
      val (sketches, bounds) =
        NdvStats.collectSketchesAndBounds(spark, dataDir, files, ndvCols)
      val withNdv = NdvStats.attach(base, sketches)
      // numeric declared columns additionally carry per-file histograms —
      // the distribution half of the log-served CBO channel
      HistStats.attach(withNdv,
        HistStats.collectHists(spark, dataDir, files, ndvCols, bounds))
    }
  }

  /** Backfill per-file statistics for LIVE files WITHOUT rewriting them —
    * a STATS-ONLY delta commit (add = [], remove = []): the state fold
    * merges the fresh stats over each file's existing entry, so files
    * that predate a stat declaration (register_files adoptions, writes
    * before `graft.ndv.columns` was set) start serving NDV sketches,
    * histograms and bounds to the optimizer. The ANALYZE-free backfill:
    * cost ∝ the restatted files' bytes, never the table, and zero data
    * bytes move. `onlyMissing` restats just the files lacking a sketch
    * for some declared column (the idempotent backfill case); pass false
    * to recompute everything. Returns (version holding the stats — the
    * current one when nothing needed restatting, files restatted). */
  def restatFiles(dir: String, ndvCols: Seq[String],
                  onlyMissing: Boolean = true): (Long, Int) = {
    require(ndvCols.nonEmpty, "restatFiles needs declared stat columns")
    val cur = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val (files, stats) = manifestEntries(dir, cur)
    val targets =
      if (!onlyMissing) files
      else files.filter { f =>
        stats.get(f) match {
          case None    => true
          case Some(s) => ndvCols.exists(c => s.col(c).flatMap(_.ndvSketch).isEmpty)
        }
      }
    if (targets.isEmpty) return (cur, 0)
    val st = collectStats(dir, targets, ndvCols)
    try {
      var committed = 0
      val v = commitLoop(dir) { base =>
        // merge only over files still LIVE at commit time — a concurrent
        // rewrite may have replaced some; their stats would dangle in the
        // fold (harmless for reads, but the log should stay clean)
        val live = base.map(b => state(dir, b).files.toSet).getOrElse(Set.empty[String])
        val eff = st.filter { case (f, _) => live.contains(f) }
        committed = eff.size // report what actually merged, not the plan
        if (eff.isEmpty) None else Some(Delta(Seq.empty, Seq.empty, eff))
      }
      (v, committed)
    } catch {
      // Two CME sources share this type: (a) the rebase found EVERY
      // remaining target concurrently rewritten (the closure returned
      // None — nothing left to restat, swallowing is correct), and
      // (b) commitLoop exhausted its retries under writer contention —
      // the stats never landed and reporting success-with-0 would lie.
      // Distinguish by re-reading the head: any original target still
      // live and still missing a declared sketch means the backfill did
      // NOT complete — rethrow.
      case e: java.util.ConcurrentModificationException =>
        val head = currentVersion(dir).getOrElse(cur)
        val now = state(dir, head)
        val liveNow = now.files.toSet
        // 'missing' mode: the swallow is safe exactly when no live target
        // still lacks a declared sketch. 'all' mode RECOMPUTES (sketches,
        // histograms, bounds) — sketch presence proves nothing about
        // whether the refresh landed, so any surviving original target
        // means it did not: rethrow.
        val unresolved =
          if (!onlyMissing) targets.filter(liveNow.contains)
          else targets.filter { f =>
            liveNow.contains(f) && (now.stats.get(f) match {
              case None    => true
              case Some(s) => ndvCols.exists(c => s.col(c).flatMap(_.ndvSketch).isEmpty)
            })
          }
        if (unresolved.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"stats backfill to $dir did not commit (writer contention): " +
              s"${unresolved.size} of ${targets.size} targets unresolved — " +
              s"rerun collect_stats; cause: ${e.getMessage}")
        (head, 0)
    }
  }

  /** Commit a FILE-LEVEL REWRITE: the new manifest is the current one
    * minus `removed` plus `added` — the copy-on-write commit behind
    * row-level DML (DELETE/UPDATE/MERGE rewrite only the files that hold
    * affected rows; every other file stays live untouched). Rebase rules
    * mirror [[compact]]: files appended concurrently are carried over
    * implicitly (a delta marker never touches them — they hold rows this
    * rewrite never read, so write-serializable isolation allows them); if
    * a concurrent writer replaced or removed any file in `removed`, this
    * rewrite read stale data and the commit ABORTS with
    * `ConcurrentModificationException` — rerun the DML.
    *
    * `conflictGuard` (REPLACE WHERE): `(discoverySnapshot, mayConflict)`.
    * The implicit carry-over rule above is WRONG for a predicate-scoped
    * overwrite — its contract is "after this version, every row matching
    * the predicate came from this batch", so a file appended concurrently
    * (present in the base state, absent from the snapshot discovery ran
    * against) whose stats MAY hold a matching row would silently survive
    * the replace. When the guard reports such a file, the commit ABORTS
    * (Delta raises the same concurrent-append conflict on the read
    * predicate) instead of committing a contract-violating version; a
    * concurrent file that provably cannot match still carries over. */
  def commitRewrite(dir: String, removed: Seq[String], added: Seq[String],
                    expectedDvs: Option[Map[String, DeletionVectors.DvRef]] = None,
                    dataDir: Option[String] = None,
                    ndvCols: Seq[String] = Nil,
                    conflictGuard: Option[(Set[String],
                      (String, Option[FileStats.Stats]) => Boolean)] = None): Long = {
    val rm = removed.toSet
    val st = collectStats(dataDir.getOrElse(dir), added, ndvCols)
    commitLoop(dir) { base =>
      val baseState = base.map(state(dir, _))
        .getOrElse(EmptyState)
      conflictGuard.foreach { case (snapshot, mayConflict) =>
        val conflicting = baseState.files
          .filterNot(snapshot).filter(f => mayConflict(f, baseState.stats.get(f)))
        if (conflicting.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"REPLACE WHERE on $dir aborted: files appended concurrently " +
              s"since the replace scanned the table may hold rows matching " +
              s"its predicate (${conflicting.take(3).mkString(", ")}${
                if (conflicting.size > 3) ", …" else ""}) — committing " +
              "would silently keep them; rerun the replace")
      }
      val filesLive = rm.subsetOf(baseState.files.toSet)
      // a rewrite that READ its input (DML, purge) applied the deletion
      // vectors it saw at scan time; a DIFFERENT vector on any rewritten
      // file now means a concurrent merge-on-read DELETE landed between
      // the scan and this commit — committing would resurrect those rows
      val dvsUnchanged = expectedDvs.forall(seen =>
        rm.forall(f => baseState.dvs.get(f).map(_.path) == seen.get(f).map(_.path)))
      if (filesLive && dvsUnchanged)
        Some(Delta(add = added, remove = removed, stats = st))
      else None // a removed file vanished or changed: concurrent writer beat us
    }
  }

  /** Commit a MERGE-ON-READ row-level change: attach deletion vectors to
    * live files (replacement semantics per file) and add `added` data
    * files (an UPDATE/MERGE's re-inserted rows) — no data file is
    * rewritten or removed. Optimistic rules: rebases cleanly over
    * concurrent appends and over vector commits on DISJOINT files; ABORTS
    * (stale scan) if any targeted file was removed/replaced concurrently
    * or received a different vector than the one this operation's scan
    * applied (`expectedDvs`: the per-file vector paths seen at scan time,
    * None entries for files that had none). */
  def commitDeleteVectors(dir: String,
      dvs: Map[String, DeletionVectors.DvRef], added: Seq[String],
      expectedDvs: Map[String, Option[String]],
      dataDir: Option[String] = None,
      ndvCols: Seq[String] = Nil): Long = {
    require(dvs.nonEmpty || added.nonEmpty, "empty merge-on-read commit")
    val st = collectStats(dataDir.getOrElse(dir), added, ndvCols)
    commitLoop(dir) { base =>
      val baseState = base.map(state(dir, _))
        .getOrElse(EmptyState)
      val live = baseState.files.toSet
      val ok = dvs.keysIterator.forall { f =>
        live.contains(f) &&
          baseState.dvs.get(f).map(_.path) == expectedDvs.getOrElse(f, None)
      }
      if (ok) Some(Delta(add = added, remove = Seq.empty, stats = st, dvs = dvs))
      else None // targeted file removed or re-vectored concurrently
    }
  }

  /** Read the current committed version, or a specific one (time travel —
    * any version not yet vacuumed stays readable; an uncommitted or
    * vacuumed version rejects rather than resolving to partial data). */
  def read(spark: SparkSession, dir: String, asOfVersion: Option[Long] = None): DataFrame = {
    val v = resolve(dir, asOfVersion).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val st = state(dir, v)
    if (st.files.isEmpty)
      throw new IllegalStateException(
        s"version $v of $dir is an empty snapshot — no schema to read " +
          "(the catalog layer serves empty tables from their declared schema)")
    applyDvs(spark, dir, spark.read.parquet(st.files.map(f => s"$dir/$f"): _*), st.dvs)
  }

  /** Subtract deletion-vector positions from a file-source DataFrame read
    * of manifest data files: anti-join on (`_metadata.file_path`,
    * `_metadata.row_index`) against the vectors' (file, position) pairs —
    * the DataFrame-level twin of the catalog scan's reader-level filter,
    * used by every path that reads snapshot files through `spark.read`
    * (core reads, compaction, the DELETE fast path's survivor rewrite).
    * The deleted-pair side is metadata-sized (positions already committed
    * as vector files) and broadcasts. */
  def applyDvs(spark: SparkSession, dir: String, df: DataFrame,
               dvs: Map[String, DeletionVectors.DvRef]): DataFrame = {
    if (dvs.isEmpty) return df
    import org.apache.spark.sql.functions.{broadcast, col}
    val fs = LakeStorage.openFor(dir)
    val deleted: Seq[(String, Long)] = dvs.toSeq.flatMap { case (f, ref) =>
      val qualified = fs.makeQualified(new Path(dir, f)).toString
      DeletionVectors.read(fs, dir, ref.path).map(qualified -> _).toSeq
    }
    import spark.implicits._
    val dead = deleted.toDF("__dv_file", "__dv_pos")
    df.withColumn("__file", col("_metadata.file_path"))
      .withColumn("__pos", col("_metadata.row_index"))
      .join(broadcast(dead),
        col("__file") === col("__dv_file") && col("__pos") === col("__dv_pos"),
        "left_anti")
      .drop("__file", "__pos")
  }

  /** Snapshot read for the compaction rewrites. `readSchema` (the
    * catalog's DECLARED schema, field-id metadata included) matters on
    * column-mapped tables whose files predate a RENAME COLUMN: an
    * inferred read would surface the files' pre-rename physical names and
    * a later `repartition(renamedKeyCol)` would not resolve. Reading with
    * the declared schema resolves columns by id (the same move
    * `deleteWhere` makes), and — because the declared fields carry
    * `parquet.field.id` metadata and field-id WRITES are enabled on
    * catalog sessions — the rewrite also normalizes the compacted files
    * to current logical names with ids attached. */
  private def readSnapshot(spark: SparkSession, dir: String, files: Seq[String],
      readSchema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val paths = files.map(f => s"$dir/$f")
    readSchema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None    => spark.read.parquet(paths: _*)
    }
  }

  /** Rewrite the current snapshot into ~targetFileBytes files as a NEW
    * committed version. If a concurrent [[append]] commits while the
    * rewrite runs, its files are carried over into the compacted manifest
    * (rebase); if a concurrent [[write]]/[[compact]] replaced files this
    * rewrite read, the compaction is stale and aborts — rerun it.
    *
    * `clusterBy` (the OPTIMIZE ... ZORDER-BY analogue on manifest tables)
    * range-partitions and sorts the rewrite on the given columns — every
    * output file then covers a narrow value range, so selective reads
    * prune whole files/row groups (same layout contract as
    * [[LakeCompaction.compactParquet]], measured in ClusteringSpec).
    * `zorderBy` (OPTIMIZE ... ZORDER BY) instead clusters on the
    * materialized 2–4-D Morton key ([[graft.functions.ZOrder.zorderKey]],
    * domain-scaled from the snapshot's actual bounds, 63/k bits per
    * dimension) so every output file gets a narrow min/max box in ALL
    * interleaved dimensions — a selective filter on ANY of the columns
    * file-prunes. Both cost one range shuffle,
    * the price of clustering in any table format; empty = plain
    * coalesce. Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              clusterBy: Seq[String] = Nil,
              readSchema: Option[org.apache.spark.sql.types.StructType] = None,
              writeOptions: Map[String, String] = Map.empty,
              ndvCols: Seq[String] = Nil,
              zorderBy: Seq[String] = Nil): (Long, Long) = {
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "cluster_by (linear) and zorder (interleaved) are exclusive layouts")
    val fs = LakeStorage.openFor(dir)
    val snapVersion = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val snap = state(dir, snapVersion)
    val (snapFiles, snapStats) = (snap.files, snap.stats)
    if (snapFiles.isEmpty) return (0L, 0L)
    // log-carried lengths; stat only the legacy residue
    val totalBytes = snapFiles.map(f =>
      snapStats.get(f).flatMap(_.sizeBytes)
        .getOrElse(fs.getFileStatus(new Path(dir, f)).getLen)).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    // deletion vectors are MATERIALIZED by compaction: the rewrite reads
    // live rows only, and the compacted snapshot carries no vectors
    val snapshot = applyDvs(spark, dir,
      readSnapshot(spark, dir, snapFiles, readSchema), snap.dvs)
    val compacted = writePool(layoutRewrite(snapshot, nOut, clusterBy, zorderBy),
      dir, writeOptions = writeOptions)
    commitCompacted(dir, snapVersion, snap, compacted, collectStats(dir, compacted, ndvCols))
    (snapFiles.length.toLong, compacted.length.toLong)
  }

  /** Commit a whole-snapshot rewrite of version `snapVersion` as a new
    * snapshot — the rebase rule shared by [[compact]] and
    * [[compactBucketed]]: files appended since the snapshot are carried
    * over (with their vectors — applied by no one); a concurrent writer
    * that replaced or re-vectored any rewritten file aborts the commit. */
  private def commitCompacted(dir: String, snapVersion: Long, snap: TableState,
      compacted: Seq[String], compactedStats: Map[String, FileStats.Stats]): Long = {
    val snapSet = snap.files.toSet
    commitLoop(dir) { base =>
      if (base.contains(snapVersion)) Some(Snapshot(compacted, compactedStats))
      else {
        val baseState = base.map(state(dir, _)).getOrElse(EmptyState)
        val baseFiles = baseState.files
        // a vector committed on OUR files since the snapshot means rows
        // this rewrite already copied were deleted concurrently — stale
        val dvsUnchanged = snapSet.forall(f =>
          baseState.dvs.get(f).map(_.path) == snap.dvs.get(f).map(_.path))
        if (snapSet.subsetOf(baseFiles.toSet) && dvsUnchanged) {
          val carried = baseFiles.filterNot(snapSet)
          Some(Snapshot(compacted ++ carried,
            compactedStats ++ baseState.stats.view.filterKeys(carried.toSet).toMap,
            baseState.dvs.view.filterKeys(carried.toSet).toMap))
        }
        else None // our snapshot's files were replaced — stale rewrite
      }
    }
  }

  /** Layout of a compaction rewrite — ONE definition shared by
    * [[compact]], [[compactSmall]] and [[compactScoped]]: z-order
    * (range-partition + sort on the materialized Morton key, then drop
    * it; the key column name must not collide with a REAL column —
    * withColumn REPLACES, drop would then silently destroy the user's
    * data), linear range-clustering, or a plain coalesce. */
  private def layoutRewrite(rows: DataFrame, nOut: Int,
      clusterBy: Seq[String], zorderBy: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (zorderBy.nonEmpty) {
      val zname = Iterator.from(0)
        .map(i => if (i == 0) "_zkey" else s"_zkey$i")
        .find(n => !rows.columns.exists(_.equalsIgnoreCase(n))).get
      rows
        .withColumn(zname, graft.functions.ZOrder.zorderKey(rows, zorderBy))
        .repartitionByRange(nOut, col(zname))
        .sortWithinPartitions(col(zname))
        .drop(zname)
    }
    else if (clusterBy.isEmpty) rows.coalesce(nOut)
    else rows.repartitionByRange(nOut, clusterBy.map(col): _*)
      .sortWithinPartitions(clusterBy.map(col): _*)
  }

  /** SCOPED compaction — `OPTIMIZE ... WHERE`: rewrite ONLY the files
    * whose log stats say they MAY hold rows matching `pred` (a resolved
    * row-level boolean over NAMED attribute refs —
    * [[FileStats.mayMatch]] evaluates it conservatively per file), so a
    * maintenance pass over one partition/tenant/day of a 100 TB table
    * costs that slice's bytes, never the table. File-granular, never
    * row-splitting: a selected file is rewritten WHOLE (compaction
    * preserves contents — a stats-overlapping file that holds no
    * matching rows is rewritten harmlessly, same as Delta's
    * partition-predicate OPTIMIZE generalized to stats granularity);
    * files the stats EXCLUDE are byte-untouched. Stat-less files
    * (legacy/adopted) are conservatively included. Vectors on rewritten
    * files are materialized; vectors elsewhere stay. Same optimistic
    * rebase as every rewrite. Returns (filesRewritten, filesProduced). */
  def compactScoped(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil,
      readSchema: Option[org.apache.spark.sql.types.StructType] = None,
      writeOptions: Map[String, String] = Map.empty,
      ndvCols: Seq[String] = Nil): (Long, Long) = {
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "cluster_by (linear) and zorder (interleaved) are exclusive layouts")
    val fs = LakeStorage.openFor(dir)
    val snapVersion = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val snap = state(dir, snapVersion)
    // fold constants first: the ANALYZED predicate still carries coercion
    // casts around literals (`doc_id < 250` arrives as `< cast(250)`),
    // which mayMatch would conservatively treat as unprunable — the
    // optimizer normally folds these, but this predicate never passes
    // through a plan
    val folded = pred.transformUp {
      case e: org.apache.spark.sql.catalyst.expressions.Expression
          if e.foldable && !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
        org.apache.spark.sql.catalyst.expressions.Literal.create(e.eval(), e.dataType)
    }
    val candidates = snap.files.filter(f =>
      snap.stats.get(f).forall(st => FileStats.mayMatch(folded, st)))
    // one matching file has nothing to merge with — a whole-file rewrite
    // of it would be pure churn unless it carries a vector OR the caller
    // explicitly asked for a layout (cluster_by/zorder): an explicit
    // re-layout request justifies rewriting even a single file, and
    // skipping it would be indistinguishable from "nothing matched"
    if (candidates.isEmpty ||
        (candidates.length < 2 && candidates.forall(!snap.dvs.contains(_)) &&
          clusterBy.isEmpty && zorderBy.isEmpty))
      return (0L, 0L)
    def sizeOf(f: String): Long = snap.stats.get(f).flatMap(_.sizeBytes)
      .getOrElse(fs.getFileStatus(new Path(dir, f)).getLen)
    val bytes = candidates.map(sizeOf).sum
    val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val rows = applyDvs(spark, dir,
      readSnapshot(spark, dir, candidates, readSchema),
      snap.dvs.view.filterKeys(candidates.toSet).toMap)
    val added = writePool(layoutRewrite(rows, nOut, clusterBy, zorderBy),
      dir, writeOptions = writeOptions)
    commitRewrite(dir, removed = candidates, added = added,
      expectedDvs = Some(snap.dvs), ndvCols = ndvCols)
    (candidates.length.toLong, added.length.toLong)
  }

  /** BIN-PACK compaction: rewrite ONLY the undersized files (smaller
    * than half the target) into ~target-sized ones, leaving well-sized
    * files COMPLETELY untouched — the OPTIMIZE semantics a 100 TB table
    * needs, where full-snapshot `compact` would rewrite terabytes of
    * already-healthy data to fix a few thousand small stream-epoch
    * files. Cost ∝ the small-file bytes. Vectors on rewritten files are
    * materialized in the pass; vectors on untouched files stay. Same
    * optimistic rebase rules as every rewrite (a concurrent vector on a
    * rewritten file aborts). `clusterBy` keeps a declared layout:
    * the rewritten slice is range-clustered like any other write.
    * Returns (filesRewritten, filesAfter). */
  def compactSmall(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil,
      readSchema: Option[org.apache.spark.sql.types.StructType] = None,
      writeOptions: Map[String, String] = Map.empty,
      ndvCols: Seq[String] = Nil): (Long, Long) = {
    val fs = LakeStorage.openFor(dir)
    val snapVersion = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val snap = state(dir, snapVersion)
    def sizeOf(f: String): Long = snap.stats.get(f).flatMap(_.sizeBytes)
      .getOrElse(fs.getFileStatus(new Path(dir, f)).getLen)
    val small = snap.files.filter(f => sizeOf(f) < targetFileBytes / 2)
    // one undersized file has nothing to merge with — and a whole-file
    // rewrite of it would be pure churn unless it carries a vector
    if (small.length < 2 && small.forall(!snap.dvs.contains(_))) return (0L, 0L)
    val smallBytes = small.map(sizeOf).sum
    val nOut = math.max(1L, (smallBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val smallDvs = snap.dvs.view.filterKeys(small.toSet).toMap
    val rows = applyDvs(spark, dir,
      readSnapshot(spark, dir, small, readSchema), smallDvs)
    val added = writePool(layoutRewrite(rows, nOut, clusterBy, zorderBy = Nil),
      dir, writeOptions = writeOptions)
    commitRewrite(dir, removed = small, added = added,
      expectedDvs = Some(snap.dvs), ndvCols = ndvCols)
    (small.length.toLong, added.length.toLong)
  }

  /** Small-file compaction DEBT of the current snapshot: how many live
    * files are undersized (smaller than half `targetFileBytes` — exactly
    * [[compactSmall]]'s selection rule). The signal `t.partitions`
    * surfaces per pool and `compact(auto => true)` acts on. Zero for an
    * uncommitted dir. */
  def smallFileDebt(dir: String, targetFileBytes: Long): Int =
    currentVersion(dir) match {
      case None => 0
      case Some(v) =>
        val snap = state(dir, v)
        val fs = LakeStorage.openFor(dir)
        snap.files.count(f => snap.stats.get(f).flatMap(_.sizeBytes)
          .getOrElse(fs.getFileStatus(new Path(dir, f)).getLen) < targetFileBytes / 2)
    }

  /** Rewrite ONLY the files carrying deletion vectors (live rows kept,
    * vectors dropped) — the targeted debt-collection pass of a
    * merge-on-read table: untouched files stay untouched, so the cost is
    * proportional to the VECTORED bytes, not the table. Returns
    * (filesRewritten, positionsPurged). */
  def purgeDeletes(spark: SparkSession, dir: String,
      readSchema: Option[org.apache.spark.sql.types.StructType] = None,
      writeOptions: Map[String, String] = Map.empty,
      ndvCols: Seq[String] = Nil): (Long, Long) = {
    val snapVersion = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val snap = state(dir, snapVersion)
    if (snap.dvs.isEmpty) return (0L, 0L)
    val vectored = snap.files.filter(snap.dvs.contains)
    val survivors = applyDvs(spark, dir,
      readSnapshot(spark, dir, vectored, readSchema), snap.dvs)
    val added = stagePool(survivors, dir, writeOptions)
    commitRewrite(dir, removed = vectored, added = added,
      expectedDvs = Some(snap.dvs), ndvCols = ndvCols)
    (vectored.length.toLong, snap.deletedRows)
  }

  /** Roll the table back (or forward) to `toVersion`'s contents by
    * committing a NEW version holding that manifest — RESTORE semantics:
    * history is preserved, no file is deleted, and the rollback itself is
    * one more optimistic commit (safe against concurrent writers). The
    * target version must still be present (not vacuumed). Returns the new
    * version. */
  def rollback(dir: String, toVersion: Long): Long = {
    resolve(dir, Some(toVersion))
    val target = state(dir, toVersion)
    commitLoop(dir) { _ => Some(Snapshot(target.files, target.stats, target.dvs)) }
  }

  /** Adopt pre-existing parquet files into the table WITHOUT rewriting
    * them — the migration path into the format (CONVERT-TO-DELTA
    * analogue): place files under the table directory by any external
    * means (distcp, a legacy pipeline's output, a plain
    * `df.write.parquet`), then register them as one append commit.
    *
    * Scope: every `.parquet` file under `dir` whose NAME matches `glob`,
    * recursively, EXCLUDING hidden files/dirs (`_`/`.` — the commit log
    * itself lives there) and manifest-managed pool directories (their
    * files are already owned by commits, present or vacuumed; adopting a
    * pool file would resurrect vacuum-fodder). Files already referenced
    * by ANY surviving version are skipped, so the call is idempotent and
    * safe to re-run after partial migrations.
    *
    * Column-name drift against the current snapshot fails loudly BEFORE
    * committing (footer-only reads — no data scan): silently merging a
    * mis-shaped import is how a lake gets poisoned. The commit itself is
    * a pure O(delta) append through the optimistic loop.
    *
    * Returns (committedVersion, adoptedRelativePaths) — `currentVersion`
    * (or -1 on an empty log) with an empty list when nothing new matched. */
  def registerFiles(spark: SparkSession, dir: String,
                    glob: String = "*.parquet",
                    validate: Seq[String] => Unit = _ => ()): (Long, Seq[String]) = {
    val fs = LakeStorage.openFor(dir)
    val base = new Path(dir)
    require(fs.exists(base), s"register_files: no such table directory $dir")
    val nameMatcher = java.nio.file.FileSystems.getDefault
      .getPathMatcher("glob:" + glob)
    val found = scala.collection.mutable.Buffer.empty[String]
    def walk(p: Path, rel: String): Unit = fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        if (st.isDirectory) {
          if (!name.startsWith(DataDirPrefix)) walk(st.getPath, s"$rel$name/")
        } else if (name.endsWith(".parquet") &&
            nameMatcher.matches(java.nio.file.Paths.get(name))) {
          found += s"$rel$name"
        }
      }
    }
    walk(base, "")
    adoptFiles(spark, dir, found.toSeq, validate)
  }

  /** Adopt an EXACT dir-relative file list into the manifest as one
    * append commit (the precise-scope arm [[registerFiles]]'s directory
    * walk and the external-import procedure both commit through):
    * already-referenced names are dropped, the adoptees' merged parquet
    * shape must match the live table's, and the caller-supplied content
    * gate (CHECK-constraint scan) runs before anything commits. */
  def adoptFiles(spark: SparkSession, dir: String, rels: Seq[String],
                 validate: Seq[String] => Unit = _ => ()): (Long, Seq[String]) = {
    val fresh = rels.filterNot(allReferencedFiles(dir)).sorted
    if (fresh.isEmpty) return (currentVersion(dir).getOrElse(-1L), Seq.empty)
    currentVersion(dir).map(manifest(dir, _)).filter(_.nonEmpty).foreach { live =>
      // full (name → dataType) comparison, order-insensitive — a name-only
      // check would let a type-drifted import commit and then poison every
      // subsequent scan, the exact failure this loud gate exists to stop
      def shape(files: Seq[String]): Map[String, org.apache.spark.sql.types.DataType] =
        spark.read.parquet(files.map(f => s"$dir/$f"): _*)
          .schema.fields.map(f => f.name -> f.dataType).toMap
      val tableShape = shape(live)
      val newShape = shape(fresh)
      def render(m: Map[String, org.apache.spark.sql.types.DataType]): String =
        m.toSeq.sortBy(_._1).map { case (n, t) => s"$n:${t.simpleString}" }.mkString(",")
      require(newShape == tableShape,
        s"register_files: adopted files' schema ${render(newShape)} " +
          s"does not match the table's ${render(tableShape)} — " +
          "fix the import (or evolve the table schema first), nothing was committed")
    }
    // caller-supplied content gate over the dir-relative adoptees (the
    // catalog passes its CHECK-constraint scan here) — runs BEFORE the
    // commit, so a violating import leaves the table untouched
    validate(fresh)
    (commitStagedAppend(dir, fresh), fresh)
  }

  /** [[compact]] for BUCKET-CLUSTERED tables: the rewrite re-stages the
    * snapshot through the bucketed pool writer (hash-repartition on
    * `keyCol` into `numBuckets`), so compaction never demotes a bucketed
    * table to plain — storage-partitioned scans survive. Same rebase
    * rules as [[compact]]. Returns (filesBefore, filesAfter). */
  def compactBucketed(spark: SparkSession, dir: String, numBuckets: Int,
                      keyCol: String,
                      readSchema: Option[org.apache.spark.sql.types.StructType] = None,
                      writeOptions: Map[String, String] = Map.empty,
                      ndvCols: Seq[String] = Nil): (Long, Long) = {
    val snapVersion = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val snap = state(dir, snapVersion)
    val snapFiles = snap.files
    if (snapFiles.isEmpty) return (0L, 0L)
    val compacted = stagePoolBucketed(
      applyDvs(spark, dir, readSnapshot(spark, dir, snapFiles, readSchema), snap.dvs),
      dir, numBuckets, keyCol, writeOptions)
    commitCompacted(dir, snapVersion, snap, compacted, collectStats(dir, compacted, ndvCols))
    (snapFiles.length.toLong, compacted.length.toLong)
  }

  // ---- snapshot tags (named refs) --------------------------------------

  private val TagPrefix = "_ref_"
  private val TagNamePattern = java.util.regex.Pattern.compile("[A-Za-z0-9._-]+")

  /** Tag a committed version with a stable name — the Iceberg-refs
    * pattern: `VERSION AS OF 'name'` resolves it, and [[vacuum]] RETAINS
    * tagged history (markers, pools, vectors) however old, so a tag is a
    * durable, addressable snapshot (training-data releases, audit
    * states). One small object per tag (`_ref_<name>`, the version
    * digits); re-tagging an existing name moves it (last write wins —
    * tags are operator metadata, not a racing commit protocol). */
  def tag(dir: String, name: String, version: Long): Unit = {
    require(TagNamePattern.matcher(name).matches(),
      s"tag name '$name' must match [A-Za-z0-9._-]+")
    // VERSION AS OF resolves numeric literals as versions BEFORE trying
    // tags, so an all-digit tag name would be permanently unreadable
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — it would shadow numeric version " +
        "resolution in VERSION AS OF; include at least one non-digit")
    require(branchHead(dir, name).isEmpty,
      s"a branch named '$name' already exists on $dir — tags and branches " +
        "share the VERSION AS OF namespace")
    resolve(dir, Some(version))
    val fs = LakeStorage.openFor(dir)
    val out = fs.create(new Path(dir, s"$TagPrefix$name"), true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
  }

  def dropTag(dir: String, name: String): Boolean = {
    val fs = LakeStorage.openFor(dir)
    fs.delete(new Path(dir, s"$TagPrefix$name"), false)
  }

  /** All tags of the table, name → version. */
  def tags(dir: String): Map[String, Long] = {
    val fs = LakeStorage.openFor(dir)
    val base = new Path(dir)
    if (!fs.exists(base)) return Map.empty
    fs.listStatus(base).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith(TagPrefix))
      .flatMap { n =>
        val name = n.stripPrefix(TagPrefix)
        scala.util.Try(
          LakeStorage.readText(fs, new Path(dir, n)).trim.toLong).toOption.map(name -> _)
      }.toMap
  }

  /** Last-modified epoch millis per named ref — the staleness signal
    * `t.refs` surfaces and [[expireRefs]] acts on. A tag's clock is its
    * ref file (tags are immutable pointers: age = time since creation);
    * a branch's clock is its HEAD COMMIT marker (age = time since anyone
    * last wrote to it — a busy staging branch never looks stale). */
  def refLastModified(dir: String): Map[String, (String, Long)] = {
    val fs = LakeStorage.openFor(dir)
    val base = new Path(dir)
    if (!fs.exists(base)) return Map.empty
    val tagMs = fs.listStatus(base).iterator
      .filter(_.getPath.getName.startsWith(TagPrefix))
      .map(s => s.getPath.getName.stripPrefix(TagPrefix) ->
        ("tag", s.getModificationTime))
      .toMap
    val brMs = branches(dir).flatMap { case (name, head) =>
      val p = markerLog(branchLogDir(dir, name)).path(head)
      if (fs.exists(p))
        Some(name -> ("branch", fs.getFileStatus(p).getModificationTime))
      else None
    }
    tagMs ++ brMs
  }

  /** Retention hygiene for named refs: drop every ref of the requested
    * kinds whose [[refLastModified]] clock is older than `maxAgeMs` —
    * long-forgotten staging branches (and, opt-in, stale tags) otherwise
    * pin their pools and fork versions against [[vacuum]] forever.
    * CLONE pins ([[CloneBranchPrefix]]) are exempt: their lifetime is the
    * clone TABLE's, not a staleness window — an idle clone is still a
    * live table, and expiring its pin would corrupt every future read.
    * Returns the dropped (name, type) pairs. */
  def expireRefs(dir: String, maxAgeMs: Long,
                 kinds: Set[String] = Set("branch")): Seq[(String, String)] = {
    require(maxAgeMs >= 0, "maxAgeMs must be non-negative")
    require(kinds.nonEmpty && kinds.subsetOf(Set("branch", "tag")),
      s"ref kinds must be drawn from {branch, tag}, got $kinds")
    val now = System.currentTimeMillis()
    refLastModified(dir).toSeq.collect {
      case (name, (tpe, ms)) if kinds.contains(tpe) && now - ms > maxAgeMs &&
          !(tpe == "branch" && name.startsWith(CloneBranchPrefix)) =>
        if (tpe == "branch") dropBranch(dir, name) else dropTag(dir, name)
        (name, tpe)
    }.sortBy(_._1)
  }

  /** Resolve a tag name to its version; loud when absent. */
  def versionOfTag(dir: String, name: String): Long =
    tags(dir).getOrElse(name, throw new IllegalArgumentException(
      s"no tag '$name' on $dir (tags: ${tags(dir).keys.toSeq.sorted.mkString(", ")})"))

  // ---- branch refs / write-audit-publish --------------------------------

  private val BranchDirPrefix = "_branch_"
  private val ForkFile = "_fork"
  private val PublishedFile = "_published"

  /** Branch-name prefix reserved for zero-copy table CLONE pins (see
    * [[graft.catalog.GraftProcedures]] `clone`): a clone's entire private
    * lineage lives in such a branch log while its data pools stay in the
    * source table's data plane. The prefix is what lets retention
    * ([[expireRefs]]) and the publish/drop procedures tell a clone's
    * load-bearing pin apart from an ordinary WAP staging branch. */
  val CloneBranchPrefix = "clone-"

  /** A branch's marker-log directory. The branch is a FULL manifest log of
    * its own (markers, head pointer, checkpoints — every log mechanism
    * works on it verbatim) nested under the table root; its file keys stay
    * relative to the PARENT root, and all data pools live there too, so a
    * branch never copies data — creating one writes one snapshot marker
    * and one fork-version file, whatever the table size. */
  private[graft] def branchLogDir(dir: String, name: String): String =
    s"$dir/$BranchDirPrefix$name"

  /** Create branch `name` at the table's current version — the
    * write-audit-publish workflow's staging ref (the table-granularity
    * generalization of the reference's fail-fast publish contract,
    * DatalakePublishService.kt:79-88: stage everything, validate, then
    * expose atomically). Writers target the branch (catalog: session conf
    * `graft.wap.branch`, or core [[appendToBranch]]); audit queries read
    * it (`VERSION AS OF 'name'`); [[fastForward]] publishes. Returns the
    * MAIN version the branch forked from.
    *
    * `atVersion` forks from a PAST committed version instead of the head —
    * what zero-copy table CLONEs pin (fork at the clone-time snapshot);
    * the version must still resolve (not vacuumed, or tag-retained). */
  def createBranch(dir: String, name: String,
                   atVersion: Option[Long] = None): Long = {
    require(TagNamePattern.matcher(name).matches(),
      s"branch name '$name' must match [A-Za-z0-9._-]+")
    require(!name.forall(_.isDigit),
      s"branch name '$name' is all digits — it would shadow numeric " +
        "version resolution in VERSION AS OF; include at least one non-digit")
    require(!tags(dir).contains(name),
      s"a tag named '$name' already exists on $dir — tags and branches " +
        "share the VERSION AS OF namespace")
    require(branchHead(dir, name).isEmpty, s"branch '$name' already exists on $dir")
    val forkV = resolve(dir, atVersion).getOrElse(throw new IllegalStateException(
      s"cannot branch $dir — no committed version to fork from"))
    val st = state(dir, forkV)
    val log = branchLogDir(dir, name)
    commitLoop(log) { base =>
      require(base.isEmpty, s"branch '$name' already exists on $dir")
      Some(Snapshot(st.files, st.stats, st.dvs))
    }
    val fs = LakeStorage.openFor(dir)
    val out = fs.create(new Path(log, ForkFile), true)
    try out.write(forkV.toString.getBytes("UTF-8")) finally out.close()
    forkV
  }

  /** All branches of the table, name → branch-log head version. */
  def branches(dir: String): Map[String, Long] = {
    val fs = LakeStorage.openFor(dir)
    val base = new Path(dir)
    if (!fs.exists(base)) return Map.empty
    fs.listStatus(base).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(BranchDirPrefix))
      .flatMap { s =>
        val name = s.getPath.getName.stripPrefix(BranchDirPrefix)
        currentVersion(s"$dir/${s.getPath.getName}").map(name -> _)
      }.toMap
  }

  /** Head version of the branch's own log, None if the branch doesn't
    * exist. */
  def branchHead(dir: String, name: String): Option[Long] = {
    val fs = LakeStorage.openFor(dir)
    if (!fs.exists(new Path(branchLogDir(dir, name)))) None
    else currentVersion(branchLogDir(dir, name))
  }

  /** The MAIN version the branch forked from. */
  def forkVersion(dir: String, name: String): Long = {
    val fs = LakeStorage.openFor(dir)
    val p = new Path(branchLogDir(dir, name), ForkFile)
    require(fs.exists(p), s"no branch '$name' on $dir")
    LakeStorage.readText(fs, p).trim.toLong
  }

  /** True when the branch exists WITH its fork anchor. A writer that
    * races [[dropBranch]]/[[expireRefs]] could otherwise recreate the
    * branch's log directory through its commit's mkdirs — a fork-less
    * zombie no read or publish can resolve. Branch writers check this
    * and fail LOUDLY instead ([[requireBranchIntact]]); [[vacuum]]
    * tolerates a zombie (skips its fork retention, still retains its
    * referenced pools) rather than throwing forever. */
  def branchIntact(dir: String, name: String): Boolean =
    LakeStorage.openFor(dir).exists(new Path(branchLogDir(dir, name), ForkFile))

  private[graft] def requireBranchIntact(dir: String, name: String): Unit =
    if (!branchIntact(dir, name))
      throw new IllegalStateException(
        s"branch '$name' on $dir was dropped (no fork anchor) — the staging " +
          "session raced drop_branch/expire_refs; re-create the branch and " +
          "re-stage")

  /** Current state of the branch (file keys relative to the PARENT root). */
  def branchState(dir: String, name: String): TableState = {
    val head = branchHead(dir, name).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $dir " +
        s"(branches: ${branches(dir).keys.toSeq.sorted.mkString(", ")})"))
    state(branchLogDir(dir, name), head)
  }

  /** Append `df` to branch `name`: the pool lands in the PARENT root
    * (shared data plane), the delta marker in the branch log. */
  def appendToBranch(df: DataFrame, dir: String, name: String): Long = {
    require(branchHead(dir, name).isDefined, s"no branch '$name' on $dir")
    requireBranchIntact(dir, name)
    commitStagedAppend(branchLogDir(dir, name), stagePool(df, dir),
      dataDir = Some(dir))
  }

  /** Replace branch `name`'s contents with `df` (snapshot semantics on
    * the branch; main is untouched until [[fastForward]]). */
  def writeToBranch(df: DataFrame, dir: String, name: String): Long = {
    require(branchHead(dir, name).isDefined, s"no branch '$name' on $dir")
    requireBranchIntact(dir, name)
    commitStagedSnapshot(branchLogDir(dir, name), stagePool(df, dir),
      dataDir = Some(dir))
  }

  /** The branch-log version [[fastForward]] last published to main, None
    * before the first publish. Publishing advances this watermark so the
    * NEXT publish diffs against what main already has from this branch —
    * a branch that gains commits after a publish re-publishes only its
    * net-new delta (per-file idempotent), never its already-published
    * files a second time. */
  private[graft] def publishedVersion(dir: String, name: String): Option[Long] = {
    val fs = LakeStorage.openFor(dir)
    val p = new Path(branchLogDir(dir, name), PublishedFile)
    if (!fs.exists(p)) return None
    // the watermark is a best-effort cache, written create-overwrite (the
    // `_head` pattern): a torn/empty file — a racing twin publish caught
    // mid-write, or a crash between create and write — parses as ABSENT,
    // which only re-widens the next diff to the fork base; the per-file
    // idempotent delta keeps that publish correct regardless
    scala.util.Try(LakeStorage.readText(fs, p).trim.toLong).toOption
  }

  private def writePublished(dir: String, name: String, brV: Long): Unit = {
    val fs = LakeStorage.openFor(dir)
    val out = fs.create(new Path(branchLogDir(dir, name), PublishedFile), true)
    try out.write(brV.toString.getBytes("UTF-8")) finally out.close()
  }

  /** PUBLISH: fast-forward main to the branch's audited state, as ONE
    * atomic optimistic commit of the branch's net delta vs its publish
    * base (added files, removed files, changed deletion vectors). The
    * publish base is the branch state [[publishedVersion]] last pushed to
    * main — the fork snapshot before any publish — so stage → publish →
    * stage more → publish again ships each file exactly once (the second
    * delta covers only commits after the first publish; the watermark
    * advances on every publish, and the delta is additionally filtered
    * against main's current files inside the commit loop, making the
    * whole operation per-file idempotent under races). Rebases cleanly
    * over concurrent main APPENDS — files the branch never saw stay live,
    * write-serializable, same rule as [[commitRewrite]] — and ABORTS
    * (`ConcurrentModificationException`) if a concurrent main writer
    * removed/replaced/re-vectored any publish-base file: the audit is
    * stale and publishing would lose that writer's change. The branch
    * survives the publish (stage more, re-audit, re-publish, or
    * [[dropBranch]] it); a publish of an unchanged branch is a no-op.
    * Returns the new MAIN version. */
  def fastForward(dir: String, name: String): Long = {
    val brHeadV = branchHead(dir, name).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $dir"))
    requireBranchIntact(dir, name)
    val log = branchLogDir(dir, name)
    // branch-log v1 IS the fork snapshot, so the publish base is uniformly
    // a branch-log version: the watermark, or the fork before any publish
    val baseBrV = publishedVersion(dir, name).getOrElse(1L)
    val base = state(log, baseBrV)
    val br = state(log, brHeadV)
    val baseFiles = base.files.toSet
    val brFiles = br.files.toSet
    val adds = br.files.filterNot(baseFiles)
    val removes = base.files.filterNot(brFiles)
    // vectors that CHANGED on files the branch kept (replacement-per-file
    // fold semantics carry them onto main)
    val dvChanges = br.dvs.filter { case (f, ref) =>
      brFiles.contains(f) && base.dvs.get(f).map(_.path) != Some(ref.path)
    }
    if (adds.isEmpty && removes.isEmpty && dvChanges.isEmpty) {
      // nothing to publish; still advance the watermark (e.g. branch
      // commits that net out) so later diffs stay short
      if (brHeadV != baseBrV) writePublished(dir, name, brHeadV)
      return currentVersion(dir).getOrElse(forkVersion(dir, name))
    }
    // re-publishing an already-published delta (or losing a double-publish
    // race to a twin) is a NO-OP, not a conflict: the per-file filter
    // below empties the delta, detected inside the loop so the check sees
    // the same state the commit would
    var publishedAt: Option[Long] = None
    val out = try commitLoop(dir) { cur =>
      val curState = cur.map(state(dir, _))
        .getOrElse(EmptyState)
      val live = curState.files.toSet
      // per-file idempotence: never re-add a file main already has, never
      // re-remove one already gone, never re-attach an identical vector
      val effAdds = adds.filterNot(live)
      val effRemoves = removes.filter(live.contains)
      val effDvs = dvChanges.filter { case (f, r) =>
        live.contains(f) && curState.dvs.get(f).map(_.path) != Some(r.path)
      }
      if (cur.isDefined && effAdds.isEmpty && effRemoves.isEmpty && effDvs.isEmpty) {
        publishedAt = cur; None
      } else {
        // EVERY publish-base file must be exactly as the base saw it
        // (live, same vector) — removed ones because publishing re-removes
        // them, kept ones because the audited content includes their rows:
        // a concurrent main commit that replaced / removed / re-vectored
        // any of them means the audit is stale, and publishing over it
        // would silently drop that writer's change. (A twin publishing the
        // SAME delta lands in the no-op arm above, not here — commits are
        // atomic, so a twin's effect is all-or-nothing.) Files main
        // APPENDED since the base are carried untouched (rows the audit
        // never claimed to cover — the same write-serializable rule as
        // [[commitRewrite]]).
        val baseClean = base.files.forall(f => live.contains(f) &&
          curState.dvs.get(f).map(_.path) == base.dvs.get(f).map(_.path))
        if (baseClean)
          Some(Delta(add = effAdds,
            remove = effRemoves,
            stats = effAdds.iterator.flatMap(f => br.stats.get(f).map(f -> _)).toMap,
            dvs = effDvs))
        else None
      }
    } catch {
      case e: java.util.ConcurrentModificationException =>
        publishedAt.getOrElse(throw new java.util.ConcurrentModificationException(
          s"publish of branch '$name' to $dir aborted: a concurrent main " +
            "commit changed publish-base files since the branch's last " +
            s"publish base (branch-log v$baseBrV) — re-audit on a fresh " +
            "branch and publish that"))
    }
    writePublished(dir, name, brHeadV)
    out
  }

  /** Delete the branch: its log directory only — data pools it staged
    * stay in the parent root and become [[vacuum]] fodder once no ref
    * (main version or other branch) holds them. */
  def dropBranch(dir: String, name: String): Boolean = {
    val fs = LakeStorage.openFor(dir)
    fs.delete(new Path(branchLogDir(dir, name)), true)
  }

  /** Retention window for NEVER-COMMITTED data pools. A pool with no
    * referencing marker is either a crashed writer's garbage or a live
    * writer's staged-but-not-yet-committed pool — indistinguishable from
    * the outside. Pools referenced only by EXPIRED markers are provably
    * dead (a committed pool is never re-staged), so [[vacuum]] removes
    * those immediately; never-committed pools survive until their
    * directory is older than this, which is what makes vacuum safe to run
    * while writers append/compact (their in-flight pools stay fresh). */
  val OrphanRetainMs: Long = 60L * 60 * 1000

  /** Delete commit markers older than the `keep` most recent, any
    * data-pool directory referenced only by those expired manifests, and
    * any never-committed pool (crashed-writer orphan) older than
    * `orphanRetainMs`. Never-committed pools YOUNGER than the threshold
    * are left alone — they may be a concurrent writer's staging area,
    * whose commit would otherwise point at deleted files.
    * Before deleting markers, a checkpoint is written at the oldest kept
    * version so every kept version stays resolvable without the truncated
    * history (a reader caught mid-scan by the truncation re-anchors at
    * that checkpoint — see [[manifest]]'s retry).
    * `keep >= 2` leaves a grace version for readers that resolved the
    * manifest just before a commit. Returns the number of pool
    * directories removed. */
  def vacuum(dir: String, keep: Int = 2, orphanRetainMs: Long = OrphanRetainMs,
             dryRun: Boolean = false): Int = {
    require(keep >= 1, "must keep at least the current version")
    val fs = LakeStorage.openFor(dir)
    val base = new Path(dir)
    if (!fs.exists(base)) return 0
    val committed = allVersions(dir)
    if (committed.isEmpty) return 0
    // tagged versions are RETAINED however old: each gets its own
    // checkpoint (so it stays resolvable after older markers truncate),
    // its marker survives, and its pools stay referenced. Live branches'
    // FORK versions are retained the same way — [[fastForward]] computes
    // the publish delta against the fork base, so it must stay resolvable
    // for as long as the branch exists.
    val forks = branches(dir).keysIterator
      .flatMap(b => scala.util.Try(forkVersion(dir, b)).toOption) // zombie-tolerant
      .toSet
    val tagged = (tags(dir).values.toSet ++ forks).intersect(committed.toSet)
    val kept = (committed.takeRight(keep).toSet ++ tagged).toSeq.sorted
    val cutoff = committed.takeRight(keep).head
    // anchor the surviving log BEFORE truncating it (a DRY RUN is
    // strictly read-only: it neither anchors nor truncates nor deletes —
    // it reports the pool count the same plan would remove)
    if (!dryRun) {
      writeCheckpoint(dir, cutoff, state(dir, cutoff))
      tagged.filter(_ < cutoff).foreach(v => writeCheckpoint(dir, v, state(dir, v)))
    }
    // pool dirs referenced by any kept / any committed manifest (first
    // path segment — data files AND deletion-vector files); committed-
    // but-not-kept pools are dead on expiry, unreferenced-by-any pools
    // get the orphan retention window
    // BRANCH-referenced pools are protected like kept versions': a branch
    // is a live staging ref whose every committed version must stay
    // readable until the branch is dropped (un-published audit state is
    // exactly what must never be vacuumed away)
    val branchRefs: Set[String] = branches(dir).keysIterator
      .flatMap(b => allReferencedFiles(branchLogDir(dir, b)))
      .map(_.split("/", 2).head).toSet
    val referencedKept: Set[String] =
      kept.flatMap { v =>
        val st = state(dir, v)
        (st.files ++ st.dvs.valuesIterator.map(_.path)).map(_.split("/", 2).head)
      }.toSet ++ branchRefs
    val referencedAny: Set[String] =
      allReferencedFiles(dir).map(_.split("/", 2).head)
    val now = System.currentTimeMillis()
    var removed = 0
    fs.listStatus(base).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(DataDirPrefix) && !referencedKept.contains(name)) {
        val expiredCommitted = referencedAny.contains(name)
        if (expiredCommitted || now - st.getModificationTime > orphanRetainMs) {
          if (!dryRun && !fs.delete(st.getPath, true))
            throw new IllegalStateException(s"vacuum: failed to delete ${st.getPath}")
          removed += 1
        }
      } else if (!dryRun) {
        VersionLog.version(MarkerPrefix, name).foreach { v =>
          if (v < cutoff && !tagged.contains(v)) { fs.delete(st.getPath, false); () }
        }
        VersionLog.version(CkptPrefix, name).foreach { v =>
          if (v < cutoff && !tagged.contains(v)) { fs.delete(st.getPath, false); () }
        }
      }
    }
    removed
  }

  /** Write `df`'s files into the pool directory `poolName` (a fresh
    * uniquely-named one by default) and return their dir-relative paths.
    * The pool is invisible until some manifest references it. */
  private def writePool(df: DataFrame, dir: String,
      poolName: String = DataDirPrefix + java.util.UUID.randomUUID().toString,
      writeOptions: Map[String, String] = Map.empty): Seq[String] =
    ManifestPoolWriter.write(df, s"$dir/$poolName", writeOptions).map(n => s"$poolName/$n")

  // ---- commit protocol -------------------------------------------------

  private sealed trait Commit
  private final case class Snapshot(files: Seq[String],
      stats: Map[String, FileStats.Stats],
      dvs: Map[String, DeletionVectors.DvRef] = Map.empty) extends Commit
  private final case class Delta(add: Seq[String], remove: Seq[String],
      stats: Map[String, FileStats.Stats],
      dvs: Map[String, DeletionVectors.DvRef] = Map.empty) extends Commit

  /** Optimistic commit through the marker log's claim loop: compute the
    * commit action against the current version and claim marker
    * `current + 1`; a lost claim re-reads and rebases. `action(base)`
    * returning None aborts (the rebase found the attempt stale). After a
    * commit at an anchor version, also writes the checkpoint. Returns the
    * committed version. */
  private def commitLoop(dir: String, maxRetries: Int = 20)(
      action: Option[Long] => Option[Commit]): Long = {
    val next = markerLog(dir).commit(first = 1L, attempts = maxRetries + 1) { base =>
      action(base) match {
        case None => throw new java.util.ConcurrentModificationException(
          s"commit to $dir aborted: the files this attempt rewrote were " +
            "replaced by a concurrent writer (stale rewrite) — rerun")
        case Some(commit) => Some(encodeCommit(commit))
      }
    }.get
    if (VersionLog.isAnchor(next)) writeCheckpoint(dir, next, state(dir, next))
    next
  }

  /** The marker JSON of one commit. */
  private def encodeCommit(commit: Commit): Array[Byte] = {
    import org.json4s.{JArray, JObject, JString, JValue}
    def statsObj(st: Map[String, FileStats.Stats]): List[(String, JValue)] =
      if (st.isEmpty) Nil
      else List("st" -> JObject(st.toList.sortBy(_._1).map { case (f, v) =>
        f -> FileStats.toJson(v)
      }))
    def dvObj(dv: Map[String, DeletionVectors.DvRef]): List[(String, JValue)] =
      if (dv.isEmpty) Nil
      else List("dv" -> JObject(dv.toList.sortBy(_._1).map { case (f, v) =>
        f -> DeletionVectors.toJson(v)
      }))
    VersionLog.render(commit match {
      case Snapshot(files, st, dv) =>
        JObject(("s" -> (JArray(files.map(JString(_)).toList): JValue)) ::
          (statsObj(st) ++ dvObj(dv)))
      case Delta(add, remove, st, dv) =>
        JObject(
          ("a" -> (JArray(add.map(JString(_)).toList): JValue)) ::
          ("r" -> (JArray(remove.map(JString(_)).toList): JValue)) ::
          (statsObj(st) ++ dvObj(dv)))
    })
  }
}
