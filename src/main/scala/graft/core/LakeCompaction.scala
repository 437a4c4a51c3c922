package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Bronze compaction (the north-star's OPTIMIZE/rewrite-files action,
  * BASELINE.json:7, on plain parquet since no table-format jars ship here).
  *
  * The one-document-per-object publish pattern (ref write amplification:
  * 1 object per resource, BASELINE.md) produces small-file storms at scale.
  * Compaction rewrites a partition subtree into ~targetFileBytes parquet
  * files: read -> coalesce to ceil(bytes/target) -> swap via paired renames
  * (old aside, then compacted into place — the no-data window is just the
  * instant between the two renames, and a crash leaves the old data
  * recoverable in the __gc dir; NOT atomic on stores without atomic rename).
  * Run per partition (tenant/date) so reads stay pruned and the rewrite
  * parallelizes across partitions.
  *
  * A reader concurrent with the swap can catch the instant between the two
  * renames and fail. For in-place compaction under live readers use
  * [[ManifestTable.compact]] instead: versions become visible through one
  * marker creation, so a concurrent reader always resolves a complete
  * directory (property-tested in ManifestTableSpec).
  */
object LakeCompaction {

  /** Compact one directory of small files into parquet. Returns
    * (filesBefore, filesAfter).
    *
    * `clusterBy` (the OPTIMIZE ... ZORDER-BY analogue) range-partitions and
    * sorts the rewrite on the given columns — for multi-dimension
    * clustering pass a computed key column (see
    * [[graft.functions.ZOrder.zorder2]]) materialized by the writer — so
    * every output file covers a narrow value range and selective reads
    * prune whole files/row groups (measured in ClusteringSpec). Costs one
    * shuffle of the partition being compacted, which is the price of
    * clustering in any table format; empty = plain coalesce (no shuffle,
    * layout preserved). */
  def compactParquet(spark: SparkSession, dir: String,
                     targetFileBytes: Long = 128L * 1024 * 1024,
                     clusterBy: Seq[String] = Nil): (Long, Long) = {
    val fs = LakeStorage.openFor(dir)
    val path = new org.apache.hadoop.fs.Path(dir)
    val before = fs.listStatus(path).filter(_.isFile)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val tmp = new org.apache.hadoop.fs.Path(dir + "__compacting")
    val df = spark.read.parquet(dir)
    val rewritten =
      if (clusterBy.isEmpty) df.coalesce(nOut)
      else df.repartitionByRange(nOut, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    if (fs.exists(tmp) && !fs.delete(tmp, true))
      throw new IllegalStateException(s"compaction: failed to clear stale $tmp")
    ManifestPoolWriter.write(rewritten, tmp.toString)
    swapDirs(fs, path, tmp)
    val after = fs.listStatus(path).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    (before.length.toLong, after.length.toLong)
  }

  /** The rename-aside swap shared by the directory-format compactors.
    * Hadoop delete/rename signal failure via booleans, not exceptions —
    * fail loudly on each step. Rename the old dir ASIDE first (rather than
    * delete-then-rename): a crash mid-swap then strands nothing — the old
    * data survives in __gc and the compacted copy in the tmp dir — and the
    * directory-absent window for concurrent readers shrinks to the gap
    * between the two renames. */
  private[graft] def swapDirs(fs: org.apache.hadoop.fs.FileSystem,
                              path: org.apache.hadoop.fs.Path,
                              tmp: org.apache.hadoop.fs.Path): Unit = {
    val gc = new org.apache.hadoop.fs.Path(path.toString + "__gc")
    if (fs.exists(gc) && !fs.delete(gc, true))
      throw new IllegalStateException(s"compaction: failed to clear stale $gc")
    if (!fs.rename(path, gc))
      throw new IllegalStateException(
        s"compaction: failed to move $path aside; compacted copy preserved at $tmp")
    if (!fs.rename(tmp, path)) {
      val rolledBack = fs.rename(gc, path) // roll back: restore the original
      throw new IllegalStateException(
        if (rolledBack)
          s"compaction: failed to move $tmp into place; original restored, compacted data preserved at $tmp"
        else
          s"compaction: failed to move $tmp into place AND rollback failed — partition dir absent; original preserved at $gc, compacted at $tmp")
    }
    if (!fs.delete(gc, true))
      throw new IllegalStateException(s"compaction: swap done but failed to delete $gc")
  }

  /** Compact a keyed-log directory: rewrite through the connector's
    * CLUSTERED write (Spark plans the key shuffle + sort, the sink writes
    * one file per key — the format's minimal clustered layout, so
    * storage-partitioned reads and bucket declarations survive), then the
    * same rename-aside swap as [[compactParquet]]. Like that path — and
    * unlike [[ManifestTable.compact]], whose versions swap atomically —
    * a reader can catch the instant between the two renames; keyed-log
    * dirs are directory formats, not manifest tables. Returns
    * (filesBefore, filesAfter). */
  def compactKeyedLog(spark: SparkSession, dir: String,
      declared: Option[org.apache.spark.sql.types.StructType] = None): (Long, Long) = {
    val fs = LakeStorage.openFor(dir)
    val path = new org.apache.hadoop.fs.Path(dir)
    val dataFile = (s: org.apache.hadoop.fs.FileStatus) =>
      s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")
    val before = fs.listStatus(path).count(dataFile)
    val tmp = new org.apache.hadoop.fs.Path(dir + "__compacting")
    if (fs.exists(tmp) && !fs.delete(tmp, true))
      throw new IllegalStateException(s"compaction: failed to clear stale $tmp")
    // a drifted table (catalog-added extra columns) must compact at its
    // DECLARED width, or the rewrite would silently truncate every row
    // back to the 3-column core
    val reader = spark.read.format("graft.sources.KeyedLogSource")
    declared.foreach(reader.schema)
    graft.sources.KeyedLogSource.append(reader.load(dir), tmp.toString,
      Map("clusterByKey" -> "true"))
    // the rewrite's own commit journaled the compacted files as the tmp
    // dir's version 0 — drop that: the journal entry must continue the
    // TABLE's version line, which is carried over next
    val conf = LakeStorage.taskConf()
    val compactedNames = fs.listStatus(tmp).filter(dataFile).map(_.getPath.getName).toSeq
    // the rewrite's writers journaled fresh column stats into the tmp
    // dir's own v0 entry — harvest them before dropping that journal so
    // the table's rewrite entry keeps every file skippable
    val compactedStats = {
      val vs = graft.sources.KeyedLogVersionLog.versions(tmp.toString, conf)
      if (vs.isEmpty) Map.empty[String, Map[String, (Long, Long)]]
      else graft.sources.KeyedLogVersionLog.statsJournaled(tmp.toString, conf, vs)
    }
    graft.sources.KeyedLogVersionLog.drop(tmp.toString, conf)
    // carry metadata (e.g. the catalog's _graft_table.json descriptor and
    // the commit journal) into the compacted dir — the swap must replace
    // DATA, not identity
    fs.listStatus(path).filterNot(dataFile).filter(_.isFile).foreach { s =>
      if (!fs.rename(s.getPath, new org.apache.hadoop.fs.Path(tmp, s.getPath.getName)))
        throw new IllegalStateException(
          s"compaction: failed to carry ${s.getPath.getName} into the compacted dir")
    }
    // journal the compaction as the NEXT table version holding the whole
    // compacted file set, marked as a REWRITE — the manifest-CDC rewrite
    // contract: incremental consumers past this version see the rewritten
    // rows again (upsert semantics) and t.changes tags them 'rewrite';
    // cursors into the pre-compaction file names fail loudly
    graft.sources.KeyedLogVersionLog.commit(tmp.toString, conf, compactedNames,
      rewrite = true, stats = compactedStats)
    swapDirs(fs, path, tmp)
    val after = fs.listStatus(path).count(dataFile)
    (before.toLong, after.toLong)
  }
}
