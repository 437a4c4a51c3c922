package graft.catalog

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.ManifestTable

/** The plain manifest scan, upgraded to a STREAMING SOURCE
  * (`spark.readStream.table("cat.db.t")`): batch reading delegates
  * wholesale to the built-in [[ParquetScan]] (pushdown, pruning,
  * vectorization untouched — this wrapper only forwards), and
  * `toMicroBatchStream` serves the table as a micro-batch stream whose
  * OFFSET IS THE MANIFEST VERSION.
  *
  * The manifest is already a log: each committed version names exactly
  * the files it added, so batch N..M is the file diff `manifest(M) \
  * manifest(N)` — no side metadata log, no listing races (a version is
  * visible atomically or not at all), and exactly-once replay for free:
  * Spark checkpoints the version offset, and the diff for a replayed
  * (start, end] is deterministic. Together with
  * [[ManifestStreamingWrite]] (each epoch = one committed version) a
  * manifest table is a full streaming hub: streams write versions in,
  * streams read versions out, batch SQL and time travel see the same
  * snapshots. Same upsert caveat as the `start_version` batch option:
  * file-granularity rewrites (DML/compaction) resurface rewritten rows;
  * vacuuming past a checkpointed offset fails the stream loudly. */
case class ManifestStreamScan(inner: ParquetScan, dir: String,
                              declared: StructType,
                              startVersion: Long = 0L,
                              exactRowCount: Option[Long] = None,
                              pushedCatalyst: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Seq.empty,
                              maxVersionsPerTrigger: Option[Long] = None,
                              maxFilesPerTrigger: Option[Long] = None,
                              maxBytesPerTrigger: Option[Long] = None,
                              colStats: Map[String, ManifestScanBuilder.ServedColStat] = Map.empty)
                             // second parameter list: runtime-pruning
                             // inputs, EXCLUDED from case-class equality
                             // (the rebuild closure would defeat the
                             // file-set-keyed scan reuse the first list
                             // preserves)
                             (val plannedFiles: Seq[String] = Seq.empty,
                              val pathStats: Map[String, graft.core.FileStats.Stats] = Map.empty,
                              val rebuildScan: Option[Seq[String] => ParquetScan] = None)
    extends Scan with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.internal.connector.SupportsMetadata {

  override def readSchema(): StructType = inner.readSchema()
  override def toBatch: org.apache.spark.sql.connector.read.Batch = runtimeScan.toBatch
  override def description(): String = inner.description()
  /** Parquet's size estimate, upgraded with the EXACT planned-file row
    * count when the manifest's data-skipping stats cover every planned
    * file — the cardinality CBO/AQE join planning wants, free from the
    * log (Delta reports stats-derived rowCount the same way). An upper
    * bound when data filters apply post-scan, exact otherwise — the same
    * contract as the size estimate itself. */
  override def estimateStatistics(): Statistics = {
    val base = inner.estimateStatistics()
    if (exactRowCount.isEmpty && colStats.isEmpty) return base
    // log-served column statistics (NDV from merged HLL sketches + null
    // counts + integral bounds) ride the v2 Statistics into catalyst
    // ColumnStat via transformV2Stats — CBO estimation without ANALYZE
    val colMap: java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      colStats.foreach { case (name, s) =>
        m.put(org.apache.spark.sql.connector.expressions.Expressions.column(name),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              s.distinct.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
            override def nullCount(): java.util.OptionalLong =
              s.nulls.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
            override def min(): java.util.Optional[Object] =
              s.minVal.map(v => java.util.Optional.of(v: Object))
                .getOrElse(java.util.Optional.empty[Object]())
            override def max(): java.util.Optional[Object] =
              s.maxVal.map(v => java.util.Optional.of(v: Object))
                .getOrElse(java.util.Optional.empty[Object]())
            override def histogram(): java.util.Optional[
                org.apache.spark.sql.connector.read.colstats.Histogram] =
              s.hist match {
                case None => java.util.Optional.empty()
                case Some((h, bs)) => java.util.Optional.of(
                  new org.apache.spark.sql.connector.read.colstats.Histogram {
                    override def height(): Double = h
                    override def bins(): Array[
                        org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                      bs.map { case (l, u, d) =>
                        new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                          override def lo(): Double = l
                          override def hi(): Double = u
                          override def ndv(): Long = d
                        }: org.apache.spark.sql.connector.read.colstats.HistogramBin
                      }.toArray
                  })
              }
          })
      }
      m
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = base.sizeInBytes()
      override def numRows(): java.util.OptionalLong =
        exactRowCount.map(java.util.OptionalLong.of).getOrElse(base.numRows())
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colMap
    }
  }
  // EXPLAIN metadata (PushedFilters/ReadSchema lines) stays the parquet scan's
  override def getMetaData(): Map[String, String] = inner.getMetaData()

  // Runtime (dynamic) pruning: after a join's build side executes, Spark
  // hands the probe-side scan the build keys (e.g. an IN filter) and
  // re-plans via toBatch. Two levels, both from the same filters:
  //  1. FILE-level: the log's per-file min/max statistics drop every
  //     planned file no build key can live in, and the parquet scan is
  //     REBUILT over the survivors — the excluded files are never opened
  //     (no footer read, no split), which is the level that matters when
  //     a dimension filter touches a sliver of a 10⁵-file fact table.
  //  2. ROW-GROUP level: the filters are also re-pushed into the rebuilt
  //     scan's pushedFilters, so surviving files still skip row groups
  //     whose footer statistics exclude every key.
  // Join runtime filters are semantically droppable rows only, so
  // over-pruning conservatively (mayMatchFilter) and over-pushing are
  // both always safe; any rebuild surprise falls back to the full scan.
  @volatile private[graft] var runtimeScan: ParquetScan = inner
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    inner.readDataSchema.fieldNames
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val readable = inner.readDataSchema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    RuntimePruning(inner, plannedFiles, pathStats, rebuildScan, declared,
      readable, filters).foreach(runtimeScan = _)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ManifestMicroBatchStream(dir, declared, inner.readDataSchema, startVersion,
      pushedCatalyst, maxVersionsPerTrigger, maxFilesPerTrigger,
      maxBytesPerTrigger)
}

/** The runtime (join-driven) pruning algorithm shared by the plain scan
  * ([[ManifestStreamScan]]) and the vectored scan
  * ([[graft.catalog.RowAddressScan]]): keep the filters whose references
  * the scan can read, FILE-prune the planned list through ONE compiled
  * evaluator ([[graft.core.FileStats.compileFilterPruner]] — the IN shape
  * range-checks each file in O(log keys), not O(keys)), rebuild the
  * parquet scan over the survivors, and re-push the filters for row-group
  * skipping in the files that remain. Any rebuild surprise falls back to
  * the un-pruned scan — runtime filters are droppable rows only, so both
  * over-keeping and over-pushing are always safe. */
private[catalog] object RuntimePruning {
  def apply(inner: ParquetScan,
            plannedFiles: Seq[String],
            pathStats: Map[String, graft.core.FileStats.Stats],
            rebuild: Option[Seq[String] => ParquetScan],
            schema: StructType,
            readable: Set[String],
            filters: Array[org.apache.spark.sql.sources.Filter]): Option[ParquetScan] = {
    val supported = filters.filter(_.references.forall(r =>
      readable.contains(r.toLowerCase(java.util.Locale.ROOT))))
    if (supported.isEmpty) return None
    val base = rebuild match {
      case Some(rb) if plannedFiles.nonEmpty =>
        val mayMatch =
          graft.core.FileStats.compileFilterPruner(supported.toSeq, schema)
        val survivors = plannedFiles.filter(p =>
          pathStats.get(p).forall(mayMatch))
        if (survivors.length < plannedFiles.length)
          scala.util.Try(rb(survivors)).getOrElse(inner)
        else inner
      case _ => inner
    }
    Some(base.copy(pushedFilters = base.pushedFilters ++ supported))
  }
}

/** Offset = committed manifest version (0 = before the first commit). */
case class ManifestVersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

class ManifestMicroBatchStream(dir: String, declared: StructType,
                               prunedSchema: StructType,
                               startVersion: Long = 0L,
                               pushedCatalyst: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Seq.empty,
                               maxVersionsPerTrigger: Option[Long] = None,
                               maxFilesPerTrigger: Option[Long] = None,
                               maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  /** A fresh stream begins after `start_version` (default 0 = the whole
    * table) — the streaming twin of the batch CDC option; a checkpointed
    * stream always resumes from its own offset instead. */
  override def initialOffset(): Offset = ManifestVersionOffset(startVersion)
  override def latestOffset(): Offset =
    ManifestVersionOffset(ManifestTable.currentVersion(dir).getOrElse(0L))
  override def deserializeOffset(json: String): Offset =
    ManifestVersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // ---- Trigger.AvailableNow (batch-drain): pin the version visible when
  // the trigger fires, process up to it, stop — commits racing the drain
  // land in the NEXT run, from the checkpointed offset. ----
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(ManifestTable.currentVersion(dir).getOrElse(0L))
  /** Admission control: `maxVersionsPerTrigger` / `maxFilesPerTrigger`
    * read options bound each micro-batch — what makes a from-version-0
    * backfill of a LARGE table drain in bounded batches instead of one
    * giant first batch (each throttled batch checkpoints its offset, so a
    * restart mid-backfill resumes exactly). At least one version is
    * always admitted (progress guarantee); the file budget is version-
    * granular (a single over-budget version still ships whole — versions
    * are the atomic replay unit). Under Trigger.AvailableNow the pinned
    * cap still bounds the DRAIN; the throttle just splits it into
    * multiple batches, which Spark loops until the cap is reached. */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val target = availableNowCap.getOrElse(
      ManifestTable.currentVersion(dir).getOrElse(0L))
    val from = start.asInstanceOf[ManifestVersionOffset].v
    ManifestVersionOffset(StreamAdmission.admit(dir, from, target,
      maxVersionsPerTrigger, maxFilesPerTrigger, maxBytesPerTrigger))
  }
  override def reportLatestOffset(): Offset = latestOffset()

  private def requireCommitted(v: Long): Unit =
    if (v > 0L) ManifestTable.resolve(dir, Some(v))

  /** A per-batch parquet scan over exactly the files the version window
    * added, pruned to the streaming query's required columns, with the
    * stream's pushed predicates RE-PUSHED so each batch gets parquet
    * row-group skipping too (Spark re-applies every predicate above the
    * scan, so over-pushing is always safe). */
  private def batchScan(relFiles: Seq[String],
      stats: Map[String, graft.core.FileStats.Stats]): ParquetScan = {
    val builder = ManifestFileIndex.scanBuilder(SparkSession.active, declared,
      dir, relFiles, stats, CaseInsensitiveStringMap.empty())
    if (pushedCatalyst.nonEmpty) builder.pushFilters(pushedCatalyst)
    builder.pruneColumns(prunedSchema)
    builder.build().asInstanceOf[ParquetScan]
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ManifestVersionOffset].v
    val to = end.asInstanceOf[ManifestVersionOffset].v
    if (to <= from) return Array.empty
    requireCommitted(from); requireCommitted(to)
    // O(batch delta) marker replay — a long-lived stream's per-batch
    // planning cost tracks the batch, not the table size
    val addedRel =
      (if (from <= 0L) ManifestTable.manifest(dir, to)
       else ManifestTable.diff(dir, from, to)._1).sorted
    // data skipping per batch: a filtered stream over a high-volume table
    // never plans (or reads) files the log's stats prove irrelevant
    val stats = ManifestTable.manifestEntries(dir, to)._2
    val deterministic = pushedCatalyst.filter(_.deterministic)
    val kept =
      if (deterministic.isEmpty || addedRel.isEmpty) addedRel
      else addedRel.filter { f =>
        stats.get(f).forall(st =>
          deterministic.forall(e => graft.core.FileStats.mayMatch(e, st)))
      }
    if (kept.isEmpty) return Array.empty
    batchScan(kept, stats).toBatch.planInputPartitions()
  }

  /** One factory for the stream: parquet's reader factory is
    * file-agnostic (it reads whatever FilePartition it is handed), so a
    * factory built against an empty file list serves every batch. */
  override def createReaderFactory(): PartitionReaderFactory =
    batchScan(Seq.empty, Map.empty).toBatch.createReaderFactory()
}


/** Version-granular admission control shared by every version-offset
  * stream (the manifest table stream, the manifest change stream, and
  * the keyedlog change stream): walk committed versions past `from` up
  * to `target`, admitting whole versions until the version/file/byte
  * budget is spent. Always admits at least one pending version
  * (progress guarantee). The per-version cost is a callback so each log
  * supplies its own accounting (manifest: added files + bytes; keyedlog:
  * served group sizes) without duplicating the admission invariants. */
private[catalog] object StreamAdmission {
  /** Manifest arm: cost = the version's ADDED files and bytes. */
  def admit(dir: String, from: Long, target: Long,
            maxVersions: Option[Long], maxFiles: Option[Long],
            maxBytes: Option[Long] = None): Long = {
    if (target <= from ||
        (maxVersions.isEmpty && maxFiles.isEmpty && maxBytes.isEmpty))
      return target
    admitVersions(
      ManifestTable.allVersions(dir).filter(v => v > from && v <= target),
      from, maxVersions, maxFiles, maxBytes,
      v => { val (added, b) = ManifestTable.addsAt(dir, v)
             (added.length.toLong, b) })
  }

  /** The shared budget walk over `pending` (ascending, all > `from`). */
  def admitVersions(pending: Seq[Long], from: Long,
                    maxVersions: Option[Long], maxFiles: Option[Long],
                    maxBytes: Option[Long],
                    cost: Long => (Long, Long)): Long = {
    var end = from
    var versions = 0L
    var files = 0L
    var bytes = 0L
    val it = pending.iterator
    var stop = false
    while (it.hasNext && !stop) {
      val v = it.next()
      val (addedFiles, addedBytes) = cost(v)
      val overVersions = maxVersions.exists(versions + 1 > _)
      val overFiles = maxFiles.exists(files + addedFiles > _)
      val overBytes = maxBytes.exists(bytes + addedBytes > _)
      if (end > from && (overVersions || overFiles || overBytes)) stop = true
      else { end = v; versions += 1; files += addedFiles; bytes += addedBytes }
    }
    end
  }
}
