package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{FileStats, LakeStorage, ListedFileIndex}

/** The manifest log's file index: the commit markers name every live
  * file and (since stats were added) its length, so scan planning needs NO
  * filesystem listing at all ([[ListedFileIndex]] over the log's
  * statuses) — the move that keeps planning O(matched files) when the
  * table holds millions of files (on an object store, a listing is a
  * throttled LIST/HEAD storm). Delta/Iceberg readers are log-served for
  * exactly this reason.
  *
  * Files are immutable once a marker references them (the manifest's
  * visibility contract), so log-recorded lengths never go stale. A file
  * the log has no length for (legacy marker) is stat'ed individually —
  * cost proportional to the legacy residue, not the table. Modification
  * times are served as 0 (only the `_metadata.file_modification_time`
  * pseudo-column would observe them; the data path never does). */
object ManifestFileIndex {

  /** FileStatus per dir-relative file: length from the log's stats when
    * recorded, one (parallel) getFileStatus round for the legacy residue.
    * Paths are fully QUALIFIED (scheme + authority): the base index
    * resolves its maps through qualified paths, so an unqualified
    * `/tmp/...` entry would silently never match — zero-row scans. */
  def statuses(dir: String, files: Seq[String],
               stats: Map[String, FileStats.Stats]): Seq[FileStatus] = {
    val fs = LakeStorage.openFor(dir)
    def qualified(f: String): Path = fs.makeQualified(new Path(dir, f))
    val known = files.map(f => f -> stats.get(f).flatMap(_.sizeBytes))
    val missing = known.collect { case (f, None) => f }
    val stat: Map[String, Long] =
      if (missing.isEmpty) Map.empty
      else if (missing.lengthCompare(4) <= 0)
        missing.map(f => f -> fs.getFileStatus(new Path(dir, f)).getLen).toMap
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, missing.length))
        try {
          val tasks = missing.map { f =>
            new java.util.concurrent.Callable[(String, Long)] {
              override def call(): (String, Long) =
                f -> fs.getFileStatus(new Path(dir, f)).getLen
            }
          }
          pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
        } finally pool.shutdown()
      }
    known.map { case (f, len) =>
      new FileStatus(len.getOrElse(stat(f)), false, 1, 128L * 1024 * 1024, 0L,
        qualified(f))
    }
  }

  /** A parquet scan builder over exactly these log-listed files — the
    * shared entry point for snapshot scans, CDC windows, streaming
    * batches, and the DML read, all listing-free. `withRowIndex` extends
    * the data schema with the parquet row-index column (see [[DvRead]]) —
    * the deletion-vector and `_pos` paths need per-row file positions.
    * The scan's conf is Spark's own (`newHadoopConfWithOptions`), made
    * [[LakeStorage.shippable]]: the scan broadcasts it to its tasks. */
  def scanBuilder(spark: SparkSession, declared: StructType,
                  dir: String, files: Seq[String],
                  stats: Map[String, FileStats.Stats],
                  options: CaseInsensitiveStringMap,
                  withRowIndex: Boolean = false): ParquetScanBuilder = {
    val schema = if (withRowIndex) DvRead.withRowIndex(declared) else declared
    new ParquetScanBuilder(spark,
        new ListedFileIndex(spark, statuses(dir, files, stats)),
        schema, schema, options) {
      override lazy val hadoopConf: Configuration = LakeStorage.shippable(
        sparkSession.sessionState.newHadoopConfWithOptions(
          this.options.asCaseSensitiveMap.asScala.toMap))
    }
  }
}
