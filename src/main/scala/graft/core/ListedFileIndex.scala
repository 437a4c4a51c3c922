package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{PartitioningAwareFileIndex, PartitionSpec}

/** A [[PartitioningAwareFileIndex]] over statuses the caller already
  * holds, so scan planning lists and stats nothing. Two callers know their
  * files up front: the manifest log names every live file with its length
  * ([[graft.catalog.ManifestFileIndex]]), and the bronze reader's walk
  * returns the statuses it listed ([[LakeReader]]). An InMemoryFileIndex
  * over the same paths would stat every file again (at 800 files on a
  * loaded local[32] box, over 1 s; above 32 paths, as a Spark job).
  *
  * Spark's own file rules still apply when the scan asks for files:
  * `listFiles` drops hidden names (`_x`, `.x`) and zero-length files.
  * Statuses must be fully QUALIFIED (scheme + authority): the base index
  * resolves its maps through qualified paths, so an unqualified `/tmp/...`
  * entry would silently never match. */
class ListedFileIndex(spark: SparkSession, statuses: Seq[FileStatus])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override protected val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    statuses.foreach(s => m.put(s.getPath, s))
    m
  }

  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent).map { case (d, fs) => d -> fs.toArray }

  override val rootPaths: Seq[Path] =
    statuses.map(_.getPath.getParent).distinct

  override def refresh(): Unit = ()

  // scan-reuse friendliness: equal iff the same file set (the same
  // contract InMemoryFileIndex keys its equality on)
  override def equals(other: Any): Boolean = other match {
    case o: ListedFileIndex => leafFiles.keySet == o.leafFiles.keySet
    case _                  => false
  }
  override def hashCode(): Int = leafFiles.keySet.hashCode()
}
