package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{LakeStorage, ManifestTable}

/** Iceberg-style metadata tables over a manifest root, reachable as
  * `SELECT * FROM <catalog>.<db>.<table>.history` / `.files` — the ops
  * surface for versioned tables (what did each commit add, what does the
  * current snapshot hold, what would vacuum reclaim) without any side
  * channel: every row is derived from commit markers and file status.
  *
  * Rows are computed DRIVER-side at scan planning (they are metadata — a
  * handful of rows per version/file) and shipped as one partition; the
  * data path stays fully distributed because these tables are never the
  * data path. */
object MetadataTables {

  val HistorySchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("total_bytes", LongType, nullable = false),
    StructField("added_files", LongType, nullable = false)))

  val FilesSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("pool", StringType, nullable = false),
    StructField("row_count", LongType, nullable = true), // from log stats; null = no stats
    StructField("dv_file", StringType, nullable = true), // deletion vector, if attached
    StructField("deleted_rows", LongType, nullable = false)))

  /** `t.history`: one row per committed version still present. One
    * forward accumulation over the log — the oldest version resolves
    * once, every later row applies its marker's O(delta) diff, and each
    * file is stat'ed exactly once however many versions reference it
    * (the previous per-version resolution was O(versions × files)).
    * `poolDir`: where the data pools live when `dir` is a BRANCH log
    * (a zero-copy clone's lineage — file keys are relative to the shared
    * source data plane, not the log). */
  def history(dir: String, poolDir: Option[String] = None): Table =
    new VirtualRowsTable(s"history($dir)", HistorySchema, () => {
      val fs = LakeStorage.openFor(dir)
      val pools = poolDir.getOrElse(dir)
      // sizes come from the log (each marker carries its added files'
      // lengths); only legacy stats-less files cost a getFileStatus
      val sizes = scala.collection.mutable.HashMap.empty[String, Long]
      def sized(f: String): Long =
        sizes.getOrElseUpdate(f, fs.getFileStatus(new Path(pools, f)).getLen)
      val versions = ManifestTable.commitTimes(dir)
      var live = Set.empty[String]
      var bytes = 0L
      var prev = Option.empty[Long]
      versions.map { case (v, mtime) =>
        val (_, vStats) = ManifestTable.addedEntriesAt(dir, v)
        vStats.foreach { case (f, st) =>
          st.sizeBytes.foreach(sizes.getOrElseUpdate(f, _))
        }
        // each row diffs against the previous LISTED version: after a tag
        // keeps an old version across a vacuum the versions have gaps, and
        // the markers inside a gap are gone, so a gap (and the first row)
        // compares resolved snapshots instead of replaying markers
        val (added, removed) =
          if (prev.contains(v - 1)) ManifestTable.diff(dir, v - 1, v)
          else {
            val now = ManifestTable.manifest(dir, v)
            val nowSet = now.toSet
            (now.filterNot(live), live.filterNot(nowSet).toSeq)
          }
        prev = Some(v)
        live = live -- removed ++ added
        bytes = bytes - removed.map(sized).sum + added.map(sized).sum
        Array[Any](v, mtime * 1000L, live.size.toLong, bytes, added.length.toLong)
      }
    })

  /** `t.files`: one row per data file of the CURRENT snapshot, with the
    * log-carried row count (the data-skipping stats double as the ops
    * surface's cardinality column; null for stats-less legacy files) and
    * the file's deletion-vector attachment — `deleted_rows` summed over
    * the table is the merge-on-read debt `purge_deletes` would collect. */
  def files(dir: String, poolDir: Option[String] = None): Table =
    new VirtualRowsTable(s"files($dir)", FilesSchema, () => {
      val fs = LakeStorage.openFor(dir)
      val pools = poolDir.getOrElse(dir)
      ManifestTable.currentVersion(dir).toSeq.flatMap { v =>
        val st = ManifestTable.state(dir, v)
        st.files.map { f =>
          val bytes = st.stats.get(f).flatMap(_.sizeBytes)
            .getOrElse(fs.getFileStatus(new Path(pools, f)).getLen)
          Array[Any](f, bytes, f.split("/", 2).head,
            st.stats.get(f).map(s => java.lang.Long.valueOf(s.rowCount)).orNull,
            st.dvs.get(f).map(_.path).orNull,
            st.dvs.get(f).map(_.count).getOrElse(0L))
        }
      }
    })

  val PartitionsSchema: StructType = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("total_bytes", LongType, nullable = false)))

  /** `t.partitions`: current-snapshot layout stats — one row per BUCKET
    * for bucket-clustered tables (`bucket=<id>`; the SPJ planning unit),
    * one row per PARTITION-TRANSFORM value span for transform-partitioned
    * tables (`<col>_day=2024-01-03`, or `a..b` for a file spanning
    * values — the clustering-health view: spans mean the layout needs a
    * compact), one row per data POOL (`pool=<name>`; the commit unit)
    * otherwise. The skew view an operator checks before sizing a
    * storage-partitioned join. */
  def partitions(dir: String, bucket: Option[Int],
                 cluster: Seq[(String, String, Option[Int], String)] = Nil): Table =
    new VirtualRowsTable(s"partitions($dir)", PartitionsSchema, () => {
      val fs = LakeStorage.openFor(dir)
      val (files, fileStats) = ManifestTable.currentVersion(dir)
        .map(v => ManifestTable.manifestEntries(dir, v))
        .getOrElse((Seq.empty[String], Map.empty[String, graft.core.FileStats.Stats]))
      // one label segment per transform, composed with "/" — a table
      // PARTITIONED BY (days(ts), identity(k)) labels files by BOTH
      // dimensions, not silently just the first
      def transformLabel(f: String): String =
        cluster.map(c => transformSegment(f, c)).mkString("/")
      def transformSegment(f: String,
          c: (String, String, Option[Int], String)): String = {
        val (fn, colName, width, colType) = c
        val unit = fn match {
          case "years" => "year"; case "months" => "month"; case "days" => "day"
          case "hours" => "hour"; case _ => fn
        }
        def render(v: graft.core.FileStats.StatVal): String = v match {
          case graft.core.FileStats.StringVal(s) =>
            if (fn == "truncate") s.take(width.get) else s
          case graft.core.FileStats.LongVal(x) =>
            val days =
              if (colType == "date") x
              else Math.floorDiv(x, 86400000000L) // micros -> epoch day
            val d = java.time.LocalDate.ofEpochDay(days)
            fn match {
              case "identity" => x.toString
              case "years"    => d.getYear.toString
              case "months"   => f"${d.getYear}%04d-${d.getMonthValue}%02d"
              case "days"     => d.toString
              case "hours" =>
                val hour = Math.floorDiv(x, 3600000000L) - days * 24
                f"$d $hour%02dh"
              case _ => x.toString
            }
          case other => other.toString
        }
        val bounds = fileStats.get(f).flatMap(_.col(colName))
        (bounds.flatMap(_.min), bounds.flatMap(_.max)) match {
          case (Some(mn), Some(mx)) =>
            val (a, b) = (render(mn), render(mx))
            s"${colName}_$unit=" + (if (a == b) a else s"$a..$b")
          case _ => s"${colName}_$unit=unknown"
        }
      }
      def keyOf(f: String): String = if (cluster.nonEmpty) transformLabel(f)
      else bucket match {
        // a file counts as a bucket member only when its POOL was written
        // with this table's bucket count (the fullyBucketed rule) — any
        // part-<i> name would otherwise parse as a bucket id, misfiling
        // plain appends / stream epochs on a bucket-declared table
        case Some(n) if ManifestTable.bucketsOfPool(f.split("/", 2).head).contains(n) =>
          ManifestTable.bucketOfFile(f.split("/").last)
            .map(b => s"bucket=$b").getOrElse("unbucketed")
        case Some(_) => "unbucketed"
        case None => s"pool=${f.split("/", 2).head}"
      }
      files.groupBy(keyOf).toSeq.sortBy(_._1).map { case (k, fs2) =>
        Array[Any](k, fs2.length.toLong,
          fs2.map(f => fileStats.get(f).flatMap(_.sizeBytes)
            .getOrElse(fs.getFileStatus(new Path(dir, f)).getLen)).sum)
      }
    })

  val KeyedLogHistorySchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("added_files", LongType, nullable = false),
    StructField("added_bytes", LongType, nullable = false)))

  /** `t.history` for KEYEDLOG tables: one row per commit-journal version
    * (see [[graft.sources.KeyedLogVersionLog]]) — what each batch job or
    * streaming epoch added. Bytes count only files still present (a
    * compaction swaps the data out from under old journal entries; their
    * rows remain as history with zero surviving bytes). One listing of
    * the table dir sizes every present file; the journal's own listing
    * dates every version. */
  def keyedLogHistory(dir: String): Table =
    new VirtualRowsTable(s"history($dir)", KeyedLogHistorySchema, () => {
      val conf = LakeStorage.taskConf()
      val fs = LakeStorage.openFor(dir)
      val base = new Path(dir)
      val present = if (!fs.exists(base)) Map.empty[String, Long]
        else fs.listStatus(base).iterator.map(s => s.getPath.getName -> s.getLen).toMap
      graft.sources.KeyedLogVersionLog.commitTimes(dir, conf).map { case (v, mtime) =>
        val names = graft.sources.KeyedLogVersionLog.read(dir, conf, v)
        Array[Any](v, mtime * 1000L, names.length.toLong,
          names.iterator.map(present.getOrElse(_, 0L)).sum)
      }
    })

  val KeyedLogFilesSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("key", StringType, nullable = true)))

  /** `t.files` for KEYEDLOG tables: one row per visible data file with
    * its clustered-write key tag (null for the null key AND for plain
    * unclustered files — `clustered` distinguishes them). */
  def keyedLogFiles(dir: String): Table =
    new VirtualRowsTable(s"files($dir)", StructType(
      KeyedLogFilesSchema.fields :+
        StructField("clustered", org.apache.spark.sql.types.BooleanType, nullable = false)), () => {
      val conf = LakeStorage.taskConf()
      val fs = LakeStorage.openFor(dir)
      // journal-resolved like the scans — the ops view must describe the
      // files the table SERVES, not listing leftovers a failed tombstone
      // rename or crashed write left behind
      graft.sources.KeyedLogSource.readerFiles(dir, conf).toSeq.sorted.map { f =>
        val name = new Path(f).getName
        val tag = graft.sources.KeyedLogSource.keyOfFile(name)
        Array[Any](name, fs.getFileStatus(new Path(f)).getLen,
          tag.flatten.orNull, tag.isDefined)
      }
    })

  /** `t.partitions` for KEYEDLOG tables: per-BUCKET layout stats for
    * bucket-declared tables (same bucket space as the manifest format —
    * the SPJ planning unit; plain files land in `unclustered`), per-KEY
    * stats otherwise (the clustering unit — a key's file count is its
    * compaction debt). */
  def keyedLogPartitions(dir: String, bucket: Option[Int]): Table =
    new VirtualRowsTable(s"partitions($dir)", PartitionsSchema, () => {
      val conf = LakeStorage.taskConf()
      val fs = LakeStorage.openFor(dir)
      val files = graft.sources.KeyedLogSource.readerFiles(dir, conf).toSeq
      def keyOf(f: String): String = {
        val tag = graft.sources.KeyedLogSource.keyOfFile(new Path(f).getName)
        (bucket, tag) match {
          case (Some(n), Some(k)) =>
            s"bucket=${graft.sources.KeyedLogSource.bucketOfKey(k.orNull, n)}"
          case (Some(_), None) => "unclustered"
          case (None, Some(k)) => s"key=${k.getOrElse("<null>")}"
          case (None, None)    => "unclustered"
        }
      }
      files.groupBy(keyOf).toSeq.sortBy(_._1).map { case (k, fs2) =>
        Array[Any](k, fs2.length.toLong,
          fs2.map(f => fs.getFileStatus(new Path(f)).getLen).sum)
      }
    })

  val RefsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("last_modified_ms", LongType, nullable = true),
    StructField("age_ms", LongType, nullable = true)))

  /** `t.refs`: the table's named refs — snapshot TAGS (version = the
    * tagged MAIN version) and write-audit-publish BRANCHES (version = the
    * branch's own log head). `VERSION AS OF '<name>'` reads either.
    * `last_modified_ms`/`age_ms` are the staleness view (tag: creation
    * time; branch: last commit) `expire_refs` retention acts on — the
    * operator's signal that a forgotten branch is pinning vacuum. */
  def refs(dir: String): Table =
    new VirtualRowsTable(s"refs($dir)", RefsSchema, () => {
      val ages = ManifestTable.refLastModified(dir)
      val now = System.currentTimeMillis()
      def row(n: String, v: Long, tpe: String): Array[Any] = {
        val ms = ages.get(n).filter(_._1 == tpe).map(_._2)
        Array[Any](n, v, tpe, ms.orNull, ms.map(m => now - m).orNull)
      }
      val tags = ManifestTable.tags(dir).toSeq.sortBy(_._1).map { case (n, v) =>
        row(n, v, "tag")
      }
      val brs = ManifestTable.branches(dir).toSeq.sortBy(_._1).map { case (n, v) =>
        row(n, v, "branch")
      }
      tags ++ brs
    })

  val DetailSchema: StructType = StructType(Seq(
    StructField("provider", StringType, nullable = false),
    StructField("location", StringType, nullable = false),
    StructField("current_version", LongType, nullable = true),
    StructField("num_files", LongType, nullable = false),
    StructField("total_bytes", LongType, nullable = false),
    StructField("num_versions", LongType, nullable = false),
    StructField("bucket_spec", StringType, nullable = true),
    StructField("deleted_rows", LongType, nullable = false))) // pending DV debt

  /** `t.detail`: the DESCRIBE DETAIL analogue — one row summarizing the
    * table's provider, layout, and current snapshot. Works for both
    * providers (keyedlog tables report their visible file set; versions
    * are a manifest concept and stay null there). */
  def detail(dir: String, provider: String,
             bucketSpec: Option[String],
             poolDir: Option[String] = None): Table =
    new VirtualRowsTable(s"detail($dir)", DetailSchema, () => {
      val fs = LakeStorage.openFor(dir)
      val pools = poolDir.getOrElse(dir)
      val (files, versions, current, deletedRows) =
        if (provider == "manifest") {
          val vs = ManifestTable.allVersions(dir)
          val cur = vs.lastOption
          val st = cur.map(ManifestTable.state(dir, _))
          (st.map(_.files.map(f => new Path(pools, f))).getOrElse(Seq.empty),
            vs.length.toLong, cur, st.map(_.deletedRows).getOrElse(0L))
        } else {
          val base = new Path(dir)
          val listed = if (!fs.exists(base)) Seq.empty
            else fs.listStatus(base).toSeq
              .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
                !s.getPath.getName.startsWith("."))
              .map(_.getPath)
          (listed, 0L, None, 0L)
        }
      val bytes = files.map(fs.getFileStatus(_).getLen).sum
      Seq(Array[Any](provider, dir, current.map(Long.box).orNull,
        files.length.toLong, bytes, versions, bucketSpec.orNull, deletedRows))
    })
}

/** A read-only DSv2 table serving driver-computed rows (Strings and
  * primitives; Strings are converted to UTF8String in the reader).
  * `rows` is re-evaluated on every scan, so the view always reflects the
  * current table state. */
class VirtualRowsTable(tableName: String, tableSchema: StructType,
                       rows: () => Seq[Array[Any]])
    extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = tableSchema
      override def toBatch: Batch = this
      override def description(): String = tableName
      override def planInputPartitions(): Array[InputPartition] =
        Array(VirtualRowsPartition(rows().toArray))
      override def createReaderFactory(): PartitionReaderFactory =
        VirtualRowsReaderFactory()
    }
}

case class VirtualRowsPartition(rows: Array[Array[Any]]) extends InputPartition

case class VirtualRowsReaderFactory() extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[VirtualRowsPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow =
        new GenericInternalRow(rows(i).map {
          case s: String => UTF8String.fromString(s)
          case other     => other
        })
      override def close(): Unit = ()
    }
  }
}
