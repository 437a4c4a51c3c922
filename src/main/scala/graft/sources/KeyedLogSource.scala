package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.{DatasetBridge, SchemaBridge}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.LakeStorage

/** DataSource V2 reader for the tab-separated "keyed log" format
  * (`key \t seq \t metric` per line) — the custom-connector rung of the
  * extension ladder (SURVEY §4.3): when a format Spark does not know holds
  * the data, a TableProvider brings it into the engine WITH the scan-level
  * optimizations the built-ins enjoy:
  *
  *  - column pruning: [[SupportsPushDownRequiredColumns]] — the reader
  *    materializes only requested fields (a `select(key)` never parses or
  *    allocates seq/metric);
  *  - filter pushdown: [[SupportsPushDownFilters]] — `key = v` / `key IN`
  *    / IsNotNull evaluate inside the per-file reader before a row is
  *    built. Pushed filters are also RETURNED as residuals, so Spark
  *    re-applies them post-scan — pushdown is an optimization, never a
  *    correctness dependency (the DSv2 contract built-ins follow);
  *  - split planning: one [[InputPartition]] per file — parallelism scales
  *    with the file count exactly like the built-in file sources, and a
  *    driver never reads data;
  *  - PARTIAL aggregate pushdown: [[SupportsPushDownAggregates]] — an
  *    unfiltered COUNT/SUM/MIN/MAX group-by-key collapses to one
  *    pre-aggregated row per (group, file) inside the reader, and Spark
  *    merges the partials (the parquet-style scan-side win).
  *
  * Malformed lines (wrong arity, non-numeric longs) surface as null
  * fields, mirroring the CSV source's permissive mode.
  *
  * The write side ([[KeyedLogBatchWrite]]) implements the DSv2 commit
  * protocol: per-task staged temp files renamed visible on task commit,
  * deleted on abort — speculative or retried tasks never leave partial
  * output visible (DataSourceSpec simulates both).
  *
  * Usage: `spark.read.format("graft.sources.KeyedLogSource").load(dir)` /
  * `df.write.format(...).mode("append").save(dir)` (class-name
  * registration — no service-loader file needed); inside the engine,
  * [[KeyedLogSource.append]].
  */
class KeyedLogSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KeyedLogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new KeyedLogTable(properties.get("path"),
      declared = if (schema == null || schema.isEmpty) KeyedLogSource.schema
                 else { KeyedLogSource.validateDeclared(schema); schema })
  // external schemas admit EXTRA columns (the catalog/compaction path
  // re-reading a drifted dir with the descriptor's declared schema); the
  // core prefix is validated above
  override def supportsExternalMetadata(): Boolean = true
}

object KeyedLogSource {
  val schema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("seq", LongType),
    StructField("metric", LongType)))

  /** The clustered-write layout contract — ONE definition shared by the
    * plain clustered Write and the row-level rewrite: rows arrive
    * clustered by key and sorted (key asc, seq asc), which is exactly
    * what [[KeyedLogClusteredWriter]]'s one-file-per-key-run protocol
    * (and its "key run twice" assertion) depends on. */
  private[sources] def clusteredDistribution: org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.clustered(
      Array(org.apache.spark.sql.connector.expressions.Expressions.identity("key")))
  private[sources] def clusteredOrdering: Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    Array(
      Expressions.sort(Expressions.identity("key"), SortDirection.ASCENDING),
      Expressions.sort(Expressions.identity("seq"), SortDirection.ASCENDING))
  }

  /** Append `df` to the keyed-log directory `dir` through the connector's
    * batch write: the `AppendData` plan a DataFrameWriter `save(dir)` in
    * append mode builds, with `options` as its write options. */
  private[graft] def append(df: DataFrame, dir: String,
                            options: Map[String, String] = Map.empty): Unit = {
    val opts = options + ("path" -> dir)
    val table = new KeyedLogSource().getTable(SchemaBridge.asNullable(df.schema),
      Array.empty, opts.asJava)
    val relation = DataSourceV2Relation.create(table, None, None,
      new CaseInsensitiveStringMap(opts.asJava))
    DatasetBridge.ofRows(df.sparkSession,
      AppendData.byName(relation, df.queryExecution.analyzed, opts))
    ()
  }

  /** Visible data files under `path` (hidden/_staging names excluded) —
    * the shared listing for batch split planning, streaming offsets, and
    * the catalog's `t.changes` feed. */
  private[graft] def listDataFiles(
      path: String, conf: org.apache.spark.util.SerializableConfiguration): Array[String] = {
    val p = new Path(path)
    val fs = LakeStorage.openFor(p, conf.value)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted
  }

  /** The file set a READER plans over: resolved from the commit JOURNAL
    * when one exists (the live set at the journal head — snapshot reads:
    * a row-level swap's staged-then-revealed files stay invisible until
    * its journal entry lands, and its tombstoned pre-images disappear
    * with it), directory listing otherwise (pre-journal dirs). On a
    * journal-carrying dir, files placed by hand (never journaled) are
    * NOT served — write through the connector. */
  private[graft] def readerNames(
      path: String, conf: org.apache.spark.util.SerializableConfiguration): Option[Seq[String]] =
    KeyedLogVersionLog.liveSet(path, conf)

  private[graft] def readerFiles(
      path: String, conf: org.apache.spark.util.SerializableConfiguration): Array[String] =
    readerNames(path, conf) match {
      case Some(names) =>
        // qualified exactly like listStatus's getPath.toString — the
        // streaming seen-log compares these strings across BOTH
        // resolution modes, so an unqualified spelling here would make
        // every already-seen file look fresh after a dir gains a journal
        val base = new Path(path)
        val fs = LakeStorage.openFor(base, conf.value)
        names.map(n => fs.makeQualified(new Path(base, n)).toString).toArray
      case None => listDataFiles(path, conf)
    }

  /** Tombstone name a row-level swap (journal version `v`) hides a
    * replaced file under: dot-prefixed (reader-invisible), version-tagged
    * so `t.changes` can serve the swap's delete pre-images. */
  private[graft] def tombstoneName(v: Long, name: String): String = s".rm-v$v-$name"

  /** Hide `names` as version-`v` tombstones. BEST-EFFORT: the swap is
    * already durable (journal committed), so a failed rename logs the
    * leftover loudly instead of failing a committed operation — the
    * leftover is journal-invisible to readers either way. An absent
    * original is tolerated (concurrent maintenance already moved it). */
  private[graft] def hideReplaced(
      path: String, conf: org.apache.spark.util.SerializableConfiguration,
      v: Long, names: Seq[String]): Unit = {
    val fs = LakeStorage.openFor(path, conf.value)
    names.foreach { n =>
      val src = new Path(path, n)
      try {
        if (fs.exists(src) && !fs.rename(src, new Path(path, tombstoneName(v, n))))
          log.warn(s"keyed_log($path): could not tombstone replaced file $n " +
            s"(swap v$v is committed; the leftover is invisible to journal readers)")
      } catch {
        case e: java.io.IOException =>
          log.warn(s"keyed_log($path): could not tombstone replaced file $n: $e")
      }
    }
  }

  /** original name -> tombstone name, one listing. */
  private[graft] def tombstonesOf(
      path: String, conf: org.apache.spark.util.SerializableConfiguration): Map[String, String] = {
    val p = new Path(path)
    val fs = LakeStorage.openFor(p, conf.value)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).iterator
      .map(_.getPath.getName).filter(_.startsWith(".rm-v"))
      .flatMap { t =>
        val rest = t.stripPrefix(".rm-v")
        val i = rest.indexOf('-')
        if (i > 0 && rest.take(i).forall(_.isDigit)) Some(rest.drop(i + 1) -> t)
        else None
      }.toMap
  }

  /** RESTORE (rollback) to journal version `v`: make the live set equal
    * [[KeyedLogVersionLog.liveSetAt]]`(v)` again, committing the change
    * as a NEW version (history is never rewritten — the manifest
    * rollback contract). Mechanics compose the swap machinery:
    * files to resurrect are validated against their `.rm-` tombstones
    * FIRST (a vacuumed tombstone fails loudly before anything mutates),
    * then revealed by rename (journal-invisible until the entry lands),
    * then ONE rebased rm/ad rewrite entry commits (concurrent appends
    * carry over; the changes feed serves the restore as delete
    * pre-images + insert post-images), then the files the restore
    * removes are tombstoned under the new version. A crash between
    * reveal and journal leaves journal-invisible leftovers a re-run
    * adopts (already-visible names skip their reveal). Returns the new
    * journal version. */
  private[graft] def restoreVersion(
      path: String, conf: org.apache.spark.util.SerializableConfiguration,
      v: Long): Long = {
    val fs = LakeStorage.openFor(path, conf.value)
    val target = KeyedLogVersionLog.liveSetAt(path, conf, v).getOrElse(
      throw new IllegalArgumentException(
        s"keyed_log($path): version $v is not journaled — journaled: " +
          KeyedLogVersionLog.versions(path, conf).mkString(",")))
    val current = KeyedLogVersionLog.liveSet(path, conf)
      .getOrElse(Seq.empty).toSet
    val toReveal = target.filterNot(current)
    val toHide = (current -- target.toSet).toSeq.sorted
    // validate EVERY resurrection source before any mutation
    val tombs = tombstonesOf(path, conf)
    val sources = toReveal.map { n =>
      if (fs.exists(new Path(path, n))) n -> None // leftover from a prior crash
      else n -> Some(tombs.getOrElse(n, throw new IllegalStateException(
        s"keyed_log($path): cannot restore version $v — $n's tombstone " +
          "aged out (vacuum) or a compaction replaced the data plane; " +
          "restores are bounded by tombstone retention")))
    }
    sources.foreach {
      case (n, Some(t)) =>
        if (!fs.rename(new Path(path, t), new Path(path, n)))
          throw new java.io.IOException(
            s"keyed_log($path): restore could not reveal $t as $n")
      case _ => ()
    }
    val nv = KeyedLogVersionLog.commitRewrite(path, conf,
      removed = toHide.toSet, added = toReveal)
    hideReplaced(path, conf, nv, toHide)
    nv
  }

  /** Maintenance sweep of this dir's hidden residue — `.tmp-` task temps
    * and `.rl-` staged files from crashed/aborted writes, and `.rm-`
    * pre-image tombstones past their feed-serving retention — older than
    * `retainMs` (mtime). Dry run reports without touching anything.
    * Returns the swept (or would-sweep) names. */
  private[graft] def sweepOrphans(
      path: String, conf: org.apache.spark.util.SerializableConfiguration,
      retainMs: Long, dryRun: Boolean): Seq[String] = {
    val p = new Path(path)
    val fs = LakeStorage.openFor(p, conf.value)
    if (!fs.exists(p)) return Nil
    val cutoff = System.currentTimeMillis() - retainMs
    val targets = fs.listStatus(p).filter { s =>
      val n = s.getPath.getName
      s.isFile && s.getModificationTime < cutoff &&
        (n.startsWith(".tmp-") || n.startsWith(".rl-") || n.startsWith(".rm-v"))
    }.map(_.getPath.getName).sorted.toSeq
    if (!dryRun) targets.foreach { n =>
      if (!fs.delete(new Path(path, n), false) && fs.exists(new Path(path, n)))
        throw new java.io.IOException(s"keyed_log($path): orphan sweep could not delete $n")
    }
    targets
  }

  private val log = org.slf4j.LoggerFactory.getLogger("graft.sources.KeyedLogSource")

  /** Shared job-abort cleanup for the batch and streaming sinks. */
  private[sources] def deleteCommitted(
      path: String, conf: org.apache.spark.util.SerializableConfiguration,
      messages: Array[WriterCommitMessage]): Unit = {
    val fs = LakeStorage.openFor(path, conf.value)
    messages.foreach {
      case KeyedLogCommit(names, _) =>
        names.foreach(n => fs.delete(new Path(path, n), false))
      case _ => ()
    }
  }

  /** The key a clustered-write file holds, parsed from its name
    * (`...-K=<urlencoded>.log`; empty encoding = the null key). None for a
    * plain (non-clustered) data file. `=` cannot appear in the URL
    * encoding, so the marker is unambiguous. */
  private[graft] def keyOfFile(name: String): Option[Option[String]] = {
    val i = name.lastIndexOf("-K=")
    if (i < 0 || !name.endsWith(".log")) None
    else {
      val enc = name.substring(i + 3, name.length - 4)
      Some(if (enc.isEmpty) None
           else Some(java.net.URLDecoder.decode(enc, "UTF-8")))
    }
  }

  private[sources] def encKey(key: String): String =
    if (key == null) "" else java.net.URLEncoder.encode(key, "UTF-8")

  // ---- EXTRA COLUMNS (schema drift for the keyed document store) ----
  //
  // A keyedlog table's schema is the fixed 3-column core plus optional
  // APPENDED nullable columns (`ALTER TABLE ... ADD COLUMNS` through the
  // catalog). Extras ride the line format as tab-separated fields 4..n in
  // DECLARED ORDER: a line from before the column existed simply has
  // fewer fields and reads NULL (the manifest null-fill rule, expressed
  // by the TSV format itself); new writes emit the full width. Values:
  // BIGINT renders as digits, STRING URL-encoded (tabs/newlines in
  // documents can never corrupt the framing), NULL as the classic TSV
  // sentinel `\N` (a literal backslash-N string URL-encodes to %5CN, so
  // there is no collision — and unlike the core's legacy ""-null, an
  // empty STRING stays representable).
  //
  // Each extra field's position in the line is pinned by `klog.field`
  // metadata on its StructField (attached by the catalog at ADD COLUMNS
  // time and persisted in the descriptor), so column pruning can hand
  // readers any subset in any order and they still parse the right raw
  // field. Positions are load-bearing: extras can be added, never
  // dropped or reordered.

  /** Metadata key pinning an extra column's 0-based position AMONG the
    * extras (line field = 3 + this). */
  val ExtraFieldKey = "klog.field"

  /** TSV null sentinel for extra fields. */
  private[graft] val ExtraNull = "\\N"

  /** The permissible extra-column types (what the line codec renders). */
  private[graft] def extraTypeOk(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == StringType || dt == LongType

  /** Validate a declared keyedlog schema: the 3-column core prefix
    * verbatim, then nullable String/Long extras. Returns the extras. */
  private[graft] def validateDeclared(declared: StructType): Seq[StructField] = {
    val core = schema
    require(declared.length >= core.length &&
        declared.fields.take(core.length).map(f => (f.name, f.dataType)).toSeq ==
          core.fields.map(f => (f.name, f.dataType)).toSeq,
      s"keyedlog tables start with the fixed core ${core.simpleString}; " +
        s"got ${declared.simpleString}")
    val extras = declared.fields.drop(core.length).toSeq
    val lower = declared.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT))
    require(lower.distinct.length == lower.length,
      s"keyedlog schema has duplicate column names: ${declared.simpleString}")
    extras.foreach { f =>
      require(extraTypeOk(f.dataType),
        s"keyedlog extra column ${f.name} must be STRING or BIGINT, " +
          s"got ${f.dataType.simpleString}")
      // underscore names are the reserved metadata namespace: an extra
      // named _klfile would shadow the row-level group column (rewrites
      // would regroup by the wrong values) and _change_type would
      // duplicate the feed column
      require(!f.name.startsWith("_"),
        s"keyedlog extra column ${f.name}: names starting with '_' are " +
          "reserved for metadata columns (_klfile, _change_type)")
    }
    extras
  }

  /** Line index (0-based among extras) of a required extra field: from
    * its `klog.field` metadata. Loud when absent — a schema that did not
    * come from the catalog descriptor cannot place extras on the line. */
  private[graft] def extraIndexOf(f: StructField): Int = {
    require(f.metadata.contains(ExtraFieldKey),
      s"keyed_log: column '${f.name}' is not a core column and carries no " +
        s"$ExtraFieldKey metadata — read extra columns through the catalog " +
        "table (or a schema taken from its descriptor)")
    f.metadata.getLong(ExtraFieldKey).toInt
  }

  /** Render one extra value for the line (null-safe). */
  private[sources] def renderExtra(dt: org.apache.spark.sql.types.DataType,
      row: org.apache.spark.sql.catalyst.InternalRow, ordinal: Int): String =
    if (row.isNullAt(ordinal)) ExtraNull
    else dt match {
      case LongType   => row.getLong(ordinal).toString
      case StringType =>
        java.net.URLEncoder.encode(row.getUTF8String(ordinal).toString, "UTF-8")
      case other => throw new IllegalStateException(
        s"keyed_log: unwritable extra type ${other.simpleString}")
    }

  /** The bucket a key lands in under a `bucket(n, key)` table declaration:
    * `pmod(murmur3(key, 42), n)` — EXACTLY Spark's HashPartitioning
    * placement and the catalog `bucket` function
    * ([[graft.catalog.GraftBucketBound]]), delegated to Catalyst's own
    * Murmur3HashFunction so scan grouping, manifest-side placement, and
    * the SPJ function can never drift. Null key hashes as Catalyst's null
    * contribution (seed unchanged). */
  private[graft] def bucketOfKey(keyOrNull: String, n: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
      if (keyOrNull == null) null else UTF8String.fromString(keyOrNull),
      StringType, 42L)
    val m = (h % n).toInt
    if (m < 0) m + n else m
  }
}

object KeyedLogTable {
  object FileMetadataColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = KeyedLogRowLevelOperation.FileCol
    override def dataType(): org.apache.spark.sql.types.DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String = "source file name of the row"
  }
}

class KeyedLogTable(path: String, bucketN: Option[Int] = None,
                    asOf: Option[Long] = None,
                    declared: StructType = KeyedLogSource.schema)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String =
    s"keyed_log($path${asOf.map(v => s" asOf=v$v").getOrElse("")})"
  override def schema(): StructType = declared

  private def extraTypes: Seq[org.apache.spark.sql.types.DataType] =
    declared.fields.drop(KeyedLogSource.schema.length).map(_.dataType).toSeq

  /** `_klfile` — each row's source file name, the group identity the
    * row-level (UPDATE/MERGE/CoW DELETE) rewrite replaces at; also
    * user-selectable like the built-in `_metadata.file_path`. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(KeyedLogTable.FileMetadataColumn)

  /** Row-level UPDATE/MERGE (and arbitrary-predicate DELETE) via
    * group-based copy-on-write: see [[KeyedLogRowLevelOperation]]. Key
    * DELETEs still take the metadata fast path ([[deleteWhere]]) —
    * Spark's OptimizeMetadataOnlyDeleteFromTable picks it when
    * [[canDeleteWhere]] accepts. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty,
      s"${name()}: a VERSION AS OF read is immutable — DML targets the live table")
    () => new KeyedLogRowLevelOperation(path, bucketN, info.command, declared)
  }

  /** The key set a conjunction of pushable KEY filters admits, as a
    * predicate over a file's key (None = the null key); None when any
    * filter is outside the supported shapes. */
  private def keyPredicate(filters: Array[Filter]): Option[Option[String] => Boolean] = {
    val preds: Array[Option[Option[String] => Boolean]] = filters.map {
      case EqualTo("key", v: String) => Some((k: Option[String]) => k.contains(v))
      case In("key", vs) =>
        val set = vs.collect { case s: String => s }.toSet
        Some((k: Option[String]) => k.exists(set.contains))
      case IsNotNull("key") => Some((k: Option[String]) => k.isDefined)
      case org.apache.spark.sql.sources.IsNull("key") =>
        Some((k: Option[String]) => k.isEmpty)
      case _ => None
    }
    if (preds.contains(None)) None
    else Some(k => preds.forall(_.get(k)))
  }

  /** METADATA-ONLY row-level DELETE: a key-clustered layout stores one
    * key per file (`-K=<key>` names), so a conjunction of key predicates
    * (`=`, `IN`, `IS NULL`, `IS NOT NULL`) deletes by DROPPING whole
    * files — no read, no rewrite, cost proportional to the matched file
    * count (Delta's delete-by-partition fast path, on the key dimension).
    * Refused (Spark raises) when any predicate reaches beyond `key` or
    * any live file is unclustered (its keys are unknown; `compact` first).
    * JOURNAL FIRST (a rebased rewrite entry carrying the rm set for the
    * changes feed), then hide the dropped files as `.rm-` tombstones —
    * readers that resolve from the journal never see a half-applied
    * delete, and the feed can serve the delete's pre-images until the
    * tombstones age out. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty && keyPredicate(filters).isDefined &&
      KeyedLogSource.readerFiles(path, LakeStorage.taskConf()).forall(f =>
        KeyedLogSource.keyOfFile(new Path(f).getName).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOf.isEmpty,
      s"${name()}: a VERSION AS OF read is immutable — DML targets the live table")
    val pred = keyPredicate(filters).getOrElse(throw new IllegalArgumentException(
      s"keyed_log($path): DELETE supports conjunctions of key predicates " +
        s"(=, IN, IS NULL, IS NOT NULL) over key-clustered files; got " +
        filters.mkString(", ")))
    val c = LakeStorage.taskConf()
    val names = KeyedLogSource.readerFiles(path, c).map(f => new Path(f).getName)
    val keyed = names.map(n => n -> KeyedLogSource.keyOfFile(n))
    require(keyed.forall(_._2.isDefined),
      s"keyed_log($path): unclustered data files present — their keys are " +
        "unknown, so a metadata delete cannot be exact; CALL compact first")
    val dead = keyed.collect { case (n, k) if pred(k.get) => n }
    if (dead.isEmpty) return
    val v = KeyedLogVersionLog.commitRewrite(path, c, dead.toSet, Nil)
    KeyedLogSource.hideReplaced(path, c, v, dead.toSeq)
  }

  /** Surfaced by `SHOW TBLPROPERTIES` / `DESCRIBE TABLE EXTENDED`. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("graft.provider", "keyedlog")
    m.put("graft.location", path)
    bucketN.foreach(n => m.put("graft.bucketing", s"bucket($n, key)"))
    m
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // incremental (CDC-style) reads over the commit journal:
    // .option("start_version", v) serves only files journaled AFTER v
    // (optionally capped by end_version) — the manifest-diff contract
    val window = Option(options.get("start_version")).map { s =>
      val from = java.lang.Long.parseLong(s)
      (from, Option(options.get("end_version")).map(java.lang.Long.parseLong(_)))
    }
    require(window.isDefined || !options.containsKey("end_version"),
      "keyed_log: end_version without start_version — pass both (or neither)")
    require(window.isEmpty || asOf.isEmpty,
      "keyed_log: incremental windows and VERSION AS OF are different time " +
        "axes — pick one")
    new KeyedLogScanBuilder(Option(options.get("path")).getOrElse(path), bucketN,
      window, asOf, declared)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty,
      s"${name()}: a VERSION AS OF read is immutable — writes target the live table")
    require(info.schema().fieldNames.sameElements(declared.fieldNames) &&
        org.apache.spark.sql.types.DataType.equalsStructurally(
          info.schema(), declared, ignoreNullability = true),
      s"keyed_log write schema must be ${declared.simpleString} " +
        s"(names and types); got ${info.schema().simpleString}")
    new WriteBuilder {
      override def build(): Write = {
        val dest = Option(info.options.get("path")).getOrElse(path)
        // opt-in clustered write (`.option("clusterByKey", true)`): the
        // write DECLARES its required distribution/ordering and Spark
        // plans the exchange + sort — each output file then holds sorted
        // runs of few keys (point-lookup and compaction friendly). Opt-in
        // because forcing a shuffle on every log append is the wrong
        // default for an append-mostly sink — EXCEPT for bucket-declared
        // catalog tables (PARTITIONED BY (bucket(n, key))), whose
        // declaration promises key-grouped files: there every write
        // clusters, or SQL INSERTs would silently demote the table out
        // of storage-partitioned reads.
        if (info.options.getBoolean("clusterByKey", false) || bucketN.isDefined)
          new Write with RequiresDistributionAndOrdering {
            import org.apache.spark.sql.connector.distributions.Distribution
            import org.apache.spark.sql.connector.expressions.{SortOrder => V2SortOrder}
            override def requiredDistribution: Distribution =
              KeyedLogSource.clusteredDistribution
            override def requiredOrdering: Array[V2SortOrder] =
              KeyedLogSource.clusteredOrdering
            override def toBatch: BatchWrite =
              KeyedLogBatchWrite(dest, info.queryId(), clustered = true,
                extras = extraTypes)
            override def toStreaming: StreamingWrite =
              KeyedLogStreamingWrite(dest, info.queryId(), extraTypes)
          }
        else new Write {
          override def toBatch: BatchWrite =
            KeyedLogBatchWrite(dest, info.queryId(), extras = extraTypes)
          override def toStreaming: StreamingWrite =
            KeyedLogStreamingWrite(dest, info.queryId(), extraTypes)
        }
      }
    }
  }
}

/** Task-commit protocol of the sink: each task streams lines to a hidden
  * `.tmp-` file (named by queryId + partition + task attempt, so a retried
  * attempt never collides with a zombie's temp file) and RENAMES it to a
  * DETERMINISTIC per-(queryId, partition) final name on task commit —
  * replace-on-retry, like the streaming writer. A task that dies after its
  * rename but before reporting success is re-attempted; the retry commits
  * the SAME final name and replaces the orphan, so no duplicate rows
  * survive (the idempotence the task-id-qualified names of an earlier
  * revision lacked). Abort deletes the temp; readers ignore dot-files, so
  * partial output from failed attempts is never visible. Job commit is a
  * no-op (files became visible at task commit; fine for an append-only log
  * sink), job abort removes committed files by name. */
case class KeyedLogBatchWrite(path: String, queryId: String,
                              clustered: Boolean = false,
                              extras: Seq[org.apache.spark.sql.types.DataType] = Nil)
    extends BatchWrite {
  private val conf = LakeStorage.taskConf()
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    if (clustered) KeyedLogClusteredWriterFactory(path, queryId, conf, extras = extras)
    else KeyedLogWriterFactory(path, queryId, conf, extras = extras)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val cms = messages.toSeq.collect { case c: KeyedLogCommit => c }
    KeyedLogVersionLog.commit(path, conf, cms.flatMap(_.fileNames),
      stats = cms.iterator.flatMap(_.stats).toMap)
    ()
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    KeyedLogSource.deleteCommitted(path, conf, messages)
}

/** Task-commit message: the file names this task made visible, plus each
  * file's column STATS ([[KeyedLogFileStats]]) for journal-carried file
  * skipping. Stats are advisory — an empty map (row-level rewrite
  * writers, pre-stats files) just means the file is never pruned. */
case class KeyedLogCommit(fileNames: Seq[String],
    stats: Map[String, Map[String, (Long, Long)]] = Map.empty)
    extends WriterCommitMessage

/** Per-FILE min/max over the long-typed columns of a keyedlog write —
  * computed inline while rendering rows (pure comparisons, no extra
  * pass), shipped on the task commit message, journaled with the commit,
  * and served back to [[KeyedLogScan]] for PLANNING-TIME file skipping
  * (the log-carried-stats pattern of the lake formats, re-expressed for
  * the TSV document log: the format has no footers, so the journal is
  * where bounds can live).
  *
  * Keys are POSITIONAL — `"seq"`, `"metric"`, `"e<j>"` for the j-th
  * declared extra — so executors need no column-name plumbing and the
  * encoding is stable under catalog metadata evolution (keyedlog extras
  * are positional by design; renames are refused). A column with zero
  * non-null values in the file gets NO entry: within a stats-carrying
  * file, a missing key therefore MEANS all-null — including columns
  * ADDED after the file was written (pre-drift lines read NULL), which
  * is exactly what lets the scan prune old files for any comparison
  * predicate on a new column. */
private[sources] final class KeyedLogFileStats(
    extras: Seq[org.apache.spark.sql.types.DataType]) {
  private val keys: Array[String] =
    Array("seq", "metric") ++ extras.zipWithIndex.collect {
      case (org.apache.spark.sql.types.LongType, j) => s"e$j"
    }
  private val ords: Array[Int] =
    Array(1, 2) ++ extras.zipWithIndex.collect {
      case (org.apache.spark.sql.types.LongType, j) => 3 + j
    }
  private val mins = Array.fill(keys.length)(Long.MaxValue)
  private val maxs = Array.fill(keys.length)(Long.MinValue)
  private val any = Array.fill(keys.length)(false)

  def observe(row: InternalRow): Unit = {
    var i = 0
    while (i < ords.length) {
      if (!row.isNullAt(ords(i))) {
        val v = row.getLong(ords(i))
        if (v < mins(i)) mins(i) = v
        if (v > maxs(i)) maxs(i) = v
        any(i) = true
      }
      i += 1
    }
  }

  /** Bounds of the columns that had ≥1 non-null value, then reset for
    * the next file (the clustered writer rolls per key run). */
  def harvest(): Map[String, (Long, Long)] = {
    val out = Map.newBuilder[String, (Long, Long)]
    var i = 0
    while (i < keys.length) {
      if (any(i)) out += keys(i) -> ((mins(i), maxs(i)))
      mins(i) = Long.MaxValue; maxs(i) = Long.MinValue; any(i) = false
      i += 1
    }
    out.result()
  }
}

/** Commit JOURNAL for keyed-log dirs: one hidden marker (`_klogv_<v>`,
  * single-line JSON) per successful write commit — batch job, or
  * streaming epoch. Data files are still made visible by the task-level
  * staged renames (readers never need the journal); the journal adds the
  * VERSION dimension on top: incremental (CDC-style) reads via the
  * `start_version`/`end_version` scan options and the catalog's
  * `t.history` serve exactly the files a commit window added, the same
  * manifest-diff contract manifest tables have. Writers that predate the
  * journal (or drop files by hand) simply have unjournaled files: full
  * scans see them, version windows don't.
  *
  * The markers are a [[graft.core.VersionLog]] (numbered from 0, head
  * pointer `_klogv_head`; its doc gives the claim, pointer and anchor
  * protocol). The journal is never truncated and every commit claims
  * exactly `head + 1` (compaction carries all markers over), so versions
  * are consecutive `0..head` BY CONSTRUCTION: knowing the head is knowing
  * the list, and per-commit/per-read cost stops growing with stream
  * lifetime. Hand-deleting a marker breaks that invariant; don't. A
  * replayed streaming epoch re-commits the same file names and is
  * deduplicated to a no-op (exactly-once journaling on top of
  * replace-on-retry files). Every anchor version's marker embeds the
  * full journaled-name set and the live set, so the dedup check and the
  * live-set resolution read at most one anchor plus an interval of
  * deltas — never the whole history. */
private[graft] object KeyedLogVersionLog {
  import org.json4s.{JArray, JInt, JObject, JString, JValue}
  import graft.core.VersionLog

  private def log(path: String,
                  conf: org.apache.spark.util.SerializableConfiguration): VersionLog =
    new VersionLog(path, LakeStorage.openFor(path, conf.value), "_klogv_",
      Some("_klogv_head"), "keyed_log journal marker")

  /** The journal head version, O(1) object reads with a fresh pointer. */
  def head(path: String,
           conf: org.apache.spark.util.SerializableConfiguration): Option[Long] =
    log(path, conf).head

  /** All journal versions — `0..head` (consecutive by construction). */
  def versions(path: String,
               conf: org.apache.spark.util.SerializableConfiguration): Seq[Long] =
    upTo(head(path, conf))

  private def upTo(head: Option[Long]): Seq[Long] =
    head.map(h => 0L to h: Seq[Long]).getOrElse(Seq.empty)

  /** Every journal version with its commit instant, by one listing. */
  def commitTimes(path: String,
                  conf: org.apache.spark.util.SerializableConfiguration): Seq[(Long, Long)] =
    log(path, conf).commitTimes

  /** The paths of every journal entry present, by one listing. */
  def entryPaths(path: String,
                 conf: org.apache.spark.util.SerializableConfiguration): Seq[Path] =
    log(path, conf).paths

  /** Delete the whole journal — every entry and the head pointer. */
  def drop(path: String, conf: org.apache.spark.util.SerializableConfiguration): Unit =
    log(path, conf).clear()

  /** File names first journaled in versions (startExclusive, endInclusive];
    * endInclusive None = the journal head. */
  def filesInWindow(path: String,
                    conf: org.apache.spark.util.SerializableConfiguration,
                    startExclusive: Long,
                    endInclusive: Option[Long]): Seq[String] = {
    val vs = versions(path, conf)
    val end = endInclusive.getOrElse(vs.lastOption.getOrElse(-1L))
    vs.filter(v => v > startExclusive && v <= end).flatMap(read(path, conf, _))
  }

  /** One parsed journal marker. `fresh` = the names this version first
    * journaled (for a REWRITE: the whole live set as of the version);
    * `all` = journaled-ever anchor (compact entries); `live` = live-set
    * anchor (compact entries written by this revision on); `rm`/`ad` =
    * a row-level rewrite's replaced / added names. PRESENCE of the
    * rm/ad keys (Some, possibly empty) is what marks a rewrite as
    * row-level — a rebased no-op delete journals `rm=[] ad=[]`, which
    * must NOT read as a whole-table compaction refresh in the feed;
    * compaction rewrites and pre-field entries parse as None. */
  case class Entry(fresh: Seq[String], all: Option[Seq[String]],
                   rewrite: Boolean, live: Option[Seq[String]],
                   rm: Option[Seq[String]], ad: Option[Seq[String]],
                   stats: Map[String, Map[String, (Long, Long)]] = Map.empty)

  /** The names version `v` FIRST journaled. */
  def read(path: String, conf: org.apache.spark.util.SerializableConfiguration,
           v: Long): Seq[String] = entry(path, conf, v).fresh

  /** True when version `v` was journaled as a REWRITE (compaction or
    * row-level DML): its names are the whole post-rewrite file set,
    * superseding every earlier version's files. Entries written before
    * the flag existed parse as non-rewrites. */
  def isRewrite(path: String, conf: org.apache.spark.util.SerializableConfiguration,
                v: Long): Boolean = entry(path, conf, v).rewrite

  /** Full parsed marker `v` (through the log's entry cache) — the
    * changes feed reads rm/ad from here. */
  def entry(path: String, conf: org.apache.spark.util.SerializableConfiguration,
            v: Long): Entry = log(path, conf).entry(v)(decode)

  /** Delta entries are a bare JSON array; every anchor entry is
    * `{"n":[...],"all":[...],"live":[...]}`; rewrite entries carry
    * `"rw":1` and (row-level DML only) `"rm":[...]`,`"ad":[...]`. */
  private def decode(j: JValue): Entry = j match {
    case arr: JArray => Entry(VersionLog.strings(arr), None, rewrite = false, None, None, None)
    case o: JObject =>
      val m = o.obj.toMap
      // stats parse is STRICT: an empty col map means "all tracked
      // columns were all-null" and a missing col key means "all-null
      // there" — both PRUNE files, so silently defaulting a malformed
      // entry to either would turn marker corruption into missing
      // rows. Corruption fails loudly, like every other field.
      val st: Map[String, Map[String, (Long, Long)]] = m.get("st") match {
        case Some(JObject(files)) => files.toMap.map {
          case (f, JObject(cols)) => f -> cols.toMap.map {
            case (c, JArray(List(JInt(lo), JInt(hi)))) => c -> ((lo.toLong, hi.toLong))
            case (c, other) => VersionLog.corrupt(s"stats for $f.$c should be [min,max], got $other")
          }
          case (f, other) => VersionLog.corrupt(s"stats for $f should be an object, got $other")
        }
        case None => Map.empty
        case Some(other) => VersionLog.corrupt(s"'st' should be an object, got $other")
      }
      Entry(VersionLog.strings(m.getOrElse("n", JArray(Nil))),
        m.get("all").map(VersionLog.strings), m.contains("rw"),
        m.get("live").map(VersionLog.strings),
        m.get("rm").map(VersionLog.strings), m.get("ad").map(VersionLog.strings), st)
    case other => VersionLog.corrupt(s"expected array or object, got $other")
  }

  /** Entries from the newest of `vs` back to the first one `anchor`
    * accepts — O(AnchorInterval) reads however long the journal is. */
  private def back(l: VersionLog, vs: Seq[Long])(anchor: Entry => Boolean): List[Entry] =
    if (vs.isEmpty) Nil else l.walkBack(vs.last, vs.head)(decode)(anchor)

  /** Every name journaled as of the newest of `vs`: the fresh names back
    * to the first compact entry, plus its `all` set. */
  private def allJournaled(l: VersionLog, vs: Seq[Long]): Set[String] = {
    val es = back(l, vs)(_.all.isDefined)
    es.iterator.flatMap(_.fresh).toSet ++ es.lastOption.flatMap(_.all).getOrElse(Nil)
  }

  /** The journaled column stats by FILE NAME — replay newest-first,
    * merging each entry's `st` (names are write-once, so first-seen
    * wins), stopping at the first ANCHOR (rewrite, or a compact entry
    * carrying `all`): anchors accumulate the carried-forward stats at
    * commit time, so this walk is O(AnchorInterval) reads like the name
    * walks. Files absent from the result simply have no journaled stats
    * (pre-stats writers, genesis anchors) and are never pruned. */
  def statsJournaled(path: String,
      conf: org.apache.spark.util.SerializableConfiguration,
      vs: Seq[Long]): Map[String, Map[String, (Long, Long)]] =
    statsJournaled(log(path, conf), vs)

  private def statsJournaled(l: VersionLog,
      vs: Seq[Long]): Map[String, Map[String, (Long, Long)]] =
    back(l, vs)(e => e.rewrite || e.all.isDefined)
      .foldRight(Map.empty[String, Map[String, (Long, Long)]])((e, acc) => acc ++ e.stats)

  /** The LIVE file names at the journal head — what a reader should plan
    * over; None when no journal exists (pre-journal dirs fall back to a
    * directory listing). Replay newest-first, union each version's fresh
    * names, and stop at the first ANCHOR: a REWRITE entry (its names are
    * the whole set as of that version) or a compact entry carrying a
    * `live` set. */
  def liveSet(path: String,
              conf: org.apache.spark.util.SerializableConfiguration): Option[Seq[String]] = {
    val l = log(path, conf)
    val vs = upTo(l.head)
    if (vs.isEmpty) None else Some(liveAt(l, vs).toSeq.sorted)
  }

  /** The live names AS OF journal version `v` — the time-travel
    * resolution: replay entries `0..v` exactly like [[liveSet]] replays
    * the head (rewrite / compact-`live` anchors bound the walk). None
    * when `v` was never journaled. Whether the names still RESOLVE is
    * the caller's (retention) problem: a replaced file serves from its
    * `.rm-` tombstone until the orphan sweep ages it out; compaction
    * swaps the data away entirely and fails loudly — the same windows
    * the incremental cursors document. */
  def liveSetAt(path: String,
                conf: org.apache.spark.util.SerializableConfiguration,
                v: Long): Option[Seq[String]] = {
    val l = log(path, conf)
    val vs = upTo(l.head)
    if (!vs.contains(v)) None
    else Some(liveAt(l, vs.filter(_ <= v)).toSeq.sorted)
  }

  /** TIMESTAMP AS OF resolution: the newest version whose journal marker
    * mtime is at or before `ms` (the manifest contract, on the journal's
    * clock). */
  def versionAsOfTimestamp(path: String,
      conf: org.apache.spark.util.SerializableConfiguration,
      ms: Long): Option[Long] = log(path, conf).asOfTimestamp(ms)

  private def liveAt(l: VersionLog, vs: Seq[Long]): Set[String] = {
    val es = back(l, vs)(e => e.rewrite || e.live.isDefined)
    es.iterator.flatMap(_.fresh).toSet ++
      es.lastOption.filterNot(_.rewrite).flatMap(_.live).getOrElse(Nil)
  }

  /** Same-JVM committers to one dir serialize here — not for correctness
    * (the claim itself is atomic, see [[graft.core.VersionLog]]) but to
    * avoid wasted optimistic-loop retries between in-process racers.
    * Cross-JVM contention is exercised by CommitRaceSpec. */
  private val dirLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Journal `fileNames` as the next version. Names already journaled by
    * ANY version are dropped first (epoch-replay dedup); an all-dropped or
    * empty commit journals nothing and returns None. `rewrite` marks the
    * entry as a compaction rewrite (its names are the whole
    * post-compaction set, superseding earlier versions' files) — the tag
    * `t.changes` uses to distinguish refresh events from plain inserts. */
  def commit(path: String,
             conf: org.apache.spark.util.SerializableConfiguration,
             fileNames: Seq[String],
             rewrite: Boolean = false,
             stats: Map[String, Map[String, (Long, Long)]] = Map.empty): Option[Long] =
    dirLocks.computeIfAbsent(new Path(path).toString, _ => new Object)
      .synchronized { commitLocked(path, conf, fileNames, rewrite, None, stats) }

  /** Journal a row-level swap as a REBASED rewrite: the entry's live set
    * is computed INSIDE the commit loop (current live minus `removed`
    * plus `added`), so a concurrent append journaled between the caller's
    * snapshot and this commit keeps its files — the entry supersedes
    * older versions and MUST carry them. `rm`/`ad` ride the entry so
    * `t.changes` can serve the swap as delete-pre-image / insert-post-
    * image pairs instead of a whole-table refresh. Returns the version. */
  def commitRewrite(path: String,
                    conf: org.apache.spark.util.SerializableConfiguration,
                    removed: Set[String],
                    added: Seq[String],
                    stats: Map[String, Map[String, (Long, Long)]] = Map.empty): Long =
    dirLocks.computeIfAbsent(new Path(path).toString, _ => new Object)
      .synchronized {
        commitLocked(path, conf, Nil, rewrite = true, Some((removed, added)),
          stats).get
      }

  /** Journal a STATS-ONLY entry (`{"n":[],"st":{...}}`) — the backfill
    * path for files journaled by pre-stats writers: no files change, the
    * entry just attaches bounds to already-journaled names. Name walks
    * are unaffected (the entry adds no names); stats walks merge it like
    * any other entry, and later anchors carry the backfilled bounds
    * forward. Only JOURNALED names survive anchor accumulation, so the
    * caller scopes the map to them. */
  def commitStats(path: String,
                  conf: org.apache.spark.util.SerializableConfiguration,
                  stats: Map[String, Map[String, (Long, Long)]]): Option[Long] = {
    require(stats.nonEmpty, "keyed_log: a stats-only commit needs stats")
    dirLocks.computeIfAbsent(new Path(path).toString, _ => new Object)
      .synchronized {
        commitLocked(path, conf, Nil, rewrite = false, None, stats,
          statsOnly = true)
      }
  }

  private def commitLocked(path: String,
             conf: org.apache.spark.util.SerializableConfiguration,
             fileNames: Seq[String],
             rewrite: Boolean,
             rebase: Option[(Set[String], Seq[String])],
             stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
             statsOnly: Boolean = false): Option[Long] = {
    val l = log(path, conf)
    l.commit(first = 0L, attempts = 20) { head =>
      val vs = upTo(head)
      val seen = allJournaled(l, vs) // compact-anchored, O(interval)
      // epoch-replay dedup applies to plain commits only: a REWRITE's name
      // set is the new visible whole (a metadata DELETE's surviving files
      // are all previously-journaled names — the entry must still land,
      // possibly empty when everything was deleted)
      val (fresh, rmAd) = rebase match {
        case Some((removed, added)) =>
          // in-loop rebase: live is re-read on every attempt, so losing
          // the claim race to a concurrent append re-folds its files in
          val base: Set[String] =
            if (vs.nonEmpty) liveAt(l, vs)
            else KeyedLogSource.listDataFiles(path, conf)
              .map(f => new Path(f).getName).toSet
          (((base -- removed) ++ added).toSeq.distinct.sorted,
            Some(((removed & base).toSeq.sorted, added.distinct.sorted)))
        case None =>
          (if (rewrite) fileNames.distinct.sorted
           else fileNames.filterNot(seen).distinct.sorted, None)
      }
      if (fresh.isEmpty && !rewrite && !statsOnly) None
      else Some(VersionLog.render(
        encode(l, vs, head.fold(0L)(_ + 1), seen, fresh, rewrite, rmAd, stats, statsOnly)))
    }
  }

  /** The marker JSON of journal version `v`. */
  private def encode(l: VersionLog, vs: Seq[Long], v: Long, seen: Set[String],
      fresh: Seq[String], rewrite: Boolean, rmAd: Option[(Seq[String], Seq[String])],
      stats: Map[String, Map[String, (Long, Long)]], statsOnly: Boolean): JValue = {
    val fields = scala.collection.mutable.ListBuffer.empty[(String, JValue)]
    def arr(ns: Seq[String]) = JArray(ns.map(JString(_)).toList)
    fields += "n" -> arr(fresh)
    val anchor = rewrite || VersionLog.isAnchor(v)
    if (VersionLog.isAnchor(v)) {
      fields += "all" -> arr((seen ++ fresh).toList.sorted)
      // live-set anchor: readers replay back to here, never further
      if (!rewrite) fields += "live" -> arr((liveAt(l, vs) ++ fresh).toList.sorted)
    }
    if (rewrite) fields += "rw" -> JInt(1)
    rmAd.foreach { case (rm, ad) =>
      fields += "rm" -> arr(rm)
      fields += "ad" -> arr(ad)
    }
    // column stats ("st": {file: {col: [min,max]}}) ride the entry for
    // journal-carried file skipping. ANCHOR entries (rewrites, compact
    // markers) ACCUMULATE the prior entries' stats for the names they
    // carry forward — the stats walk then stops where the name walk
    // stops, keeping both O(AnchorInterval) reads per resolution.
    val entryStats: Map[String, Map[String, (Long, Long)]] = {
      // a stats-only entry attaches bounds to ALREADY-journaled names;
      // ordinary entries carry stats for exactly the names they journal
      val scoped =
        if (statsOnly) stats.view.filterKeys(seen).toMap
        else stats.view.filterKeys(fresh.toSet).toMap
      if (!anchor) scoped
      else statsJournaled(l, vs).view.filterKeys((seen ++ fresh) -- scoped.keySet).toMap ++ scoped
    }
    if (entryStats.nonEmpty)
      fields += "st" -> JObject(entryStats.toList.sortBy(_._1).map { case (f, cols) =>
        f -> (JObject(cols.toList.sortBy(_._1).map {
          case (c, (lo, hi)) => c -> (JArray(List(JInt(lo), JInt(hi))): JValue)
        }): JValue)
      })
    if (fields.size == 1 && !rewrite) arr(fresh) else JObject(fields.toList)
  }
}

/** Streaming (micro-batch) sink: same staged-rename task commit, with the
  * epoch id baked into the FINAL file name — a RETRIED epoch regenerates
  * the same names and replaces its own files, so replays after a failure
  * between sink commit and offset-log write are idempotent: at-least-once
  * delivery becomes exactly-once output, the deterministic-naming contract
  * the built-in file sink implements via its manifest. The STAGING name
  * still carries the task id, so two live attempts of one (epoch,
  * partition) — speculation, zombie tasks — never write the same temp
  * file; last-committer-wins on the shared final name. */
case class KeyedLogStreamingWrite(path: String, queryId: String,
    extras: Seq[org.apache.spark.sql.types.DataType] = Nil) extends StreamingWrite {
  private val conf = LakeStorage.taskConf()
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    KeyedLogStreamingWriterFactory(path, queryId, conf, extras)
  // a REPLAYED epoch re-commits the same file names -> journal dedup
  // makes this a no-op, keeping the journal exactly-once like the files
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val cms = messages.toSeq.collect { case c: KeyedLogCommit => c }
    KeyedLogVersionLog.commit(path, conf, cms.flatMap(_.fileNames),
      stats = cms.iterator.flatMap(_.stats).toMap)
    ()
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    KeyedLogSource.deleteCommitted(path, conf, messages)
}

case class KeyedLogStreamingWriterFactory(path: String, queryId: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    extras: Seq[org.apache.spark.sql.types.DataType] = Nil)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new KeyedLogWriter(path,
      tmpName = s".tmp-$queryId-e$epochId-$partitionId-t$taskId",
      finalName = s"part-$queryId-e$epochId-$partitionId.log",
      conf = conf, extras = extras)
}

case class KeyedLogWriterFactory(path: String, queryId: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    stagePrefix: String = "",
    extras: Seq[org.apache.spark.sql.types.DataType] = Nil) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KeyedLogWriter(path,
      tmpName = s".tmp-$queryId-$partitionId-$taskId",
      // a dot-prefixed stage name keeps row-level rewrite output INVISIBLE
      // to readers until the job-level swap reveals it
      finalName = s"${stagePrefix}part-$queryId-$partitionId.log",
      conf = conf, extras = extras)
}

class KeyedLogWriter(dir: String, tmpName: String, finalName: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    extras: Seq[org.apache.spark.sql.types.DataType] = Nil) extends DataWriter[InternalRow] {
  private val fs = LakeStorage.openFor(dir, conf.value)
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(fs.create(new Path(dir, tmpName), true), "UTF-8"))
  private val stats = new KeyedLogFileStats(extras)

  override def write(row: InternalRow): Unit = {
    val key = if (row.isNullAt(0)) "" else row.getUTF8String(0).toString
    // empty-string keys are not representable (the reader maps an empty
    // first field back to null, as the null key is written) — reject
    // loudly instead of silently migrating rows to the null group
    require(row.isNullAt(0) || key.nonEmpty,
      "keyed_log: empty-string keys are not representable; use null or a sentinel")
    val seq = if (row.isNullAt(1)) "" else row.getLong(1).toString
    val metric = if (row.isNullAt(2)) "" else row.getLong(2).toString
    out.write(key); out.write('\t'); out.write(seq); out.write('\t')
    out.write(metric)
    var j = 0
    while (j < extras.length) {
      out.write('\t'); out.write(KeyedLogSource.renderExtra(extras(j), row, 3 + j))
      j += 1
    }
    out.write('\n')
    stats.observe(row)
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    val dest = new Path(dir, finalName)
    // replace-on-retry: a replayed epoch/attempt regenerates the same name
    if (fs.exists(dest) && !fs.delete(dest, false))
      throw new java.io.IOException(s"keyed_log: could not replace $finalName")
    if (!fs.rename(new Path(dir, tmpName), dest))
      throw new java.io.IOException(s"keyed_log: task commit rename failed for $tmpName")
    // an EMPTY stats map still rides the message: it records "stats were
    // computed and every tracked column was all-null", which is prunable
    // — absence of the file from the map is what means "unknown"
    KeyedLogCommit(Seq(finalName), Map(finalName -> stats.harvest()))
  }
  override def abort(): Unit = {
    try out.close() catch { case _: java.io.IOException => () }
    fs.delete(new Path(dir, tmpName), false)
  }
  override def close(): Unit = ()
}

case class KeyedLogClusteredWriterFactory(path: String, queryId: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    stagePrefix: String = "",
    extras: Seq[org.apache.spark.sql.types.DataType] = Nil) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KeyedLogClusteredWriter(path, queryId, partitionId, taskId, conf,
      stagePrefix, extras)
}

/** Clustered-write task: rows arrive clustered by key and sorted
  * (key asc, seq asc — the Write's declared distribution/ordering), so the
  * writer streams each key run into its OWN file, named
  * `part-<queryId>-<partitionId>-K=<urlencoded key>.log` (empty encoding =
  * null key). One file per key per write is what lets the scan report
  * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
  * and Spark drop the shuffle from key aggregations and joins over
  * clustered dirs (storage-partitioned reads). Key cardinality bounds the
  * file count, so cluster on modest-cardinality keys (tenant, source,
  * language) — the default unclustered sink remains right for
  * high-cardinality appends.
  *
  * The same staged-rename commit as [[KeyedLogWriter]]: per-key temp files
  * carry the attempt id, final names are attempt-independent, so a retry
  * replaces its predecessor's files and a mid-commit crash re-renames the
  * same names — no duplicates, nothing partial visible. */
class KeyedLogClusteredWriter(dir: String, queryId: String, partitionId: Int,
    taskId: Long, conf: org.apache.spark.util.SerializableConfiguration,
    stagePrefix: String = "",
    extras: Seq[org.apache.spark.sql.types.DataType] = Nil)
    extends DataWriter[InternalRow] {

  private val fs = LakeStorage.openFor(dir, conf.value)
  private var out: java.io.BufferedWriter = _
  private var currentKey: String = _
  private var started = false
  private val seen = scala.collection.mutable.HashSet.empty[String]
  private val staged = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  private val stats = new KeyedLogFileStats(extras)
  private val statsByFile = Map.newBuilder[String, Map[String, (Long, Long)]]

  private def roll(key: String): Unit = {
    if (out != null) {
      out.close()
      statsByFile += staged.last._2 -> stats.harvest() // flush the closed run
    }
    val enc = KeyedLogSource.encKey(key)
    require(seen.add(enc),
      "keyed_log clustered write saw a key run twice — input not sorted by key " +
        "(the declared ordering was not honored)")
    val tmp = s".tmp-$queryId-$partitionId-t$taskId-K=$enc"
    staged += ((tmp, s"${stagePrefix}part-$queryId-$partitionId-K=$enc.log"))
    out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(new Path(dir, tmp), true), "UTF-8"))
    currentKey = key
    started = true
  }

  override def write(row: InternalRow): Unit = {
    val key = if (row.isNullAt(0)) null else row.getUTF8String(0).toString
    require(key == null || key.nonEmpty,
      "keyed_log: empty-string keys are not representable; use null or a sentinel")
    if (!started || !java.util.Objects.equals(key, currentKey)) roll(key)
    val seq = if (row.isNullAt(1)) "" else row.getLong(1).toString
    val metric = if (row.isNullAt(2)) "" else row.getLong(2).toString
    out.write(if (key == null) "" else key)
    out.write('\t'); out.write(seq); out.write('\t'); out.write(metric)
    var j = 0
    while (j < extras.length) {
      out.write('\t'); out.write(KeyedLogSource.renderExtra(extras(j), row, 3 + j))
      j += 1
    }
    out.write('\n')
    stats.observe(row)
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) {
      out.close()
      statsByFile += staged.last._2 -> stats.harvest()
    }
    staged.foreach { case (tmp, fin) =>
      val dest = new Path(dir, fin)
      if (fs.exists(dest) && !fs.delete(dest, false))
        throw new java.io.IOException(s"keyed_log: could not replace $fin")
      if (!fs.rename(new Path(dir, tmp), dest))
        throw new java.io.IOException(s"keyed_log: task commit rename failed for $tmp")
    }
    KeyedLogCommit(staged.map(_._2).toSeq, statsByFile.result())
  }

  override def abort(): Unit = {
    if (out != null) try out.close() catch { case _: java.io.IOException => () }
    staged.foreach { case (tmp, _) => fs.delete(new Path(dir, tmp), false) }
  }

  override def close(): Unit = ()
}

class KeyedLogScanBuilder(path: String, bucketN: Option[Int] = None,
    window: Option[(Long, Option[Long])] = None,
    asOf: Option[Long] = None,
    declared: StructType = KeyedLogSource.schema) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var required: StructType = declared
  private var pushed: Array[Filter] = Array.empty
  private var agg: Option[KeyedLogAgg] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Stats key per long-typed column (lowercased name -> "seq" /
    * "metric" / "e<j>") — the read-side half of [[KeyedLogFileStats]]'
    * positional encoding, resolved here where the declared schema is
    * known so the scan needs no schema plumbing. */
  private lazy val statsKeys: Map[String, String] = {
    val core = Map("seq" -> "seq", "metric" -> "metric")
    val ext = declared.fields.drop(KeyedLogSource.schema.length).collect {
      case f if f.dataType == org.apache.spark.sql.types.LongType =>
        f.name.toLowerCase(java.util.Locale.ROOT) ->
          s"e${KeyedLogSource.extraIndexOf(f)}"
    }
    core ++ ext
  }

  /** Accept key-column predicates (file-group + reader-level pruning) and
    * comparison predicates over long-typed columns (journal-carried stats
    * pruning at plan time); return EVERYTHING as residual (Spark
    * re-applies, keeping pushdown purely an optimization). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def statsCol(c: String) = statsKeys.contains(c.toLowerCase(java.util.Locale.ROOT))
    pushed = filters.filter {
      case EqualTo("key", _: String) => true
      case In("key", _)              => true
      case IsNotNull("key")          => true
      case EqualTo(c, _: Long)             => statsCol(c)
      case GreaterThan(c, _: Long)         => statsCol(c)
      case GreaterThanOrEqual(c, _: Long)  => statsCol(c)
      case LessThan(c, _: Long)            => statsCol(c)
      case LessThanOrEqual(c, _: Long)     => statsCol(c)
      case IsNotNull(c)                    => statsCol(c)
      case _                         => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** PARTIAL aggregate pushdown (supportCompletePushDown stays false):
    * each file's reader emits one pre-aggregated row per group and Spark
    * plans the final merge (sum of counts/sums, min of mins, max of
    * maxes) — the scan ships G rows per file instead of every line, the
    * biggest scan-side lever a connector has. Spark only attempts this
    * when no post-scan filters remain; since this builder reports every
    * filter as residual, aggregate pushdown applies exactly to
    * unfiltered aggregation shapes. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
        case _                                             => None
      }
    val longCols = Set("seq", "metric")
    val groupByKey = aggregation.groupByExpressions match {
      case Array() => false
      case Array(f: NamedReference) if f.fieldNames.sameElements(Array("key")) => true
      case _ => return false
    }
    // With storage-partitioned reads available for this dir, a key
    // aggregation is better served by the key-grouped scan: Spark's
    // partial agg then needs NO shuffle at all, which beats per-file
    // pre-aggregation followed by an exchange. (Also load-bearing:
    // aggregate pushdown re-ids the scan relation output, after which
    // V2ScanPartitioningAndOrdering cannot attach the reported
    // partitioning.)
    if (groupByKey && keyGroupedReadPossible) return false
    val ops = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => KeyedLogAgg.CountStarOp
      case c: Count if !c.isDistinct =>
        // core fields only: the per-file agg reader parses exactly these
        // (an extra-column COUNT stays a plain scan + Spark aggregate)
        fieldOf(c.column).filter(Set("key", "seq", "metric"))
          .map(KeyedLogAgg.CountOp).getOrElse(return false)
      case s: Sum if !s.isDistinct =>
        fieldOf(s.column).filter(longCols).map(KeyedLogAgg.SumOp).getOrElse(return false)
      case m: Min =>
        fieldOf(m.column).filter(longCols).map(KeyedLogAgg.MinOp).getOrElse(return false)
      case m: Max =>
        fieldOf(m.column).filter(longCols).map(KeyedLogAgg.MaxOp).getOrElse(return false)
      case _ => return false
    }
    val fields = (if (groupByKey) Seq(StructField("key", StringType)) else Nil) ++
      ops.zipWithIndex.map { case (_, i) => StructField(s"agg_$i", LongType) }
    agg = Some(KeyedLogAgg(groupByKey, ops, StructType(fields)))
    true
  }

  /** True when the scan over this dir can report key-grouped partitioning:
    * storage-partitioned reads enabled and every data file carries a
    * clustered-write key tag. */
  private def keyGroupedReadPossible: Boolean = {
    val enabled = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false") == "true"
    enabled && {
      val files = KeyedLogSource.readerFiles(path, LakeStorage.taskConf())
      files.nonEmpty &&
        files.forall(f => KeyedLogSource.keyOfFile(new Path(f).getName).isDefined)
    }
  }

  override def build(): Scan =
    KeyedLogScan(path, agg.map(_.schema).getOrElse(required), pushed, agg,
      bucketN, window, asOf, statsKeys)
}

/** Pushed-aggregation spec shipped to the per-file readers. */
case class KeyedLogAgg(groupByKey: Boolean, ops: Seq[KeyedLogAgg.AggOp],
                       schema: StructType)
object KeyedLogAgg {
  sealed trait AggOp extends Serializable
  case object CountStarOp extends AggOp { override def toString = "COUNT(*)" }
  case class CountOp(field: String) extends AggOp { override def toString = s"COUNT($field)" }
  case class SumOp(field: String) extends AggOp { override def toString = s"SUM($field)" }
  case class MinOp(field: String) extends AggOp { override def toString = s"MIN($field)" }
  case class MaxOp(field: String) extends AggOp { override def toString = s"MAX($field)" }
}

case class KeyedLogScan(path: String, required: StructType,
                        pushed: Array[Filter],
                        agg: Option[KeyedLogAgg] = None,
                        bucketN: Option[Int] = None,
                        window: Option[(Long, Option[Long])] = None,
                        asOf: Option[Long] = None,
                        statsKeys: Map[String, String] = Map.empty)
    extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics
    with SupportsReportPartitioning {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // one file-set resolution per scan: partition reporting and split
  // planning must agree on the same set even if writers race the query.
  // Plain scans resolve from the commit JOURNAL when one exists (snapshot
  // reads — a racing row-level swap is invisible until its entry lands),
  // falling back to a directory listing on pre-journal dirs. With a
  // version window, the set is the journal diff instead — a journaled
  // file no longer present (compacted/vacuumed past the cursor) fails
  // LOUDLY rather than silently dropping its rows from the change feed.
  @transient private lazy val allFiles: Array[String] = window match {
    case None => asOf match {
      case None => KeyedLogSource.readerFiles(path, conf)
      case Some(v) =>
        // VERSION AS OF: the journal's live set at v, each name served
        // from its visible file or — when a later swap replaced it — its
        // `.rm-` tombstone copy (same bytes; files are immutable once
        // visible). A name neither visible nor tombstoned is past
        // retention (vacuumed tombstone, or a compaction swapped the
        // data plane) and fails LOUDLY, the cursor contract.
        val names = KeyedLogVersionLog.liveSetAt(path, conf, v).getOrElse(
          throw new IllegalArgumentException(
            s"keyed_log($path): version $v is not journaled — " +
              s"journaled: ${KeyedLogVersionLog.versions(path, conf).mkString(",")}"))
        val listed = KeyedLogSource.listDataFiles(path, conf)
          .map(f => new Path(f).getName -> f).toMap
        lazy val tombs = KeyedLogSource.tombstonesOf(path, conf)
        names.map { n =>
          listed.get(n)
            .orElse(tombs.get(n).map(t => new Path(path, t).toString))
            .getOrElse(throw new IllegalStateException(
              s"keyed_log($path): file $n of version $v is gone — its " +
                "tombstone aged out (vacuum) or a compaction replaced the " +
                "data plane; time travel is bounded by tombstone retention"))
        }.sorted.toArray
    }
    case Some((from, to)) =>
      // Journal FIRST, listing SECOND: a data file becomes visible at its
      // task-commit rename BEFORE its name is journaled, so every name the
      // journal window yields is already listable. (Listing first raced
      // concurrent writers: a file made visible and journaled between the
      // listing and the journal read — end_version unset resolves to the
      // journal head at read time — looked "gone" and failed the scan.)
      // After this ordering a miss can only mean a rewrite removed the
      // file; still re-list once before throwing, to close the window
      // against a compactor racing this read's first listing. Tombstoned
      // pre-images are deliberately NOT served here: this scan has no
      // change-type channel, so delivering a replaced file's old rows
      // would silently resurrect them — `t.changes` (which tags deletes)
      // is the surface that serves pre-images.
      val names = KeyedLogVersionLog.filesInWindow(path, conf, from, to)
      def listing(): Map[String, String] = KeyedLogSource
        .listDataFiles(path, conf).map(f => new Path(f).getName -> f).toMap
      var listed = listing()
      var relisted = false
      names.map { n =>
        if (!listed.contains(n) && !relisted) { listed = listing(); relisted = true }
        listed.getOrElse(n, throw new IllegalStateException(
          s"keyed_log incremental read: journaled file $n is gone (rewritten, " +
            "compacted or vacuumed past your cursor?) — restart from a full scan"))
      }.sorted.toArray
  }

  // ---- planning-time FILE pruning from the pushed key predicates: on a
  // clustered dir every data file's name carries its key, so `key = v` /
  // `key IN (...)` plans only the named keys' file groups — the
  // point-lookup on a clustered 100 TB log opens one file group, not the
  // directory. Reader-level pushdown still applies inside surviving
  // files; untagged (plain) files are never pruned; runtime (join-time)
  // key filters stay reader-level only (re-pruning files after
  // outputPartitioning was reported would desync the two). ----

  /** Keys the pushed key predicates allow; None = unconstrained. */
  @transient private lazy val allowedKeys: Option[Set[String]] = {
    val sets = pushed.toSeq.collect {
      case EqualTo("key", v: String) => Set(v)
      case In("key", vs)             => vs.iterator.collect { case v: String => v }.toSet
    }
    sets.reduceOption(_ intersect _)
  }

  /** A key comparison is never TRUE on NULL keys, so any equality/IN (or
    * an explicit IS NOT NULL) drops the null-key file group. */
  @transient private lazy val dropNullKeyGroup: Boolean =
    allowedKeys.isDefined ||
      pushed.exists { case IsNotNull("key") => true; case _ => false }

  // ---- planning-time file pruning from journal-carried COLUMN STATS:
  // each comparison predicate Spark pushed over a long-typed column
  // (seq/metric/BIGINT extras) is evaluated against the per-file
  // [min,max] bounds the write commits journaled ("st" entries). A file
  // whose bounds cannot satisfy every conjunct is dropped before split
  // planning — the log-carried stats-skipping of the lake formats on the
  // TSV document log. Files without journaled stats (pre-stats writers)
  // are never pruned; a stats-carrying file MISSING a column's entry had
  // only NULLs there (including pre-drift files vs later-added columns),
  // which no comparison matches — prunable. Applies to the plain-scan
  // branch, size estimation, AND inside key-grouped reads (groups prune
  // files and empty groups drop — see keyGroups). IS NOT NULL prunes for
  // free (a bounds entry exists iff the column had a non-null value);
  // IS NULL pruning would need a null-count in the entry — a format rev,
  // deliberately not taken. ----

  /** (stats key, bounds predicate) per pushed comparison conjunct. */
  @transient private lazy val boundsPreds: Seq[(String, (Long, Long) => Boolean)] = {
    def k(c: String): Option[String] =
      statsKeys.get(c.toLowerCase(java.util.Locale.ROOT))
    pushed.toSeq.flatMap {
      case EqualTo(c, v: Long) =>
        k(c).map(key => key -> ((lo: Long, hi: Long) => lo <= v && v <= hi))
      case GreaterThan(c, v: Long) =>
        k(c).map(key => key -> ((_: Long, hi: Long) => hi > v))
      case GreaterThanOrEqual(c, v: Long) =>
        k(c).map(key => key -> ((_: Long, hi: Long) => hi >= v))
      case LessThan(c, v: Long) =>
        k(c).map(key => key -> ((lo: Long, _: Long) => lo < v))
      case LessThanOrEqual(c, v: Long) =>
        k(c).map(key => key -> ((lo: Long, _: Long) => lo <= v))
      // IS NOT NULL needs no bounds at all: any bounds entry means the
      // column had a non-null value, and a stats-carrying file MISSING
      // the key was all-null — exactly the files this predicate drops
      case IsNotNull(c) =>
        k(c).map(key => key -> ((_: Long, _: Long) => true))
      case _ => None
    }
  }

  /** Journal stats by file name — read ONLY when a prunable predicate
    * was pushed (zero planning cost otherwise); O(AnchorInterval)
    * marker reads, the same anchor walk every journal resolution uses. */
  @transient private lazy val statsByFile: Map[String, Map[String, (Long, Long)]] =
    if (boundsPreds.isEmpty) Map.empty
    else {
      val vs = KeyedLogVersionLog.versions(path, conf)
      if (vs.isEmpty) Map.empty
      else KeyedLogVersionLog.statsJournaled(path, conf, vs)
    }

  private def statsAllow(name: String): Boolean =
    statsByFile.get(name) match {
      case None => true // no journaled stats: never prune
      case Some(cols) => boundsPreds.forall { case (key, p) =>
        cols.get(key) match {
          case Some((lo, hi)) => p(lo, hi)
          case None           => false // all-null column: no row matches
        }
      }
    }

  /** May this file hold rows matching the pushed key filters and the
    * journal-carried column bounds? */
  private def fileMayMatch(f: String): Boolean =
    statsAllow(new Path(f).getName) &&
      (KeyedLogSource.keyOfFile(new Path(f).getName) match {
        case None          => true                    // untagged: never prune
        case Some(None)    => !dropNullKeyGroup       // null-key group
        case Some(Some(k)) => allowedKeys.forall(_.contains(k))
      })

  /** Per-key file groups of a FULLY CLUSTERED dir (every data file named
    * by the clustered writer), key-filter-pruned, sorted null-key-first —
    * None when any plain file is present, storage-partitioned reads are
    * disabled (`spark.sql.sources.v2.bucketing.enabled`, Spark's gate for
    * key-grouped scans; grouping shrinks parallelism to the key count, so
    * it must only happen when the planner can pay it back by dropping
    * shuffles), or pruning leaves no group (an empty KeyGroupedPartitioning
    * helps no one — the plain branch plans the empty scan). The "key"
    * column must survive pruning — a scan whose output lacks the key has
    * nothing to report a partitioning over. */
  @transient private lazy val keyGroups: Option[Seq[(String, Seq[String])]] = {
    // SQLConf.get is bound to the session PLANNING this scan (active's conf
    // would be wrong for a newSession() that was never made active)
    val enabled = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false") == "true"
    if (!enabled || allFiles.isEmpty || !required.fieldNames.contains("key")) None
    else {
      val parsed = allFiles.toSeq.map(f =>
        (f, KeyedLogSource.keyOfFile(new Path(f).getName)))
      if (parsed.exists(_._2.isEmpty)) None
      else Some(parsed
        .groupBy(_._2.get.orNull)
        .map { case (k, fs) => (k, fs.map(_._1).sorted) }
        .filter { case (k, _) =>
          if (k == null) !dropNullKeyGroup else allowedKeys.forall(_.contains(k))
        }
        // journal-carried bounds prune WITHIN groups too (computed here,
        // inside the one lazy resolution both outputPartitioning and
        // planInputPartitions share, so the reported grouping and the
        // planned splits can never desync — the reason RUNTIME filters
        // must stay reader-level does not apply to static pushdown).
        // A key whose every file is outside the bounds drops its whole
        // group, same as key pruning; a partially pruned group still
        // holds all SURVIVING rows of its key in one partition, which is
        // all KeyGroupedPartitioning promises.
        .map { case (k, fs) =>
          (k, fs.filter(f => statsAllow(new Path(f).getName)))
        }
        .filter(_._2.nonEmpty)
        .toSeq
        .sortWith((a, b) => a._1 == null || (b._1 != null && a._1 < b._1)))
        .filter(_.nonEmpty)
    }
  }

  /** BUCKET-grouped reads of a clustered dir (catalog tables created
    * `PARTITIONED BY (bucket(n, key))`): per-key file groups are merged
    * into the same `pmod(murmur3(key, 42), n)` bucket space the manifest
    * format's bucketed writer places rows into, so a keyed-log table and
    * a bucketed manifest table CO-PARTITION — their join is
    * storage-partitioned across the two formats, zero exchanges. */
  @transient private lazy val bucketGroups: Option[Seq[(Int, Seq[String])]] =
    for (n <- bucketN; groups <- keyGroups) yield
      groups
        .groupBy { case (k, _) => KeyedLogSource.bucketOfKey(k, n) }
        .map { case (b, gs) => (b, gs.flatMap(_._2).sorted) }
        .toSeq.sortBy(_._1)

  /** Storage-partitioned reads: a fully clustered dir has all rows of a
    * key in one file group, so the scan reports
    * `KeyGroupedPartitioning(identity(key))` — or `bucket(n, key)` for
    * bucket-declared tables — and Spark elides the shuffle under key
    * aggregations and co-clustered joins (the connector analogue of
    * bucketed tables / Iceberg's SPJ). */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    (bucketGroups, keyGroups) match {
      case (Some(groups), _) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
            bucketN.get, "key")),
          groups.size)
      case (None, Some(groups)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.identity("key")),
          groups.size)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          allFiles.length)
    }

  /** Size statistics from the file listing — without them Spark assumes
    * `defaultSizeInBytes` (effectively infinite) for a DSv2 scan, so a
    * small keyed-log table would never be chosen as the broadcast side of
    * a join. Sizes are the on-disk bytes of the visible files (an upper
    * bound on the scan after pruning/pushdown — conservative, like the
    * built-in file sources before filter estimation). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes: Long = {
      val fs = LakeStorage.openFor(path, conf.value)
      // key-pruned: a point lookup on a clustered dir sizes as one file
      // group, so the planner can happily broadcast it
      allFiles.filter(fileMayMatch)
        .map(f => fs.getFileStatus(new Path(f)).getLen).sum
    }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }
  override def description(): String =
    s"KeyedLogScan path=$path, ReadSchema: ${required.simpleString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      agg.map(a => s", PushedAggregates: [${a.ops.mkString(", ")}]").getOrElse("")

  /** Runtime (join-time) filtering: when this scan feeds a join whose other
    * side is selective, Spark executes the build side first and hands the
    * observed key set here as an `In` filter — the DSv2 mechanism behind
    * dynamic file/partition pruning in the lake formats. The keys merge
    * into the reader-level pushdown, so pruning happens inside the per-file
    * readers before any row is built; like static pushdown it is an
    * optimization only (Spark still applies the join). */
  @transient private var runtimeFilters: Array[Filter] = Array.empty
  override def filterAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("key"))
  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters.filter {
      case EqualTo("key", _: String) => true
      case In("key", _)              => true
      case IsNotNull("key")          => true
      case _                         => false
    }

  // captured lazily on the driver (both callers below run there)
  @transient private lazy val conf = LakeStorage.taskConf()

  override def planInputPartitions(): Array[InputPartition] =
    (bucketGroups, keyGroups) match {
      case (Some(groups), _) => groups.map { case (b, fs) =>
        KeyedLogBucketPartition(fs, b): InputPartition
      }.toArray
      case (None, Some(groups)) => groups.map { case (k, fs) =>
        KeyedLogKeyedPartition(fs, k): InputPartition
      }.toArray
      case _ => allFiles.filter(fileMayMatch)
        .map(f => KeyedLogPartition(Seq(f)): InputPartition)
    }
  override def createReaderFactory(): PartitionReaderFactory =
    KeyedLogReaderFactory(required, pushed ++ runtimeFilters, conf, agg)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(asOf.isEmpty,
      "keyed_log: streaming reads follow the live journal — VERSION AS OF " +
        "is a batch snapshot")
    new KeyedLogMicroBatchStream(path, required, pushed, conf, checkpointLocation)
  }
}

/** Streaming (micro-batch) SOURCE with BOUNDED offsets: the checkpointed
  * offset is a single seen-log version (`{"v":N}`, constant size for the
  * life of the stream), never the file list. Each trigger lists the dir,
  * diffs against the in-memory seen set (rebuilt from the seen-log on
  * restart — at most one anchor entry plus an anchor interval of
  * deltas, never the whole history), and records the
  * new files as one seen-log entry under the stream's per-source
  * checkpoint dir — the compacted-metadata-log pattern of Spark's
  * FileStreamSource, re-expressed for a DSv2 source. Each batch reads
  * exactly the files that appeared in its version window, with the
  * connector's column pruning and key-filter pushdown applying per batch.
  * Files must be immutable once visible (the sink's staged-rename commit
  * guarantees exactly that). A legacy full-file-list offset (the pre-log
  * format) is still accepted as a restart's range start. */
class KeyedLogMicroBatchStream(path: String, required: StructType,
    pushed: Array[Filter],
    conf: org.apache.spark.util.SerializableConfiguration,
    checkpointLocation: String) extends MicroBatchStream {

  private[sources] val ledger = new KeyedLogSeenLog(
    new Path(checkpointLocation, "graft_seen_log").toString, conf)

  override def initialOffset(): Offset = KeyedLogVersionOffset(-1L)
  override def latestOffset(): Offset = {
    // discovery is journal-resolved like every other read surface: a
    // row-level swap's revealed-but-unjournaled files must never enter
    // the seen-log (an aborted swap deletes them — a listing-based
    // ledger would then reference files that no longer exist and brick
    // the checkpoint); listing remains the pre-journal-dir fallback
    val fresh = KeyedLogSource.readerFiles(path, conf).filterNot(ledger.seen)
    if (fresh.isEmpty) KeyedLogVersionOffset(ledger.latestVersion)
    else KeyedLogVersionOffset(ledger.advance(fresh.toSeq))
  }
  override def deserializeOffset(json: String): Offset =
    if (json.startsWith("[")) KeyedLogOffset.fromJson(json) // legacy checkpoint
    else KeyedLogVersionOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val endV = end match {
      case KeyedLogVersionOffset(v) => v
      case other => throw new IllegalStateException(
        s"keyed_log: a legacy file-list offset can only be a range START, got end=$other")
    }
    val files = start match {
      case KeyedLogVersionOffset(s) => ledger.newFilesIn(s, endV)
      case KeyedLogOffset(old)      => (ledger.allUpTo(endV) -- old).toSeq.sorted
    }
    files.map(f => KeyedLogPartition(Seq(f)): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    KeyedLogReaderFactory(required, pushed, conf)
}

/** Bounded streaming offset: one seen-log version. `{"v":N}` is a single
  * line of constant size — Spark's OffsetSeqLog stores each source's
  * offset on one line of the checkpoint offset file, and unlike the
  * legacy file-list encoding it does not grow with stream lifetime. */
case class KeyedLogVersionOffset(v: Long) extends Offset {
  override def json(): String = s"""{"v":$v}"""
}
object KeyedLogVersionOffset {
  def fromJson(s: String): KeyedLogVersionOffset =
    org.json4s.jackson.JsonMethods.parse(s) \ "v" match {
      case org.json4s.JInt(n) => KeyedLogVersionOffset(n.toLong)
      case _ => throw new IllegalArgumentException(
        s"""keyed_log offset: expected {"v":N}, got $s""")
    }
}

/** The seen-file log backing bounded streaming offsets: a
  * [[graft.core.VersionLog]] with bare `%020d` entry names, numbered
  * from 0, no head pointer. Entry `v` holds the files FIRST seen at
  * version v as single-line JSON `{"n":[...]}`; every anchor entry
  * additionally embeds the full seen set (`{"n":[...],"all":[...]}`), so
  * rebuilding the seen set — on restart, or to migrate a legacy offset —
  * reads at most one anchor plus an interval of deltas, never the whole
  * history. Single-writer by construction (the driver of the one stream
  * owning this checkpoint dir): each entry is claimed once, and a lost
  * claim (a zombie driver after failover) is fatal — a crash between
  * claim and fill leaves a torn head entry, which the constructor
  * detects and repairs (see the replay block). */
private[sources] class KeyedLogSeenLog(dir: String,
    conf: org.apache.spark.util.SerializableConfiguration) {
  import org.json4s._
  import graft.core.VersionLog

  private val log = new VersionLog(dir, LakeStorage.openFor(dir, conf.value), "",
    None, "seen-log entry")
  private var latest: Long = -1L
  private val seenSet = scala.collection.mutable.HashSet.empty[String]
  /** Log entries read by the constructor's replay (test instrumentation
    * for the bounded-restart claim). */
  private[sources] var replayReads: Int = 0
  locally {
    // A driver crash inside advance() — after the claim, before the JSON
    // write completes — leaves a torn (0-byte/truncated) HEAD entry. Its
    // version was never returned from advance(), so it was never
    // committed to Spark's offset log: treating it as absent is always
    // safe. Tolerate exactly that case — delete the torn head and rewind
    // — so a restart re-claims the version instead of throwing on every
    // replay (a permanently bricked checkpoint). Tearing can only hit the
    // head: entries are written strictly sequentially, so v is durable
    // before v+1 is created. A STRUCTURALLY wrong but parseable entry, or
    // an unparseable non-head entry, is still real corruption and still
    // throws.
    var stamps = log.listedStamps
    if (stamps.nonEmpty &&
        log.tryStamped(stamps.lastKey, reads = 1, stamps.get(stamps.lastKey))(decode).isEmpty) {
      log.fs.delete(log.path(stamps.lastKey), false)
      stamps = stamps.init
    }
    if (stamps.nonEmpty) {
      latest = stamps.lastKey
      val es = replay(latest, stamps)
      seenSet ++= es.flatMap(_._1) ++ es.last._2.getOrElse(Nil)
      replayReads += es.size
    }
  }
  /** The entries this instance wrote that no batch has planned past yet:
    * the next [[newFilesIn]] serves them without reading them back. */
  private val unplanned = scala.collection.mutable.Map.empty[Long, Seq[String]]

  def latestVersion: Long = latest
  def seen(file: String): Boolean = seenSet.contains(file)

  /** Record `fresh` as the next version's entry; returns that version. */
  def advance(fresh: Seq[String]): Long = {
    val v = latest + 1
    val newArr: JValue = JArray(fresh.map(JString(_)).toList)
    val body: JValue =
      if (VersionLog.isAnchor(v))
        JObject("n" -> newArr,
          "all" -> JArray((seenSet ++ fresh).toList.sorted.map(JString(_))))
      else JObject("n" -> newArr)
    if (!log.claim(v, VersionLog.render(body)))
      throw new IllegalStateException(
        s"keyed_log seen-log: version $v already exists under $dir — " +
          "concurrent driver on one checkpoint?")
    seenSet ++= fresh
    unplanned(v) = fresh
    latest = v
    v
  }

  /** Files first seen in versions (startExclusive, endInclusive]. */
  def newFilesIn(startExclusive: Long, endInclusive: Long): Seq[String] = {
    unplanned --= unplanned.keys.filter(_ <= startExclusive)
    ((startExclusive + 1) to endInclusive).flatMap(v =>
      unplanned.getOrElse(v, log.entry(v)(decode)._1))
  }

  /** The full seen set as of version `v` — the legacy-offset migration
    * path; bounded by the same anchor replay as the constructor. */
  def allUpTo(v: Long): Set[String] =
    if (v < 0) Set.empty
    else {
      val es = replay(v, log.listedStamps)
      (es.flatMap(_._1) ++ es.last._2.getOrElse(Nil)).toSet
    }

  /** Entries `v` back to the newest anchor (newest first), reading each
    * under its listed stamp. */
  private def replay(v: Long, stamps: collection.Map[Long, VersionLog.Stamp])
      : List[(Seq[String], Option[Seq[String]])] =
    log.walkBack(v, 0L, stamps.get)(decode)(_._2.isDefined)

  /** (new files, full set if anchor) of one entry. */
  private def decode(j: JValue): (Seq[String], Option[Seq[String]]) = j match {
    case o: JObject =>
      val m = o.obj.toMap
      (VersionLog.strings(m.getOrElse("n", JArray(Nil))), m.get("all").map(VersionLog.strings))
    case other => VersionLog.corrupt(s"expected object, got $other")
  }
}

/** LEGACY offset = the full set of files already processed — the
  * pre-seen-log encoding, kept so old checkpoints still restart (it can
  * appear as a range start after upgrade, never as an end). The encoding
  * MUST be a single line: Spark's OffsetSeqLog stores each source's
  * offset on one line of the checkpoint offset file, so an embedded
  * newline would split one offset into several bogus ones on restart. */
case class KeyedLogOffset(files: Seq[String]) extends Offset {
  override def json(): String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(files))
  }
}
object KeyedLogOffset {
  def fromJson(s: String): KeyedLogOffset = {
    if (s.isEmpty) return KeyedLogOffset(Seq.empty)
    val parsed = org.json4s.jackson.JsonMethods.parse(s) match {
      case org.json4s.JArray(items) => items.map {
        case org.json4s.JString(f) => f
        case other => throw new IllegalArgumentException(
          s"keyed_log offset: expected string element, got $other")
      }
      case other => throw new IllegalArgumentException(
        s"keyed_log offset: expected JSON array, got $other")
    }
    KeyedLogOffset(parsed)
  }
}

case class KeyedLogPartition(files: Seq[String]) extends InputPartition

/** One key's whole file group of a clustered dir. Reporting the key here
  * ([[HasPartitionKey]]) is what upgrades the scan's partitioning to
  * KeyGroupedPartitioning — Spark aligns partitions of co-clustered scans
  * by these values for storage-partitioned joins. */
case class KeyedLogKeyedPartition(files: Seq[String], keyOrNull: String)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow(if (keyOrNull == null) null else UTF8String.fromString(keyOrNull))
}

/** All file groups of one BUCKET of a bucket-declared clustered dir,
  * keyed by the bucket id — the cross-format co-partitioning unit (the
  * manifest side's [[graft.catalog.BucketGroupPartition]] reports the
  * same `InternalRow(bucket)` key, so Spark zips the two scans'
  * partitions for a storage-partitioned join). */
case class KeyedLogBucketPartition(files: Seq[String], bucket: Int)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

object KeyedLogPartition {
  private[sources] def filesOf(partition: InputPartition): Seq[String] =
    partition match {
      case KeyedLogPartition(fs)          => fs
      case KeyedLogKeyedPartition(fs, _)  => fs
      case KeyedLogBucketPartition(fs, _) => fs
      case other => throw new IllegalStateException(s"not a keyed_log split: $other")
    }
}

case class KeyedLogReaderFactory(required: StructType, pushed: Array[Filter],
    conf: org.apache.spark.util.SerializableConfiguration,
    agg: Option[KeyedLogAgg] = None) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = KeyedLogPartition.filesOf(partition)
    agg match {
      case Some(a) => new KeyedLogAggReader(files, a, pushed, conf)
      case None    => new KeyedLogReader(files, required, pushed, conf)
    }
  }

  /** Plain scans deliver ColumnarBatches (parquet-style vectorized hand-off
    * into whole-stage codegen); aggregate-pushdown scans emit a handful of
    * partial rows per file, where batching buys nothing. */
  override def supportColumnarReads(partition: InputPartition): Boolean = agg.isEmpty
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new KeyedLogColumnarReader(
      KeyedLogPartition.filesOf(partition), required, pushed, conf)
}

/** Vectorized reader: parses lines straight into on-heap column vectors,
  * one [[org.apache.spark.sql.vectorized.ColumnarBatch]] per `batchSize`
  * rows. Spark consumes the batch columnar (ColumnarToRow fuses into
  * whole-stage codegen), which removes the per-row InternalRow allocation
  * and virtual next()/get() calls of the row reader — the same reason the
  * built-in parquet scan is vectorized. Parsing, key-filter pushdown, and
  * null semantics are shared with [[KeyedLogReader]] via [[KeyedLogLines]].
  */
class KeyedLogColumnarReader(files: Seq[String], required: StructType,
    pushed: Array[Filter], conf: org.apache.spark.util.SerializableConfiguration,
    batchSize: Int = 4096)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val lines = new KeyedLogLines(files, pushed, conf)
  private val fieldNames = required.fields.map(_.name)
  // -1 for core/metadata fields, the klog.field line position for extras
  private val extraIdx: Array[Int] = required.fields.map {
    case f if f.name == "key" || f.name == "seq" || f.name == "metric" ||
        f.name == KeyedLogRowLevelOperation.FileCol => -1
    case f => KeyedLogSource.extraIndexOf(f)
  }
  private val extraIsLong: Array[Boolean] = required.fields.map(
    _.dataType == org.apache.spark.sql.types.LongType)
  private val vectors = OnHeapColumnVector.allocateColumns(batchSize, required)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]])

  override def next(): Boolean = {
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    while (n < batchSize && lines.advance()) {
      var c = 0
      while (c < fieldNames.length) {
        val v = vectors(c)
        if (extraIdx(c) >= 0) {
          val raw = lines.extraRaw(extraIdx(c))
          if (raw == null) v.putNull(n)
          else if (extraIsLong(c)) {
            try v.putLong(n, java.lang.Long.parseLong(raw.trim))
            catch { case _: NumberFormatException => v.putNull(n) }
          } else {
            val b = java.net.URLDecoder.decode(raw, "UTF-8").getBytes("UTF-8")
            v.putByteArray(n, b, 0, b.length)
          }
        } else fieldNames(c) match {
          case "key" =>
            val k = lines.key
            if (k == null) v.putNull(n)
            else { val b = k.getBytes("UTF-8"); v.putByteArray(n, b, 0, b.length) }
          case "seq" =>
            if (lines.seqIsNull) v.putNull(n) else v.putLong(n, lines.seq)
          case "metric" =>
            if (lines.metricIsNull) v.putNull(n) else v.putLong(n, lines.metric)
          case KeyedLogRowLevelOperation.FileCol =>
            val b = lines.fileName.getBytes("UTF-8")
            v.putByteArray(n, b, 0, b.length)
        }
        c += 1
      }
      n += 1
    }
    batch.setNumRows(n)
    n > 0
  }
  override def get(): ColumnarBatch = batch
  override def close(): Unit = { lines.close(); batch.close() }
}

/** Shared line scanner for the row and columnar readers: reads the split's
  * files in order, splits lines, applies pushed key predicates, and
  * exposes the current row's parsed fields. `advance()` positions on the
  * next passing line (across file boundaries). */
private[sources] class KeyedLogLines(files: Seq[String], pushed: Array[Filter],
    conf: org.apache.spark.util.SerializableConfiguration) {
  private val fileIt = files.iterator
  private var in: java.io.BufferedReader = _

  var key: String = _
  var seq: Long = _
  var seqIsNull: Boolean = true
  var metric: Long = _
  var metricIsNull: Boolean = true
  /** Name of the file the current row came from — the `_klfile` metadata
    * column (row-level rewrites regroup rows by it). */
  var fileName: String = _
  /** Raw line fields of the current row (for extra columns — fields 3+;
    * a pre-drift line is simply shorter and its extras read null). */
  private var parts: Array[String] = _

  /** RAW extra field `i` (0-based among extras): null when the line
    * predates the column or carries the `\N` sentinel. */
  def extraRaw(i: Int): String = {
    val idx = 3 + i
    if (parts == null || idx >= parts.length) null
    else {
      val v = parts(idx)
      if (v == KeyedLogSource.ExtraNull) null else v
    }
  }

  private def keyPasses(k: String): Boolean = pushed.forall {
    case EqualTo("key", v: String) => k != null && k == v
    case In("key", vs)             => k != null && vs.contains(k)
    case IsNotNull("key")          => k != null
    case _                         => true
  }

  def advance(): Boolean = {
    while (true) {
      if (in == null) {
        if (!fileIt.hasNext) return false
        val f = fileIt.next()
        fileName = new Path(f).getName
        in = new java.io.BufferedReader(new java.io.InputStreamReader(
          LakeStorage.openFor(f, conf.value).open(new Path(f)), "UTF-8"))
      }
      val line = in.readLine()
      if (line == null) { in.close(); in = null }
      else {
        parts = line.split("\t", -1)
        val k = if (parts.nonEmpty && parts(0).nonEmpty) parts(0) else null
        if (keyPasses(k)) {
          key = k
          seqIsNull = true; metricIsNull = true
          if (parts.length > 1) try {
            seq = java.lang.Long.parseLong(parts(1).trim); seqIsNull = false
          } catch { case _: NumberFormatException => () }
          if (parts.length > 2) try {
            metric = java.lang.Long.parseLong(parts(2).trim); metricIsNull = false
          } catch { case _: NumberFormatException => () }
          return true
        }
      }
    }
    false // unreachable
  }
  def close(): Unit = if (in != null) in.close()
}

/** Per-file pre-aggregation: one pass over the lines builds a per-group
  * accumulator table and emits one PARTIAL row per group; Spark's final
  * aggregate merges partials across files. Null-group and all-null-sum
  * semantics mirror Spark's (null keys form a group; SUM/MIN/MAX of no
  * non-null values is null; counts are 0-based). */
class KeyedLogAggReader(files: Seq[String], agg: KeyedLogAgg, pushed: Array[Filter],
    conf: org.apache.spark.util.SerializableConfiguration) extends PartitionReader[InternalRow] {
  import KeyedLogAgg._

  private var out: Iterator[InternalRow] = _
  private var row: InternalRow = _

  private def fieldValue(op: String, key: String, seq: Any, metric: Any): Any = op match {
    case "key" => key
    case "seq" => seq
    case "metric" => metric
  }

  private def compute(): Iterator[InternalRow] = {
    val inner = new KeyedLogReader(files, KeyedLogSource.schema, pushed, conf)
    val opsArr = agg.ops.toArray // hoisted: the zip below runs per LINE
    // per group: per-op (value, seen) accumulators
    val groups = new java.util.LinkedHashMap[String, Array[Array[Long]]]()
    try {
      while (inner.next()) {
        val r = inner.get()
        val key = if (r.isNullAt(0)) null else r.getUTF8String(0).toString
        val seq: Any = if (r.isNullAt(1)) null else r.getLong(1)
        val metric: Any = if (r.isNullAt(2)) null else r.getLong(2)
        val gk = if (agg.groupByKey) key else ""
        var accs = groups.get(gk)
        if (accs == null) {
          accs = opsArr.map(_ => Array(0L, 0L)) // (value, seen)
          groups.put(gk, accs)
        }
        var i = 0
        while (i < opsArr.length) {
          val op = opsArr(i)
          val acc = accs(i)
          op match {
            case CountStarOp => acc(0) += 1; acc(1) = 1
            case CountOp(f) => if (fieldValue(f, key, seq, metric) != null) { acc(0) += 1; acc(1) = 1 }
            case SumOp(f) => fieldValue(f, key, seq, metric) match {
              case v: Long => acc(0) += v; acc(1) = 1
              case _       => ()
            }
            case MinOp(f) => fieldValue(f, key, seq, metric) match {
              case v: Long => if (acc(1) == 0 || v < acc(0)) acc(0) = v; acc(1) = 1
              case _       => ()
            }
            case MaxOp(f) => fieldValue(f, key, seq, metric) match {
              case v: Long => if (acc(1) == 0 || v > acc(0)) acc(0) = v; acc(1) = 1
              case _       => ()
            }
          }
          i += 1
        }
      }
    } finally inner.close()
    groups.entrySet().iterator().asScala.map { e =>
      val groupVals: Seq[Any] = if (agg.groupByKey)
        Seq(if (e.getKey == null) null else UTF8String.fromString(e.getKey)) else Nil
      val aggVals: Seq[Any] = agg.ops.zip(e.getValue.toSeq).map {
        case (CountStarOp | _: CountOp, acc) => acc(0)
        case (_, acc)                        => if (acc(1) == 0) null else acc(0)
      }
      InternalRow.fromSeq(groupVals ++ aggVals)
    }
  }

  override def next(): Boolean = {
    if (out == null) out = compute()
    if (out.hasNext) { row = out.next(); true } else false
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

class KeyedLogReader(files: Seq[String], required: StructType, pushed: Array[Filter],
    conf: org.apache.spark.util.SerializableConfiguration) extends PartitionReader[InternalRow] {
  private val lines = new KeyedLogLines(files, pushed, conf)
  // per-field extractors hoisted off the per-row path: core fields by
  // name, extras by their klog.field line position
  private val getters: Array[() => Any] = required.fields.map {
    case f if f.name == "key" =>
      () => if (lines.key == null) null else UTF8String.fromString(lines.key)
    case f if f.name == "seq" =>
      () => if (lines.seqIsNull) null else lines.seq: Any
    case f if f.name == "metric" =>
      () => if (lines.metricIsNull) null else lines.metric: Any
    case f if f.name == KeyedLogRowLevelOperation.FileCol =>
      () => UTF8String.fromString(lines.fileName)
    case f =>
      val i = KeyedLogSource.extraIndexOf(f)
      f.dataType match {
        case org.apache.spark.sql.types.LongType =>
          () => {
            val raw = lines.extraRaw(i)
            if (raw == null) null
            else try java.lang.Long.parseLong(raw.trim): Any
            catch { case _: NumberFormatException => null }
          }
        case _ =>
          () => {
            val raw = lines.extraRaw(i)
            if (raw == null) null
            else UTF8String.fromString(java.net.URLDecoder.decode(raw, "UTF-8"))
          }
      }
  }
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (!lines.advance()) return false
    // build ONLY the pruned columns, in the order Spark asked for
    row = InternalRow.fromSeq(getters.toIndexedSeq.map(_.apply()))
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = lines.close()
}
