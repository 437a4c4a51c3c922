package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{coalesce, col, lit, not}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.ManifestTable

/** DSv2 table over a [[graft.core.ManifestTable]] root — what
  * [[GraftCatalog]] returns for `USING manifest` tables.
  *
  * Read path: the snapshot (current, or `asOf` for `VERSION AS OF`) is a
  * manifest-listed set of parquet files; the scan DELEGATES to Spark's own
  * parquet DSv2 table over exactly that file list, so predicate pushdown,
  * column pruning, vectorized reading, and file-split parallelism are the
  * built-in ones — the catalog adds naming and snapshot resolution, not a
  * bespoke reader. An empty table (no committed version) scans as zero
  * rows with the declared schema.
  *
  * Write path: `INSERT INTO` appends (delta files + manifest union, no
  * rewrite of existing data), `INSERT OVERWRITE` replaces the snapshot —
  * both through the manifest's optimistic commit loop, so concurrent SQL
  * writers rebase instead of clobbering. The write is a V1 fallback
  * (`V1Write`): the driver hands the resolved DataFrame to
  * [[ManifestTable.append]]/[[ManifestTable.write]], which distribute the
  * actual file writes through the normal parquet writer — the fallback
  * shims the COMMIT protocol, not the data path.
  */
class ManifestSparkTable(dir: String, declared: StructType,
                         asOf: Option[Long],
                         bucketing: Option[GraftCatalog.Bucketing] = None,
                         mergeOnRead: Boolean = false,
                         cluster: Seq[GraftCatalog.ClusterKey] = Nil,
                         branch: Option[String] = None,
                         bloomCols: Seq[String] = Nil,
                         ndvCols: Seq[String] = Nil,
                         checks: Seq[Constraints.Check] = Nil)
    extends Table
    with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsDelete
    with SupportsMetadataColumns {

  /** Marker-log root this table view resolves/commits against: the branch
    * sidecar log for a branch view, the table root otherwise. Data pools
    * ALWAYS live under `dir` — a branch shares the parent's data plane
    * (see [[ManifestTable.createBranch]]). */
  private val logDir: String =
    branch.map(b => ManifestTable.branchLogDir(dir, b)).getOrElse(dir)

  /** Per-write parquet options baking bloom filters for the declared
    * index columns into every data file this table writes. */
  private val bloomOptions: Map[String, String] =
    GraftCatalog.bloomWriteOptions(bloomCols)

  /** WAP safety: when the session pins a staging branch but THIS table
    * view resolved to main (the branch does not exist here — typo'd
    * name, or the branch was never created), a WRITE must fail fast
    * rather than silently landing un-staged data on main and defeating
    * the audit. Reads fall back to main by design (dimension lookups in
    * a staging session are normal); writes are the hazard. */
  private def requireWapResolved(op: String): Unit =
    if (branch.isEmpty) {
      val pinned = SparkSession.active.conf.getOption(GraftCatalog.WapBranchConf)
      pinned.foreach { b =>
        throw new IllegalStateException(
          s"$op on ${name()}: session pins ${GraftCatalog.WapBranchConf}='$b' " +
            s"but this table has no branch '$b' — writes would silently " +
            "bypass the audit and land on main. CALL " +
            s"<catalog>.system.branch('<db.t>', '$b') first, or unset the conf")
      }
    }

  override def name(): String =
    s"manifest($dir${asOf.map(v => s"@v$v").getOrElse("")}" +
      s"${branch.map(b => s"@$b").getOrElse("")})"
  override def schema(): StructType = declared

  /** Surfaced by `SHOW TBLPROPERTIES` / `DESCRIBE TABLE EXTENDED`. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("graft.provider", "manifest")
    m.put("graft.location", dir)
    bucketing.foreach(b => m.put("graft.bucketing", s"bucket(${b.n}, ${b.col})"))
    if (cluster.nonEmpty)
      m.put("graft.partitioning", cluster.map(_.render).mkString(", "))
    if (mergeOnRead) m.put(GraftCatalog.DmlModeProp, "merge-on-read")
    branch.foreach(b => m.put("graft.branch", b))
    if (bloomCols.nonEmpty) m.put(GraftCatalog.BloomColsProp, bloomCols.mkString(","))
    if (ndvCols.nonEmpty) m.put(GraftCatalog.NdvColsProp, ndvCols.mkString(","))
    checks.foreach(c => m.put(Constraints.Prefix + c.name, c.sql))
    ManifestTable.currentVersion(logDir).foreach(v =>
      m.put("graft.current-version", v.toString))
    m
  }
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    bucketing.map(b => Expressions.bucket(b.n, b.col)).toArray ++
      cluster.map { k =>
        k.fn match {
          case "identity" => Expressions.identity(k.col)
          case "years"    => Expressions.years(k.col)
          case "months"   => Expressions.months(k.col)
          case "days"     => Expressions.days(k.col)
          case "hours"    => Expressions.hours(k.col)
          case "truncate" => Expressions.apply("truncate",
            Expressions.literal(k.width.get), Expressions.column(k.col))
        }
      }
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      // REPLACE WHERE (OverwriteByExpression with a non-trivial filter):
      // one atomic version swaps the predicate's rows for the new batch
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE,
      // `MERGE ... WITH SCHEMA EVOLUTION`: the analyzer diffs source vs
      // target and routes new columns through catalog.alterTable
      // (AddColumn, nullable) before planning the row-level write; plain
      // MERGE stays strict — the capability only arms the explicit clause
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  private def snapshotPaths: Seq[String] = snapshotState._1

  /** Snapshot file list and the log's data-skipping stats keyed by
    * ABSOLUTE path (what the parquet scan plans with), plus the
    * deletion-vector attachments keyed dir-RELATIVE (what the row-address
    * readers look files up by). */
  private def snapshotState: (Seq[String], Map[String, graft.core.FileStats.Stats],
      Map[String, graft.core.DeletionVectors.DvRef]) =
    ManifestTable.resolve(logDir, asOf) match {
      case None => (Seq.empty, Map.empty, Map.empty)
      case Some(v) =>
        val st = ManifestTable.state(logDir, v)
        (st.files.map(f => s"$dir/$f"),
          st.stats.map { case (f, s) => s"$dir/$f" -> s },
          st.dvs)
    }

  /** Incremental (CDC-style) reads:
    * `spark.read.option("start_version", v).table("cat.db.t")` serves ONLY
    * the rows of files ADDED after version `v` (optionally up to
    * `end_version`, default current) — the manifest diff IS the change
    * feed, so an incremental consumer (downstream dedup, index refresh,
    * training-data delta) re-reads nothing it has already processed.
    * File-granularity CoW semantics: a DML rewrite's output files count as
    * added, so consumers see rewritten rows again (upsert semantics, the
    * same contract Delta's CDF gives without the _change_type column);
    * append-only tables get exact inserts. Both versions must still be
    * present (not vacuumed) — vacuuming past a consumer's cursor is the
    * same operational error as in any lake format. */
  private def incrementalEntries(startVersion: Long, endVersion: Option[Long])
      : (Seq[String], Map[String, graft.core.FileStats.Stats],
         Map[String, graft.core.DeletionVectors.DvRef]) = {
    ManifestTable.resolve(dir, Some(startVersion))
    val end = ManifestTable.resolve(dir, endVersion).get
    require(end >= startVersion,
      s"end_version $end precedes start_version $startVersion")
    // O(window delta) marker replay (ManifestTable.diff) — an incremental
    // consumer's planning cost tracks its window, not the table size.
    // Window-added files are live at `end`, so the end snapshot's stats
    // (and any deletion vectors that landed on them by `end` — the
    // window's NET rows, matching the endpoint set difference) serve too.
    val added = ManifestTable.diff(dir, startVersion, end)._1
    val endState = ManifestTable.state(dir, end)
    (added.map(f => s"$dir/$f"),
      added.iterator.flatMap(f => endState.stats.get(f).map(s"$dir/$f" -> _)).toMap,
      endState.dvs.view.filterKeys(added.toSet).toMap)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    GraftCatalog.requireFieldIdReads(declared, name())
    val (paths, stats, dvs) = Option(options.get("start_version")) match {
      case Some(sv) =>
        require(asOf.isEmpty,
          s"start_version does not combine with VERSION AS OF (${name()})")
        require(branch.isEmpty,
          s"start_version reads main-log versions — not a branch view (${name()})")
        incrementalEntries(sv.toLong,
          Option(options.get("end_version")).map(_.toLong))
      case None => snapshotState
    }
    // the scan's file index is served FROM THE LOG (names + lengths in
    // the markers) — planning never lists the filesystem, the property
    // that keeps a selective query's plan time proportional to its
    // matched files, not the table's live-file count
    val spark = SparkSession.active
    val relStats = ManifestSparkTable.relKeyed(dir, stats)
    def mkBuilder(absSubset: Seq[String], withRowIndex: Boolean) =
      ManifestFileIndex.scanBuilder(spark, declared, dir,
        absSubset.map(ManifestSparkTable.relOf(dir, _)), relStats, options,
        withRowIndex)
    new ManifestScanBuilder(
      mkBuilder,
      options,
      // vectored tables read row-based until purge/compact — no
      // key-grouped reporting while vectors are pending
      bucketing.filter(_ =>
        dvs.isEmpty && ManifestSparkTable.fullyBucketed(paths, bucketing)),
      // the plain scan doubles as a micro-batch streaming source (offset =
      // manifest version); a time-travel view is a frozen snapshot, not a log
      streamSource = if (asOf.isEmpty && branch.isEmpty) Some((dir, declared)) else None,
      allPaths = paths, pathStats = stats, dir = dir, dvByRel = dvs,
      declaredSchema = declared)
  }

  // ---- row-level DML ----

  override def metadataColumns(): Array[MetadataColumn] =
    Array(ManifestSparkTable.FileMetadataColumn,
      ManifestSparkTable.PosMetadataColumn)

  /** SQL UPDATE / MERGE INTO (and non-translatable DELETEs): group-based
    * copy-on-write rewrite at file granularity by default
    * ([[ManifestRowLevelOperation]]); `'graft.dml.mode'='merge-on-read'`
    * tables report row ids instead and write deletion vectors
    * ([[ManifestDeltaOperation]]). */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(asOf.isEmpty, s"cannot run DML against the time-travel view ${name()}")
    requireWapResolved("DML")
    // GENERATED ALWAYS identity: UPDATE/MERGE rows flow through the
    // row-level writers, which cannot tell a PRESERVED key from a forged
    // or NULL one (and forged keys never advance the mark — a later
    // insert could then collide). Refuse loudly rather than mis-number;
    // DELETE writes no new values and stays allowed. BY DEFAULT columns
    // accept explicit values by contract, so they pass through.
    if (info.command != org.apache.spark.sql.connector.write.RowLevelOperation
          .Command.DELETE &&
        IdentityColumns.specs(declared).exists(!_.allowExplicit))
      throw new UnsupportedOperationException(
        s"${name()}: ${info.command} on a table with a GENERATED ALWAYS " +
          "identity column is not supported — the row-level write cannot " +
          "distinguish preserved keys from forged ones (DELETE and batch " +
          "INSERT remain available; use GENERATED BY DEFAULT to allow " +
          "explicit keys through DML)")
    // generated columns ride the row-level writers as implicit CHECKs
    // (`col <=> (expr)`): an UPDATE/MERGE that changes a source column
    // without re-supplying the matching generated value fails loudly
    // (validate-not-recompute — full-width rows give the writer no way to
    // tell a stale generated value from an intended one); DELETE writes
    // survivors unchanged, which satisfy the invariant by construction.
    val dmlChecks = checks ++ GeneratedColumns.implicitChecks(declared)
    if (mergeOnRead) () => new ManifestDeltaOperation(dir, declared, info.command,
      branch, bloomCols, ndvCols, dmlChecks)
    else () => new ManifestRowLevelOperation(dir, declared, info.command,
      bucketing, cluster, branch, bloomCols, ndvCols, dmlChecks)
  }

  /** DELETE fast path (Spark's metadata-only delete, also TRUNCATE TABLE):
    * when the whole condition translates to source filters, skip the
    * group-based plan — find the files holding matching rows, rewrite
    * ONLY those with the matches filtered out, and commit
    * `manifest - affected + rewritten`. Untouched files are re-listed,
    * never read. An empty filter array means delete-everything: commit an
    * empty snapshot without scanning anything. Merge-on-read tables keep
    * only the empty-filter (truncate) branch — a conditioned DELETE must
    * write vectors, not rewrite files. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty &&
      (if (mergeOnRead) filters.forall(_ == sources.AlwaysTrue)
       else filters.forall(ManifestSparkTable.filterToColumn(_).isDefined))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOf.isEmpty, s"cannot DELETE from the time-travel view ${name()}")
    requireWapResolved("DELETE")
    val snap = snapshotPaths
    if (snap.isEmpty) return
    if (filters.forall(_ == sources.AlwaysTrue)) {
      // TRUNCATE / DELETE FROM t (no condition, or an always-true one):
      // empty snapshot, nothing scanned, pending vectors dropped with it
      ManifestTable.commitStagedSnapshot(logDir, Seq.empty, dataDir = Some(dir))
      return
    }
    val cond = filters.map(f => ManifestSparkTable.filterToColumn(f).getOrElse(
      throw new IllegalStateException(s"canDeleteWhere admitted untranslatable $f")))
      .reduce(_ && _)
    stageRewriteMatching(snap, filters, cond) match {
      case None => ()
      case Some((affected, added, dvs)) =>
        branch.foreach(ManifestTable.requireBranchIntact(dir, _))
        ManifestTable.commitRewrite(logDir, removed = affected, added = added,
          expectedDvs = Some(dvs), dataDir = Some(dir), ndvCols = ndvCols)
        ()
    }
  }

  /** Shared by conditioned DELETE and REPLACE WHERE: the files holding rows
    * matching `cond` (stats-skipped discovery scan) plus STAGED survivor
    * rewrites of exactly those files with the cond=TRUE rows dropped
    * (pending deletion vectors applied first — a vector-blind read would
    * resurrect merge-on-read-deleted rows). None when no file matches. */
  private def stageRewriteMatching(snap: Seq[String], filters: Array[Filter],
      cond: org.apache.spark.sql.Column)
      : Option[(Seq[String], Seq[String], Map[String, graft.core.DeletionVectors.DvRef])] = {
    val spark = SparkSession.active
    // data skipping on the affected-file DISCOVERY scan too: a file whose
    // log stats prove the condition can never be TRUE holds no affected
    // rows, so it needn't even be read to find them
    val (_, stats, dvs) = snapshotState
    val candidates = snap.filter { p =>
      stats.get(p).forall(s =>
        filters.forall(graft.core.FileStats.mayMatchFilter(_, s, declared)))
    }
    if (candidates.isEmpty) return None
    // read with the DECLARED schema (not inferred): on a mapped table the
    // files' physical column names may predate renames — id resolution
    // serves them under the current logical names the condition uses
    GraftCatalog.requireFieldIdReads(declared, name())
    val affected = spark.read.schema(declared).parquet(candidates: _*)
      .filter(cond).select(col("_metadata.file_path")).distinct()
      .collect().map(r => ManifestRowLevelOperation.relNameIn(dir)(r.getString(0)))
      .toSeq.sorted
    if (affected.isEmpty) return None
    val survivors = ManifestTable.applyDvs(spark, dir,
      spark.read.schema(declared).parquet(affected.map(f => s"$dir/$f"): _*),
      dvs.view.filterKeys(affected.toSet).toMap)
      .filter(not(coalesce(cond, lit(false)))) // drop only cond=TRUE rows
    val added = bucketing match {
      // a bucketed table's rewrite re-buckets the survivors, so DML never
      // demotes the table out of storage-partitioned scanning; a
      // transform-partitioned table's rewrite re-clusters the same way
      case Some(b) =>
        ManifestTable.stagePoolBucketed(survivors, dir, b.n, b.col, bloomOptions)
      case None if cluster.nonEmpty =>
        ManifestTable.stagePoolClustered(survivors, dir, cluster.map(_.col),
          bloomOptions)
      case None => ManifestTable.stagePool(survivors, dir, bloomOptions)
    }
    Some((affected, added, dvs))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty, s"cannot write to the time-travel view ${name()}")
    requireWapResolved("write")
    new WriteBuilder with SupportsTruncate with SupportsOverwrite {
      private var overwrite = false
      private var replaceFilters: Option[Array[Filter]] = None
      override def truncate(): WriteBuilder = { overwrite = true; this }
      /** REPLACE WHERE (`df.writeTo(t).overwrite(cond)` /
        * OverwriteByExpression): atomically swap the predicate's rows for
        * the incoming batch — ONE commit removes the files holding
        * matching rows (survivor rows rewritten, deletion vectors
        * applied) and adds the new data's files. Incoming rows must
        * themselves satisfy the predicate (Delta's replaceWhere
        * constraint) — a violating row fails the write before any
        * version commits. */
      override def canOverwrite(filters: Array[Filter]): Boolean =
        filters.forall(f => f == sources.AlwaysTrue ||
          (ManifestSparkTable.filterToColumn(f).isDefined &&
            ManifestSparkTable.filterToSql(f).isDefined))
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        if (filters.forall(_ == sources.AlwaysTrue)) overwrite = true
        else replaceFilters = Some(filters.map(f => {
          require(ManifestSparkTable.filterToColumn(f).isDefined,
            s"REPLACE WHERE predicate not translatable to a source filter: $f")
          f
        }))
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwriteFlag: Boolean): Unit = {
              branch.foreach(ManifestTable.requireBranchIntact(dir, _))
              // identity columns: fill GENERATED values / reject explicit
              // ones BEFORE the checks see the rows (a CHECK may
              // reference the identity column). Markers live in the DATA
              // root so a WAP branch allocates from the same sequence as
              // main — fast-forward can never collide keys.
              val (data1, releaseIdentity) =
                IdentityColumns.fill(data, declared, dir)
              // generated columns: compute omitted values / validate
              // explicit ones — AFTER identity (an expression may
              // reference the identity column), BEFORE the checks (a
              // CHECK may reference the generated column). Pure map-side
              // row work.
              val data2 = GeneratedColumns.fill(data1, declared)
              try insertFilled(data2, overwriteFlag)
              finally releaseIdentity()
            }

            private def insertFilled(data: DataFrame, overwriteFlag: Boolean): Unit = {
              // CHECK constraints ride the write itself (lazy raise_error
              // branches on the first column — zero extra passes); a
              // violation fails the job before any version commits —
              // REPLACE WHERE additionally constrains incoming rows to
              // the replaced region (out-of-region rows would silently
              // survive the next same-predicate replace)
              val replaceCond = replaceFilters.map(_.map(f =>
                ManifestSparkTable.filterToColumn(f).get).reduce(_ && _))
              // NULL predicate results count as violations (an unmatched
              // row would silently survive the next same-predicate
              // replace), hence the coalesce(_, false)
              // reserved name (user CHECKs may not claim it — enforced at
              // DDL time) so violationIn attribution can never confuse a
              // user constraint's failure with the replace-region check
              val replaceCheck = replaceFilters.map(fs =>
                Constraints.Check(Constraints.ReplaceWhereName,
                  "coalesce(" + fs.map(f =>
                    ManifestSparkTable.filterToSql(f).getOrElse(
                      throw new IllegalStateException(
                        s"canOverwrite admitted unrenderable $f")))
                    .mkString("(", " AND ", ")") + ", false)"))
              val checked = Constraints.guard(data, checks ++ replaceCheck)
              // attach the declared field ids so the files resolve by id
              // ever after (column mapping; no-op on unmapped tables)
              val stamped = GraftCatalog.stampFieldIds(checked, declared)
              val files = bucketing match {
                case Some(b) =>
                  ManifestTable.stagePoolBucketed(stamped, dir, b.n, b.col,
                    bloomOptions)
                case None if cluster.nonEmpty =>
                  // declared partition transforms: range-cluster the write
                  // on the source columns so partition pruning falls out
                  // of the log's file stats
                  ManifestTable.stagePoolClustered(stamped, dir,
                    cluster.map(_.col), bloomOptions)
                case None => ManifestTable.stagePool(stamped, dir, bloomOptions)
              }
              // declared NDV columns: sketch the staged files (one extra
              // aggregation over the DELTA) and commit the sketches in
              // the marker next to the footer-harvested min/max
              def appendStaged(): Unit =
                ManifestTable.commitStagedAppend(logDir, files,
                  dataDir = Some(dir),
                  stats = if (ndvCols.isEmpty) None
                    else Some(ManifestTable.collectStats(dir, files, ndvCols)))
              replaceCond match {
                case Some(cond) =>
                  // REPLACE WHERE: one atomic version = (files holding
                  // matching rows removed, their survivor rewrites + the
                  // new batch added). No match / empty table degrades to
                  // an append of the batch — but BOTH arms commit under a
                  // conflict guard: a file appended concurrently between
                  // this discovery snapshot and the commit whose stats
                  // may-match the predicate ABORTS the commit (its rows
                  // would silently survive the replace — the implicit
                  // carry-over rebase rule is wrong for a scoped
                  // overwrite); stats-disjoint appends still carry over.
                  val snap = snapshotPaths
                  // snapshotPaths are built as s"$dir/$f" — strip that
                  // exact prefix back off (relNameIn expects the scan's
                  // QUALIFIED rendering, which these are not)
                  val snapRel = snap.map(_.stripPrefix(dir + "/")).toSet
                  val guard = Some((snapRel,
                    (_: String, st: Option[graft.core.FileStats.Stats]) =>
                      st.forall(s => replaceFilters.get.forall(
                        graft.core.FileStats.mayMatchFilter(_, s, declared)))))
                  stageRewriteMatching(snap, replaceFilters.get,
                      cond) match {
                    case Some((removed, survivors, dvs)) =>
                      ManifestTable.commitRewrite(logDir, removed = removed,
                        added = survivors ++ files,
                        expectedDvs = Some(dvs), dataDir = Some(dir),
                        ndvCols = ndvCols, conflictGuard = guard)
                      ()
                    case None =>
                      ManifestTable.commitRewrite(logDir, removed = Nil,
                        added = files, dataDir = Some(dir),
                        ndvCols = ndvCols, conflictGuard = guard)
                      ()
                  }
                case None if overwrite || overwriteFlag =>
                  ManifestTable.commitStagedSnapshot(logDir, files,
                    stats = if (ndvCols.isEmpty) None
                      else Some(ManifestTable.collectStats(dir, files, ndvCols)),
                    dataDir = Some(dir))
                  ()
                case None => appendStaged()
              }
              ()
            }
          }
        /** `writeStream.toTable(...)`: each epoch = one manifest version,
          * exactly-once via deterministic epoch pools — see
          * [[ManifestStreamingWrite]]. Complete mode (truncate) replaces
          * the snapshot per epoch. Under a WAP branch view the epochs
          * commit to the branch log (continuous staging; `fast_forward`
          * publishes the audited stream output, main untouched until
          * then). */
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(replaceFilters.isEmpty,
            s"REPLACE WHERE is a batch-write operation (${name()})")
          // identity columns stream through per-(epoch, partition) slab
          // reservations (IdentityColumns.reserveEpochSlab): a replayed
          // epoch re-reads its slab bases and regenerates identical keys,
          // so the epoch-pool exactly-once protocol holds for generated
          // keys too. Slab size (max rows per partition per epoch) is
          // spark.graft.identity.epochSlab.
          val identitySlab = SparkSession.active.conf
            .getOption("spark.graft.identity.epochSlab")
            .map(_.toLong).getOrElse(1L << 20)
          // streaming epochs VALIDATE generated columns rather than
          // compute them (the epoch writers are InternalRow-based): the
          // stream must supply the computed value explicitly, and the
          // implicit `col <=> (expr)` check fails the epoch loudly on a
          // mismatch or a NULL — deterministic row work, safe on retries
          new ManifestStreamingWrite(dir,
            GraftCatalog.stampFieldIds(info.schema(), declared),
            info.queryId(), overwrite, bloomCols, branch, ndvCols,
            checks ++ GeneratedColumns.implicitChecks(declared),
            IdentityColumns.specs(declared), identitySlab)
        }
      }
    }
  }
}

object ManifestSparkTable {

  private[catalog] def relOf(dir: String, abs: String): String =
    abs.stripPrefix(s"$dir/")

  private[catalog] def relKeyed(dir: String,
      stats: Map[String, graft.core.FileStats.Stats]): Map[String, graft.core.FileStats.Stats] =
    stats.map { case (p, st) => relOf(dir, p) -> st }

  /** True when EVERY snapshot file sits in a `d-bucketed-<n>-` pool with
    * this table's bucket count and carries a parseable bucket index — the
    * precondition for key-grouped (storage-partitioned) scanning. A plain
    * append or a DML rewrite (unbucketed pools) demotes the table to
    * ordinary scans until it is rewritten bucketed. */
  private[catalog] def fullyBucketed(paths: Seq[String],
                                     bucketing: Option[GraftCatalog.Bucketing]): Boolean =
    bucketing.exists { b =>
      paths.nonEmpty && paths.forall { p =>
        val segs = p.split('/')
        segs.length >= 2 &&
          ManifestTable.bucketsOfPool(segs(segs.length - 2)).contains(b.n) &&
          ManifestTable.bucketOfFile(segs.last).exists(_ < b.n)
      }
    }

  /** `_file`: the dir-relative data file a row lives in — the DML group
    * identity (what runtime group filtering prunes on), also SELECTable
    * through the row-level scan. */
  object FileMetadataColumn extends MetadataColumn {
    override def name(): String = ManifestRowLevelOperation.FileCol
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String = "dir-relative data file holding the row"
  }

  /** `_pos`: the row's file-absolute parquet index — with `_file`, the
    * stable row id merge-on-read DML deletes by (also SELECTable). */
  object PosMetadataColumn extends MetadataColumn {
    override def name(): String = DvRead.PosCol
    override def dataType(): DataType = org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String = "row position within its data file"
  }

  /** Translate a v1 source filter into a Column predicate with identical
    * match semantics (a row "matches" only when the predicate is TRUE —
    * nulls never match, same as the Filter contract). None marks the one
    * we cannot express, which fails canDeleteWhere and routes the DELETE
    * through the group-based plan instead. */
  private[catalog] def filterToColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v)            => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v)        => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v)           => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case sources.In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a)                => Some(col(a).isNull)
    case sources.IsNotNull(a)             => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case sources.StringContains(a, v)     => Some(col(a).contains(v))
    case sources.AlwaysTrue()             => Some(lit(true))
    case sources.AlwaysFalse()            => Some(lit(false))
    case sources.And(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case sources.Not(c) =>
      // SQL three-valued NOT: NULL stays NULL. Collapsing NULL to false
      // here would make `DELETE WHERE a != 5` delete a IS NULL rows on the
      // metadata fast path while the group-based plan keeps them. The
      // TRUE-only semantics a DELETE needs are applied once, at the top
      // level in deleteWhere (affected = cond IS TRUE; survivors =
      // NOT coalesce(cond, false)), so the translation itself must be pure.
      filterToColumn(c).map(cc => not(cc))
    case _ => None
  }

  /** SQL identifier for a v1 Filter attribute. Filter attributes arrive
    * as DOT-JOINED nested paths — but a top-level column whose NAME
    * contains a dot arrives already backtick-quoted
    * (`FieldReference.toString` quotes such parts), and splitting that on
    * '.' would mangle it into a different identifier. No faithful
    * re-parse is worth the ambiguity, so quoted attributes render as None
    * — canOverwrite then refuses the predicate loudly instead of
    * enforcing a misresolved constraint. */
  private def attrSql(a: String): Option[String] =
    if (a.contains('`')) None
    else Some(a.split('.').map(p => s"`$p`").mkString("."))

  private def litSqlOf(v: Any): Option[String] = v match {
    case null => Some("NULL")
    case s: String =>
      // Quote/backslash escaping is PARSER-MODE-DEPENDENT
      // (spark.sql.parser.escapedStringLiterals flips backslash
      // semantics), so only trivially-safe strings render as plain
      // literals; anything else rides base64 — the alphabet is quote- and
      // backslash-free, so the rendering parses identically in both modes
      if (s.forall(c => c >= 0x20 && c < 0x7f && c != '\'' && c != '\\'))
        Some("'" + s + "'")
      else {
        val b64 = java.util.Base64.getEncoder
          .encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Some(s"CAST(unbase64('$b64') AS STRING)")
      }
    case u: org.apache.spark.unsafe.types.UTF8String => litSqlOf(u.toString)
    case d: java.sql.Date => Some(s"DATE'$d'")
    case d: java.time.LocalDate => Some(s"DATE'$d'")
    case t: java.sql.Timestamp => Some(s"TIMESTAMP'${t.toInstant}'")
    case t: java.time.Instant => Some(s"TIMESTAMP'$t'")
    case b: Boolean => Some(b.toString)
    case f: Float => Some(s"CAST('$f' AS FLOAT)")
    case d: Double => Some(s"CAST('$d' AS DOUBLE)")
    case n @ (_: Byte | _: Short | _: Int | _: Long) => Some(n.toString)
    case d: java.math.BigDecimal => Some(s"CAST('$d' AS DECIMAL(${d.precision}, ${d.scale}))")
    case d: BigDecimal => litSqlOf(d.underlying)
    case _ => None // binary/struct/etc: no SQL rendering — caller degrades
  }

  /** Parser-compatible SQL for a v1 Filter tree — [[filterToColumn]]'s
    * textual twin, used to hand a REPLACE WHERE predicate to the CHECK
    * constraint machinery (whose checks are stored/parsed as SQL).
    * Semantically aligned with filterToColumn case by case; None for any
    * shape (or literal type) without a faithful rendering. */
  private[catalog] def filterToSql(f: Filter): Option[String] = f match {
    case sources.EqualTo(a, v)            => for (at <- attrSql(a); l <- litSqlOf(v)) yield s"($at = $l)"
    case sources.EqualNullSafe(a, v)      => for (at <- attrSql(a); l <- litSqlOf(v)) yield s"($at <=> $l)"
    case sources.GreaterThan(a, v)        => for (at <- attrSql(a); l <- litSqlOf(v)) yield s"($at > $l)"
    case sources.GreaterThanOrEqual(a, v) => for (at <- attrSql(a); l <- litSqlOf(v)) yield s"($at >= $l)"
    case sources.LessThan(a, v)           => for (at <- attrSql(a); l <- litSqlOf(v)) yield s"($at < $l)"
    case sources.LessThanOrEqual(a, v)    => for (at <- attrSql(a); l <- litSqlOf(v)) yield s"($at <= $l)"
    case sources.In(a, vs) =>
      if (vs.isEmpty) Some("FALSE")
      else {
        val ls = vs.toSeq.map(litSqlOf)
        if (ls.forall(_.isDefined))
          attrSql(a).map(at => s"($at IN (${ls.flatten.mkString(", ")}))")
        else None
      }
    case sources.IsNull(a)                => attrSql(a).map(at => s"($at IS NULL)")
    case sources.IsNotNull(a)             => attrSql(a).map(at => s"($at IS NOT NULL)")
    case sources.StringStartsWith(a, v)   => for (at <- attrSql(a); l <- litSqlOf(v)) yield s"startswith($at, $l)"
    case sources.StringEndsWith(a, v)     => for (at <- attrSql(a); l <- litSqlOf(v)) yield s"endswith($at, $l)"
    case sources.StringContains(a, v)     => for (at <- attrSql(a); l <- litSqlOf(v)) yield s"contains($at, $l)"
    case sources.AlwaysTrue()             => Some("TRUE")
    case sources.AlwaysFalse()            => Some("FALSE")
    case sources.And(l, r) =>
      for (ls <- filterToSql(l); rs <- filterToSql(r)) yield s"($ls AND $rs)"
    case sources.Or(l, r) =>
      for (ls <- filterToSql(l); rs <- filterToSql(r)) yield s"($ls OR $rs)"
    case sources.Not(c) => filterToSql(c).map(cs => s"(NOT $cs)")
    case _ => None
  }
}
