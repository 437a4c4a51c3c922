package graft.catalog

import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{LakeStorage, ManifestTable}

/** Maintenance procedures for manifest tables, reachable from plain SQL
  * through Spark 4's `CALL` statement (the catalog implements
  * `ProcedureCatalog`) — the last piece of the table-format surface that
  * previously needed the Scala API:
  *
  * {{{
  *   CALL graft.system.compact('db.t')                  -- small-file rewrite
  *   CALL graft.system.compact('db.t', target_mb => 64)
  *   CALL graft.system.vacuum('db.t', keep => 3)        -- expire + GC pools
  *   CALL graft.system.rollback('db.t', 2)              -- RESTORE version 2
  * }}}
  *
  * Each procedure returns a one-row result (a [[LocalScan]]): compaction
  * reports file counts, vacuum the number of pool directories removed,
  * rollback the restored and newly committed versions. All three commit
  * through the manifest's optimistic loop, so they are safe to run while
  * writers append (compact rebases concurrent appends in; rollback never
  * deletes anything; vacuum removes only pools of expired committed
  * versions plus never-committed pools OLDER than an orphan-retention
  * window — a concurrent writer's freshly staged, not-yet-committed pool
  * is spared, so its commit cannot be corrupted out from under it).
  *
  * Compacting a bucket-clustered table re-stages through the bucketed
  * pool writer — maintenance never demotes a table out of
  * storage-partitioned-join eligibility.
  */
private[catalog] object GraftProcedures {

  def load(catalog: GraftCatalog, ident: Identifier): Option[UnboundProcedure] = {
    if (!(ident.namespace().length == 1 &&
        ident.namespace()(0).equalsIgnoreCase("system"))) return None
    ident.name().toLowerCase match {
      case "compact"        => Some(new CompactProcedure(catalog))
      case "vacuum"         => Some(new VacuumProcedure(catalog))
      case "rollback"       => Some(new RollbackProcedure(catalog))
      case "register_files" => Some(new RegisterFilesProcedure(catalog))
      case "purge_deletes"  => Some(new PurgeDeletesProcedure(catalog))
      case "tag"            => Some(new TagProcedure(catalog))
      case "drop_tag"       => Some(new DropTagProcedure(catalog))
      case "branch"         => Some(new BranchProcedure(catalog))
      case "fast_forward"   => Some(new FastForwardProcedure(catalog))
      case "drop_branch"    => Some(new DropBranchProcedure(catalog))
      case "set_partitioning" => Some(new SetPartitioningProcedure(catalog))
      case "expire_refs"    => Some(new ExpireRefsProcedure(catalog))
      case "clone"          => Some(new CloneProcedure(catalog))
      case "collect_stats"  => Some(new CollectStatsProcedure(catalog))
      case "add_generated_column" => Some(new AddGeneratedColumnProcedure(catalog))
      case _                => None
    }
  }

  val names: Seq[String] =
    Seq("compact", "vacuum", "rollback", "register_files", "purge_deletes",
      "tag", "drop_tag", "branch", "fast_forward", "drop_branch",
      "set_partitioning", "expire_refs", "clone", "collect_stats",
      "add_generated_column")

  /** The [[ManifestTable.CloneBranchPrefix]] namespace is reserved: a
    * clone's pin must never be user-creatable (branch) or
    * user-publishable (fast_forward — it would merge a whole table's
    * divergence into its source). The pin's lifecycle is `clone` /
    * DROP TABLE; `drop_branch` refuses LIVE pins but accepts ORPHANED
    * ones (see [[GraftCatalog.isLiveClonePin]]) as the recovery path. */
  private def requireNotClonePin(proc: String, name: String): Unit =
    require(!name.startsWith(ManifestTable.CloneBranchPrefix),
      s"$proc: '${ManifestTable.CloneBranchPrefix}*' branch names are " +
        "reserved zero-copy clone pins, managed by CALL clone / DROP TABLE")

  /** Resolve a procedure's `'db.t'` argument against the catalog. */
  private def target(catalog: GraftCatalog, table: String): (String, String, Option[GraftCatalog.Bucketing]) = {
    val parts = table.split("\\.")
    require(parts.length <= 2 && parts.forall(_.nonEmpty),
      s"procedure wants a table name like 'db.t' or 't', got '$table'")
    catalog.procedureTarget(Identifier.of(parts.dropRight(1), parts.last))
  }

  private def manifestTarget(catalog: GraftCatalog, table: String,
                             proc: String): (String, Option[GraftCatalog.Bucketing]) =
    target(catalog, table) match {
      case ("manifest", dir, bucket) => (dir, bucket)
      case (other, _, _) => throw new IllegalArgumentException(
        s"$proc applies to manifest tables only; '$table' is a $other table")
    }

  private def result(schema: StructType, values: Any*): JIterator[Scan] = {
    val row: InternalRow = new GenericInternalRow(values.toArray)
    val scan: Scan = new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = Array(row)
    }
    Collections.singletonList(scan).iterator()
  }

  private abstract class ManifestProcedure extends UnboundProcedure with BoundProcedure {
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
  }

  private final class CompactProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "compact"
    override def description(): String =
      "rewrite the table into its compact layout (manifest: ~target_mb files, " +
        "bucketed re-bucket, cluster_by range-sorts, zorder bit-interleaves " +
        "2-4 dims; keyedlog: one file per key); auto => true acts only when " +
        "small-file debt reaches auto_min_files, then bin-packs just the debt"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("target_mb", IntegerType).defaultValue("128").build(),
      ProcedureParameter.in("cluster_by", StringType).defaultValue("''").build(),
      ProcedureParameter.in("small_only", BooleanType).defaultValue("false").build(),
      ProcedureParameter.in("zorder", StringType).defaultValue("''").build(),
      ProcedureParameter.in("where", StringType).defaultValue("''").build(),
      ProcedureParameter.in("auto", BooleanType).defaultValue("false").build(),
      ProcedureParameter.in("auto_min_files", IntegerType).defaultValue("4").build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val parts = input.getString(0).split("\\.")
      require(parts.length <= 2 && parts.forall(_.nonEmpty),
        s"procedure wants a table name like 'db.t' or 't', got '${input.getString(0)}'")
      val (meta, dir) = catalog.procedureMeta(
        Identifier.of(parts.dropRight(1), parts.last))
      val (provider, bucket) = (meta.provider, meta.bucket)
      val spark = SparkSession.active
      val requested = input.getString(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val zorderBy = input.getString(4).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(zorderBy.isEmpty || (zorderBy.length >= 2 && zorderBy.length <= 4),
        "zorder interleaves 2 to 4 columns (use cluster_by for 1)")
      require(zorderBy.isEmpty || requested.isEmpty,
        "cluster_by (linear) and zorder (interleaved) are exclusive layouts")
      require(zorderBy.isEmpty || (provider == "manifest" && bucket.isEmpty),
        "zorder applies to plain/transform-partitioned manifest tables")
      // a transform-partitioned table compacts CLUSTERED by its declared
      // partition source columns by default — maintenance never demotes
      // the partition layout (explicit cluster_by / zorder still overrides)
      val clusterBy =
        if (requested.nonEmpty || zorderBy.nonEmpty) requested
        else meta.cluster.map(_.col)
      require(bucket.isEmpty || clusterBy.isEmpty,
        "cluster_by does not apply to bucketed tables — the bucket layout IS the clustering")
      require(provider == "manifest" || clusterBy.isEmpty,
        "cluster_by does not apply to keyedlog tables — they compact to key-clustered files")
      // mapped tables: the rewrite must read the snapshot with the
      // DECLARED (id-resolved) schema — files may predate column renames
      val declared: Option[StructType] =
        if (provider == "manifest" && GraftCatalog.isMapped(meta.schema)) {
          GraftCatalog.requireFieldIdReads(meta.schema, input.getString(0))
          Some(meta.schema)
        } else None
      val smallOnly = !input.isNullAt(3) && input.getBoolean(3)
      require(!smallOnly || (provider == "manifest" && bucket.isEmpty),
        "small_only applies to plain/transform-partitioned manifest tables " +
          "(bucketed and keyedlog compaction is already per-group)")
      require(!smallOnly || zorderBy.isEmpty,
        "zorder is a full-layout rewrite — it cannot compose with " +
          "small_only's touch-nothing-healthy contract")
      // OPTIMIZE ... WHERE: rewrite only the files whose stats may hold
      // matching rows (file-granular, never row-splitting)
      val whereSql = input.getString(5).trim
      require(whereSql.isEmpty || (provider == "manifest" && bucket.isEmpty),
        "where applies to plain/transform-partitioned manifest tables " +
          "(a scoped rewrite would demote a bucketed layout)")
      require(whereSql.isEmpty || !smallOnly,
        "where and small_only are different file selectors — pick one")
      // AUTO maintenance: act only when the small-file debt crosses the
      // threshold, then collect exactly the debt (the bin-pack pass) —
      // the scheduled entry point an operator cron-runs over every table
      // without hand-deciding which ones need work
      val auto = !input.isNullAt(6) && input.getBoolean(6)
      val autoMinFiles = input.getInt(7)
      require(!auto || bucket.isEmpty || provider == "keyedlog",
        "auto applies to plain/transform-partitioned manifest tables and " +
          "keyedlog tables (bucketed manifest compaction is already per-group)")
      require(!auto || (zorderBy.isEmpty && whereSql.isEmpty && !smallOnly &&
          requested.isEmpty),
        "auto IS the file selector and layout decision — it composes with " +
          "nothing (the declared partition clustering is kept)")
      val blooms = GraftCatalog.bloomWriteOptions(meta.bloomCols)
      val (before, after) = (provider, bucket) match {
        case ("keyedlog", _) if auto =>
          // keyedlog debt = files a per-key compaction would consolidate:
          // every unclustered file + each clustered key's excess beyond
          // one file (the signal t.partitions reports per key)
          val conf = LakeStorage.taskConf()
          val keys = graft.sources.KeyedLogSource.readerFiles(dir, conf).toSeq
            .map(f => graft.sources.KeyedLogSource.keyOfFile(
              new org.apache.hadoop.fs.Path(f).getName))
          val debt = keys.count(_.isEmpty) +
            keys.flatten.groupBy(identity).valuesIterator.map(_.size - 1).sum
          if (debt < autoMinFiles) (0L, 0L)
          else graft.core.LakeCompaction.compactKeyedLog(spark, dir,
            Some(meta.schema))
        case _ if auto =>
          val target = input.getInt(1).toLong * 1024 * 1024
          if (ManifestTable.smallFileDebt(dir, target) < autoMinFiles) (0L, 0L)
          else ManifestTable.compactSmall(spark, dir, target, clusterBy,
            declared, blooms, meta.ndvCols)
        case ("keyedlog", _) =>
          graft.core.LakeCompaction.compactKeyedLog(spark, dir, Some(meta.schema))
        case (_, Some(b))    =>
          ManifestTable.compactBucketed(spark, dir, b.n, b.col, declared, blooms,
            meta.ndvCols)
        case _ if whereSql.nonEmpty =>
          // resolve against the DECLARED schema (named attribute refs —
          // FileStats.mayMatch evaluates them against per-file stats)
          val (pred, _) = Constraints.resolveRowPredicate(
            spark, meta.schema, "compact where", whereSql)
          ManifestTable.compactScoped(spark, dir, pred,
            input.getInt(1).toLong * 1024 * 1024, clusterBy, zorderBy,
            declared, blooms, meta.ndvCols)
        case _ if smallOnly =>
          // OPTIMIZE bin-pack: merge only undersized files; well-sized
          // data is never rewritten (cost ∝ small-file bytes, not table)
          ManifestTable.compactSmall(spark, dir,
            input.getInt(1).toLong * 1024 * 1024, clusterBy, declared, blooms,
            meta.ndvCols)
        case _ =>
          ManifestTable.compact(spark, dir,
            input.getInt(1).toLong * 1024 * 1024, clusterBy, declared, blooms,
            meta.ndvCols, zorderBy = zorderBy)
      }
      result(
        StructType(Seq(
          StructField("files_before", LongType, nullable = false),
          StructField("files_after", LongType, nullable = false))),
        before, after)
    }
  }

  private final class VacuumProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "manifest: drop commit markers older than the keep most recent and " +
        "unreferenced data pools; keyedlog: sweep hidden residue " +
        "(.tmp-/.rl-/.rm-) older than orphan_retain_ms (journal markers " +
        "are permanent — keep does not apply)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keep", IntegerType).defaultValue("2").build(),
      ProcedureParameter.in("orphan_retain_ms", LongType)
        .defaultValue(ManifestTable.OrphanRetainMs.toString).build(),
      // VACUUM ... DRY RUN: report the pool count the same plan would
      // remove, touching NOTHING (no checkpoint anchoring, no marker
      // truncation, no deletes) — the look-before-you-leap a retention
      // change on a 100 TB table deserves
      ProcedureParameter.in("dry_run", BooleanType).defaultValue("false").build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val dryRun = !input.isNullAt(3) && input.getBoolean(3)
      target(catalog, input.getString(0)) match {
        case ("manifest", dir, _) =>
          result(
            StructType(Seq(
              StructField("pools_removed", IntegerType, nullable = false))),
            ManifestTable.vacuum(dir, input.getInt(1), input.getLong(2),
              dryRun = dryRun))
        case ("keyedlog", dir, _) =>
          // keyedlog maintenance: sweep the dir's hidden residue — `.tmp-`
          // task temps and `.rl-` staged files from crashed/aborted
          // writes, and `.rm-` pre-image tombstones past their
          // feed-serving retention — older than orphan_retain_ms. Change
          // feeds whose window needs an aged-out pre-image fail loudly.
          // `keep` is a manifest concept: keyedlog journal markers are
          // permanent (liveSet resolution depends on the consecutive
          // version line), so a non-default value is refused, not ignored
          require(input.getInt(1) == 2,
            s"vacuum(keep) does not apply to keyedlog tables — journal " +
              "markers are permanent; this vacuum sweeps only aged hidden " +
              "residue (orphan_retain_ms governs it)")
          result(
            StructType(Seq(
              StructField("orphans_removed", IntegerType, nullable = false))),
            graft.sources.KeyedLogSource.sweepOrphans(dir, LakeStorage.taskConf(),
              input.getLong(2), dryRun).length)
        case (other, _, _) => throw new IllegalArgumentException(
          s"vacuum applies to manifest and keyedlog tables; " +
            s"'${input.getString(0)}' is a $other table")
      }
    }
  }

  /** `CALL g.system.register_files('db.t' [, pattern => '*.parquet']
    * [, source_dir => '/ext/landing'])` — bulk-import: adopt parquet
    * files into the manifest as ONE append commit, no rewrite (the
    * CONVERT-TO-DELTA migration path; see [[ManifestTable.registerFiles]]
    * for scope/safety rules). Two arms:
    *  - no `source_dir`: adopt files already PLACED under the table
    *    directory by external means, in place;
    *  - `source_dir => dir`: COPY matching files from an EXTERNAL
    *    directory into a fresh `import-<uuid>/` subdir first —
    *    md5-verified, distributed as ONE Spark job above the
    *    [[DeepCopy.copyList]] size threshold (the distcp shape: a 100 TB
    *    landing zone imports at cluster speed, not one driver NIC) —
    *    then adopt EXACTLY the copied list. The source files are never
    *    touched; a failed import cleans its own `import-*` scratch.
    * Rejected on bucketed tables: adopted files carry no bucket tag and
    * would silently demote every storage-partitioned plan — rewrite
    * through INSERT (or register into a plain table and compact into a
    * bucketed one). */
  private final class RegisterFilesProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "register_files"
    override def description(): String =
      "adopt parquet files into the manifest without rewrite — in place from " +
        "under the table directory, or copy-verified from source_dir"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("pattern", StringType).defaultValue("'*.parquet'").build(),
      ProcedureParameter.in("source_dir", StringType).defaultValue("''").build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val (dir, bucket) = manifestTarget(catalog, input.getString(0), "register_files")
      require(bucket.isEmpty,
        "register_files applies to plain manifest tables only — adopted files carry " +
          "no bucket tag and would demote the table's storage-partitioned layout")
      val (meta, _) = {
        val parts = input.getString(0).split("\\.")
        catalog.procedureMeta(Identifier.of(parts.dropRight(1), parts.last))
      }
      require(!GraftCatalog.isMapped(meta.schema),
        "register_files applies to name-resolved tables only — this table uses " +
          "column mapping (parquet field ids), which externally produced files " +
          "don't carry; route the import through INSERT INTO ... SELECT instead")
      // adopted rows must satisfy the table's declared CHECK constraints —
      // every other write path enforces them pre-commit, and ALTER-time
      // ADD validated the existing rows; adoption scans the candidate
      // files the same way (limit-1 per check, stops at the first
      // violation) BEFORE anything commits
      val checks = meta.checks.map { case (n, s) => Constraints.Check(n, s) }
      val validate: Seq[String] => Unit =
        if (checks.isEmpty) _ => ()
        else { fresh =>
          val df = SparkSession.active.read
            .parquet(fresh.map(f => s"$dir/$f"): _*)
          // ONE detection pass over the adoptees whatever the constraint
          // count (the any-check-violated disjunction, limit-1); the
          // per-check attribution scan runs only on the rare failure path
          val bad = df.where(checks.map(Constraints.violated).reduce(_ || _))
            .limit(1).collect()
          if (bad.nonEmpty) {
            val c = checks.find(c =>
              df.where(Constraints.violated(c)).limit(1).collect().nonEmpty)
              .getOrElse(checks.head)
            throw new IllegalArgumentException(
              s"register_files: adopted rows violate CHECK constraint " +
                s"${c.name} (${c.sql}), e.g. ${bad.head} — " +
                "nothing was committed")
          }
        }
      val sourceDir = input.getString(2)
      val (version, added) =
        if (sourceDir.isEmpty)
          ManifestTable.registerFiles(
            SparkSession.active, dir, input.getString(1), validate = validate)
        else {
          // COPY arm: stage verified copies into a fresh import scratch
          // dir under the table root, then adopt EXACTLY that list (a
          // stray unreferenced file someone else dropped under the table
          // dir is NOT swept in — that is the in-place arm's contract)
          val srcFs = graft.core.LakeStorage.openFor(sourceDir)
          val base = new org.apache.hadoop.fs.Path(sourceDir)
          require(srcFs.exists(base),
            s"register_files: no such source directory $sourceDir")
          val matcher = java.nio.file.FileSystems.getDefault
            .getPathMatcher("glob:" + input.getString(1))
          val found = scala.collection.mutable.Buffer.empty[String]
          def walk(p: org.apache.hadoop.fs.Path, rel: String): Unit =
            srcFs.listStatus(p).foreach { st =>
              val name = st.getPath.getName
              if (!name.startsWith("_") && !name.startsWith(".")) {
                if (st.isDirectory) walk(st.getPath, s"$rel$name/")
                else if (name.endsWith(".parquet") &&
                    matcher.matches(java.nio.file.Paths.get(name)))
                  found += s"$rel$name"
              }
            }
          walk(base, "")
          require(found.nonEmpty,
            s"register_files: no files matching '${input.getString(1)}' " +
              s"under $sourceDir")
          // DETERMINISTIC destinations — pool dir keyed by the source
          // directory, file names by each source-relative path — so
          // re-importing the same landing zone maps every file to the
          // SAME destination: already-adopted names drop out BEFORE any
          // bytes move (a re-CALL is a metadata-only no-op), and a
          // referenced file can never be overwritten by a second copy.
          // Semantics are append-only BY NAME: a source file whose BYTES
          // changed in place after adoption is skipped, not re-imported
          // (rename it, or land changed data as new files).
          def hex(sIn: String): String = java.security.MessageDigest
            .getInstance("MD5").digest(sIn.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          val pool = s"import-${hex(sourceDir).take(12)}"
          val referenced = ManifestTable.allReferencedFiles(dir)
          val pairs = found.toSeq.sorted.map { r =>
            (r, s"$pool/f${hex(r).take(16)}-${new org.apache.hadoop.fs.Path(r).getName}")
          }.filterNot(p => referenced(p._2))
          try {
            DeepCopy.copyList(sourceDir, dir, pairs,
              GraftCatalog.copyThresholdBytes)
            ManifestTable.adoptFiles(
              SparkSession.active, dir, pairs.map(_._2), validate)
          } catch { case e: Throwable =>
            // nothing references THIS call's staged copies until the
            // adopt commit lands, so they are garbage on failure: clean
            // exactly them (never the pool dir wholesale — an earlier
            // import of the same source dir may own referenced files
            // there) so a later IN-PLACE register cannot silently sweep
            // up a half-verified import
            val dstFs = graft.core.LakeStorage.openFor(dir)
            pairs.foreach { case (_, rel) =>
              try { dstFs.delete(new org.apache.hadoop.fs.Path(dir, rel), false); () }
              catch { case _: java.io.IOException => () }
            }
            throw e
          }
        }
      result(
        StructType(Seq(
          StructField("table_version", LongType, nullable = false),
          StructField("files_added", LongType, nullable = false))),
        version, added.length.toLong)
    }
  }

  /** `CALL g.system.add_generated_column('db.t', 'o_year', 'INT',
    * 'year(o_odate)')` — the ALTER half Delta never shipped: add a
    * `GENERATED ALWAYS AS (expr)` column to an EXISTING table. Three
    * individually-atomic steps, each through existing machinery:
    * ADD COLUMNS (metadata-only), `UPDATE ... SET col = CAST((expr) AS
    * type) WHERE col IS NULL` (ONE distributed copy-on-write rewrite —
    * materializing for history is the honest 100 TB cost, there is no
    * metadata trick that backfills an expression), then
    * `SET TBLPROPERTIES ('graft.generated.<col>' = expr)` (validates
    * every row against the expression before adopting it). RESUMABLE: a
    * crash between steps leaves the column either absent, all-NULL, or
    * fully materialized (the rewrite is one atomic commit), and a re-CALL
    * picks up where it stopped; a pre-existing column with values that
    * DIVERGE from the expression is refused before anything is rewritten
    * (this procedure must never silently overwrite user data — backfill
    * explicitly and use ALTER TABLE ... SET TBLPROPERTIES instead). */
  private final class AddGeneratedColumnProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "add_generated_column"
    override def description(): String =
      "add a GENERATED ALWAYS AS (expr) column to an existing manifest table: " +
        "add + materialize (one distributed rewrite) + adopt; resumable"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("column", StringType).build(),
      ProcedureParameter.in("type", StringType).build(),
      ProcedureParameter.in("expr", StringType).build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val table = input.getString(0)
      val col = input.getString(1)
      val typ = input.getString(2)
      val exprSql = input.getString(3)
      val parts = table.split("\\.")
      require(parts.length <= 2 && parts.forall(_.nonEmpty),
        s"procedure wants a table name like 'db.t' or 't', got '$table'")
      val ident = Identifier.of(parts.dropRight(1), parts.last)
      val (meta, dir) = catalog.procedureMeta(ident)
      require(meta.provider == "manifest",
        s"add_generated_column applies to manifest tables only; " +
          s"'$table' is a ${meta.provider} table")
      val spark = SparkSession.active
      val full = ((catalog.name() +: parts.dropRight(1)) :+ parts.last)
        .map(p => s"`$p`").mkString(".")
      val qcol = s"`${col.replace("`", "``")}`"
      val existing = meta.schema.find(_.name.equalsIgnoreCase(col))
      val stored = existing.filter(_.metadata.contains(GeneratedColumns.ExprKey))
        .map(_.metadata.getString(GeneratedColumns.ExprKey))
      stored.foreach { s =>
        require(s == exprSql,
          s"add_generated_column: $table.$col is already GENERATED ALWAYS " +
            s"AS ($s) — call UNSET TBLPROPERTIES first to change the expression")
      }
      val materialized = stored.isEmpty
      if (materialized) {
        if (existing.isEmpty)
          spark.sql(s"ALTER TABLE $full ADD COLUMNS ($qcol $typ)")
        else {
          // pre-existing column (user data, or a resume after a crash):
          // by the rewrite's atomicity its rows are all-NULL or already
          // computed — anything else is user data this procedure refuses
          // to overwrite. One limit-1 scan, stops at the first divergence.
          val bad = spark.table(full)
            .where(org.apache.spark.sql.functions.expr(
              s"$qcol IS NOT NULL AND NOT ($qcol <=> CAST(($exprSql) AS $typ))"))
            .limit(1).collect()
          require(bad.isEmpty,
            s"add_generated_column: $table.$col already holds values that " +
              s"diverge from ($exprSql), e.g. ${bad.headOption.getOrElse("")} — " +
              "refusing to overwrite them; backfill explicitly (UPDATE) and " +
              s"adopt via ALTER TABLE ... SET TBLPROPERTIES " +
              s"('${GeneratedColumns.PropPrefix}$col' = '...')")
        }
        // materialize: ONE distributed copy-on-write rewrite, scoped to
        // the files that still carry NULLs (on resume only the
        // not-yet-rewritten tail pays)
        spark.sql(s"UPDATE $full SET $qcol = CAST(($exprSql) AS $typ) " +
          s"WHERE $qcol IS NULL")
        val esc = exprSql.replace("'", "''")
        spark.sql(s"ALTER TABLE $full SET TBLPROPERTIES " +
          s"('${GeneratedColumns.PropPrefix}$col' = '$esc')")
      }
      val version = ManifestTable
        .currentVersion(meta.location.getOrElse(dir)).getOrElse(-1L)
      result(
        StructType(Seq(
          StructField("table_version", LongType, nullable = false),
          StructField("materialized", BooleanType, nullable = false))),
        version, java.lang.Boolean.valueOf(materialized))
    }
  }

  /** `CALL g.system.purge_deletes('db.t')` — materialize a merge-on-read
    * table's deletion vectors: rewrite ONLY the vectored files (live rows
    * kept) and drop the vectors, restoring vectorized/pushdown reads.
    * Cost ∝ vectored bytes, never the table. */
  private final class PurgeDeletesProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "purge_deletes"
    override def description(): String =
      "rewrite files carrying deletion vectors (live rows only) and drop the vectors"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val parts = input.getString(0).split("\\.")
      require(parts.length <= 2 && parts.forall(_.nonEmpty),
        s"procedure wants a table name like 'db.t' or 't', got '${input.getString(0)}'")
      val (meta, dir) = catalog.procedureMeta(
        Identifier.of(parts.dropRight(1), parts.last))
      require(meta.provider == "manifest",
        s"purge_deletes applies to manifest tables only; " +
          s"'${input.getString(0)}' is a ${meta.provider} table")
      val declared: Option[StructType] =
        if (GraftCatalog.isMapped(meta.schema)) {
          GraftCatalog.requireFieldIdReads(meta.schema, input.getString(0))
          Some(meta.schema)
        } else None
      val (rewritten, purged) =
        ManifestTable.purgeDeletes(SparkSession.active, dir, declared,
          GraftCatalog.bloomWriteOptions(meta.bloomCols), meta.ndvCols)
      result(
        StructType(Seq(
          StructField("files_rewritten", LongType, nullable = false),
          StructField("positions_purged", LongType, nullable = false))),
        rewritten, purged)
    }
  }

  /** `CALL g.system.tag('db.t', 'v1-release' [, version])` — name a
    * committed snapshot (default: the current one). Tagged history is
    * vacuum-RETAINED and readable forever via
    * `VERSION AS OF 'v1-release'`; `t.refs` lists tags. */
  private final class TagProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "tag"
    override def description(): String =
      "name a committed snapshot (vacuum-retained; VERSION AS OF '<name>' reads it)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("version", LongType).defaultValue("-1").build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val (dir, _) = manifestTarget(catalog, input.getString(0), "tag")
      val v = input.getLong(2) match {
        case -1L => ManifestTable.currentVersion(dir).getOrElse(
          throw new IllegalStateException(s"no committed version to tag under $dir"))
        case req => req
      }
      ManifestTable.tag(dir, input.getString(1), v)
      result(
        StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("version", LongType, nullable = false))),
        UTF8String.fromString(input.getString(1)), v)
    }
  }

  /** `CALL g.system.branch('db.t', 'ingest')` — create a writable branch
    * at the current version: the write-audit-publish staging ref. Point
    * writers at it with session conf `graft.wap.branch=ingest` (reads in
    * that session audit the same staged state), or read it explicitly via
    * `VERSION AS OF 'ingest'`; `CALL fast_forward` publishes. Branch data
    * pools and the fork version are vacuum-protected until drop_branch. */
  private final class BranchProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "branch"
    override def description(): String =
      "create a write-audit-publish branch at the current version"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val (dir, _) = manifestTarget(catalog, input.getString(0), "branch")
      requireNotClonePin("branch", input.getString(1))
      val forkV = ManifestTable.createBranch(dir, input.getString(1))
      result(
        StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("forked_from_version", LongType, nullable = false))),
        UTF8String.fromString(input.getString(1)), forkV)
    }
  }

  /** `CALL g.system.fast_forward('db.t', 'ingest')` — PUBLISH: one atomic
    * main commit of the branch's audited delta (adds + removes + vector
    * changes vs its fork base). Rebases over concurrent main appends;
    * aborts if a concurrent main commit touched fork-base files. */
  private final class FastForwardProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "fast_forward"
    override def description(): String =
      "publish a branch: atomically fast-forward main to the branch's audited state"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val (dir, _) = manifestTarget(catalog, input.getString(0), "fast_forward")
      requireNotClonePin("fast_forward", input.getString(1))
      val v = ManifestTable.fastForward(dir, input.getString(1))
      result(
        StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("published_version", LongType, nullable = false))),
        UTF8String.fromString(input.getString(1)), v)
    }
  }

  private final class DropBranchProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "drop_branch"
    override def description(): String =
      "delete a branch ref (its staged, unpublished pools become vacuum fodder)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val (dir, _) = manifestTarget(catalog, input.getString(0), "drop_branch")
      // a LIVE clone's pin is load-bearing (DROP the clone table instead);
      // an ORPHANED pin (its table crashed mid-create or is gone) has no
      // other release path, so drop_branch is its escape hatch
      if (input.getString(1).startsWith(ManifestTable.CloneBranchPrefix))
        require(!catalog.isLiveClonePin(input.getString(1)),
          s"branch '${input.getString(1)}' is a live zero-copy clone pin, " +
            "managed by CALL clone / DROP TABLE — drop the clone table instead")
      val existed = ManifestTable.dropBranch(dir, input.getString(1))
      result(
        StructType(Seq(StructField("dropped", org.apache.spark.sql.types.BooleanType,
          nullable = false))),
        existed)
    }
  }

  /** `CALL g.system.collect_stats('db.t' [, mode => 'missing'|'all']
    * [, columns => 'c1,c2'])` — backfill per-file NDV sketches /
    * histograms / bounds for LIVE files that predate the
    * `graft.ndv.columns` declaration (register_files adoptions,
    * pre-declaration writes) as a STATS-ONLY commit: zero data bytes
    * rewritten, optimizer serving resumes at the next plan. `columns`
    * is the one-call `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`
    * workflow: the named columns are MERGED into the declaration (same
    * validation as the ALTER) and backfilled in the same call. The SQL
    * spelling itself cannot route here: Spark's ResolveSessionCatalog
    * hard-refuses `ANALYZE TABLE` for v2 tables before any rule an
    * existing session can add (NOT_SUPPORTED_COMMAND_FOR_V2_TABLE — the
    * same wiring gap that cut ViewCatalog), so the procedure IS the
    * front door. 'missing' (default) restats only files lacking some
    * declared sketch — idempotent; 'all' recomputes every live file's
    * stats. */
  private final class CollectStatsProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "collect_stats"
    override def description(): String =
      "backfill per-file NDV/histogram/bounds stats for live files as a " +
        "stats-only commit (no data rewritten); columns => declares and " +
        "backfills in one call (the ANALYZE ... FOR COLUMNS workflow)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("mode", StringType).defaultValue("'missing'").build(),
      ProcedureParameter.in("columns", StringType).defaultValue("''").build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val parts = input.getString(0).split("\\.")
      require(parts.length <= 2 && parts.forall(_.nonEmpty),
        s"procedure wants a table name like 'db.t' or 't', got '${input.getString(0)}'")
      val ident = Identifier.of(parts.dropRight(1), parts.last)
      val (meta, dir) = catalog.procedureMeta(ident)
      if (meta.provider == "keyedlog")
        return keyedLogBounds(meta, dir, input.getString(1), input.getString(2))
      require(meta.provider == "manifest",
        s"collect_stats applies to manifest and keyedlog tables only; " +
          s"'${input.getString(0)}' is a ${meta.provider} table")
      // validate EVERY argument before the columns block below mutates
      // the table's declaration — a call rejected for a bad mode must
      // not leave an alterTable side effect behind
      val mode = input.getString(1)
      require(mode == "missing" || mode == "all",
        s"collect_stats mode must be 'missing' or 'all', got '$mode'")
      val requested = input.getString(2).split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq
      val ndvCols =
        if (requested.isEmpty) meta.ndvCols
        else {
          // validate the requested columns NOW (the ONE shared check SET
          // TBLPROPERTIES runs) but DEFER the declaration mutation until
          // the backfill succeeds below — a failed procedure must not
          // leave an alterTable side effect behind
          requested.foreach(
            GraftCatalog.validateNdvColumn(ident.name(), meta.schema, _))
          (meta.ndvCols ++ requested).distinct
        }
      require(ndvCols.nonEmpty,
        s"'${input.getString(0)}' declares no stat columns — pass " +
          s"columns => 'c1,c2' (or ALTER TABLE ... SET TBLPROPERTIES " +
          s"('${GraftCatalog.NdvColsProp}'='c1,c2') first)")
      // backfill against the merged set FIRST; persist the declaration
      // only after it lands (future writes then sketch the merged set)
      val (version, restatted) = ManifestTable.restatFiles(
        dir, ndvCols, onlyMissing = mode == "missing")
      if (ndvCols != meta.ndvCols)
        catalog.alterTable(ident,
          org.apache.spark.sql.connector.catalog.TableChange.setProperty(
            GraftCatalog.NdvColsProp, ndvCols.mkString(",")))
      result(
        StructType(Seq(
          StructField("table_version", LongType, nullable = false),
          StructField("files_restatted", LongType, nullable = false))),
        version, restatted.toLong)
    }

    /** The KEYEDLOG arm: backfill journal-carried [min,max] bounds
      * ([[graft.sources.KeyedLogFileStats]] semantics) for live files
      * that lack them — tables written by pre-stats versions of this
      * engine become stats-skippable without rewriting a byte. One
      * distributed text scan over EXACTLY the missing files (fields are
      * positional, so the raw lines parse without the format), one
      * stats-only journal entry. `mode => 'all'` recomputes every live
      * file; NDV `columns` are a manifest concept and refused here. On a
      * PRE-JOURNAL dir the backfill commit doubles as the journal
      * genesis: the listed files are journaled WITH their bounds (a
      * stats-only entry could not reference unjournaled names — anchors
      * would drop them). */
    private def keyedLogBounds(meta: GraftCatalog.TableMeta, dir: String,
                               statMode: String, columns: String): JIterator[Scan] = {
      import graft.sources.{KeyedLogSource, KeyedLogVersionLog}
      import org.apache.spark.sql.functions._
      require(statMode == "missing" || statMode == "all",
        s"collect_stats mode must be 'missing' or 'all', got '$statMode'")
      require(columns.isEmpty,
        "collect_stats columns => applies to manifest NDV stats; keyedlog " +
          "bounds always cover every long-typed column")
      val conf = LakeStorage.taskConf()
      val vs = KeyedLogVersionLog.versions(dir, conf)
      val live: Seq[String] = KeyedLogVersionLog.liveSet(dir, conf).getOrElse(
        KeyedLogSource.listDataFiles(dir, conf)
          .map(f => new org.apache.hadoop.fs.Path(f).getName).toSeq.sorted)
      val have: Set[String] =
        if (statMode == "all" || vs.isEmpty) Set.empty
        else KeyedLogVersionLog.statsJournaled(dir, conf, vs).keySet
      val missing = live.filterNot(have)
      def done(v: Long, n: Long) = result(
        StructType(Seq(
          StructField("table_version", LongType, nullable = false),
          StructField("files_restatted", LongType, nullable = false))),
        v, n)
      if (missing.isEmpty) return done(vs.lastOption.getOrElse(-1L), 0L)
      // raw line positions of the long-typed columns, by stats key
      val extras = meta.schema.fields.drop(KeyedLogSource.schema.length)
      val tracked: Seq[(String, Int)] = Seq("seq" -> 1, "metric" -> 2) ++
        extras.collect {
          case f if f.dataType == org.apache.spark.sql.types.LongType =>
            val j = KeyedLogSource.extraIndexOf(f)
            s"e$j" -> (3 + j)
        }
      val spark = SparkSession.active
      val df = spark.read.textFile(missing.map(n => s"$dir/$n"): _*)
        .select(input_file_name().as("f"),
          split(col("value"), "\t").as("p"))
      val aggs = tracked.flatMap { case (k, pos) =>
        val raw = try_element_at(col("p"), lit(pos + 1))
        val v = when(raw.isNull || raw === "" || raw === "\\N", lit(null))
          .otherwise(raw.cast("long"))
        Seq(min(v).as(s"lo_$k"), max(v).as(s"hi_$k"))
      }
      val rows = df.groupBy("f").agg(aggs.head, aggs.tail: _*).collect()
      val byName = rows.map { r =>
        val name = new org.apache.hadoop.fs.Path(r.getString(0)).getName
        name -> tracked.flatMap { case (k, _) =>
          if (r.isNullAt(r.fieldIndex(s"lo_$k"))) None
          else Some(k -> ((r.getAs[Long](s"lo_$k"), r.getAs[Long](s"hi_$k"))))
        }.toMap
      }.toMap
      // files that vanished between the listing and the scan (empty
      // groupBy output) still get their all-null marker entry
      val stats = missing.map(n => n -> byName.getOrElse(n,
        Map.empty[String, (Long, Long)])).toMap
      val v =
        if (vs.isEmpty)
          // journal genesis: names and bounds land together
          KeyedLogVersionLog.commit(dir, conf, missing, stats = stats)
            .getOrElse(-1L)
        else KeyedLogVersionLog.commitStats(dir, conf, stats).getOrElse(-1L)
      done(v, missing.length.toLong)
    }
  }

  /** `CALL g.system.clone('db.src', 'db.dst' [, version => v])` —
    * ZERO-COPY table clone: `db.dst` becomes an independent table over
    * `db.src`'s data plane at the requested version (default: current),
    * copying no data whatever the table size (Delta's shallow CLONE as a
    * procedure). The clone's private lineage — its own appends, DML,
    * versions, time travel — lives in a pinned branch log on the source
    * dir; the source's vacuum retains every pool the clone references,
    * `expire_refs` exempts the pin, and DROP TABLE on the clone releases
    * it. The experimentation primitive: fork a 100 TB training corpus,
    * mutate the fork, throw it away — metadata cost only. */
  private final class CloneProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "clone"
    override def description(): String =
      "zero-copy clone: materialize an independent table over the source's " +
        "data plane at a version (no data copied; DROP TABLE releases the pin)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("target", StringType).build(),
      ProcedureParameter.in("version", LongType).defaultValue("-1").build(),
      // deep => true: PHYSICAL migration — copy the snapshot's pools (and
      // vector files) to the target's own root, rebuild a one-version
      // log, verify every file by content hash; the target then owes the
      // source nothing (DR / storage-tier move). Default stays zero-copy.
      ProcedureParameter.in("deep", BooleanType).defaultValue("false").build())
    override def call(input: InternalRow): JIterator[Scan] = {
      def ident(arg: String): Identifier = {
        val parts = arg.split("\\.")
        require(parts.length <= 2 && parts.forall(_.nonEmpty),
          s"clone wants table names like 'db.t' or 't', got '$arg'")
        Identifier.of(parts.dropRight(1), parts.last)
      }
      val version = input.getLong(2) match {
        case -1L => None
        case v   => require(v >= 0, s"clone: version must be >= 0, got $v"); Some(v)
      }
      if (input.getBoolean(3)) {
        val (forkV, files, bytes) = catalog.createDeepCloneTable(
          ident(input.getString(0)), ident(input.getString(1)), version)
        result(
          StructType(Seq(
            StructField("cloned_version", LongType, nullable = false),
            StructField("pin", StringType, nullable = false))),
          forkV, UTF8String.fromString(
            s"deep(files=$files, bytes=$bytes, verified=md5)"))
      } else {
        val (forkV, pin) = catalog.createCloneTable(
          ident(input.getString(0)), ident(input.getString(1)), version)
        result(
          StructType(Seq(
            StructField("cloned_version", LongType, nullable = false),
            StructField("pin", StringType, nullable = false))),
          forkV, UTF8String.fromString(pin))
      }
    }
  }

  /** `CALL g.system.set_partitioning('db.t', 'hours(ts), lang')` —
    * partition-spec EVOLUTION: metadata-only replacement of the declared
    * transforms. Old files keep their layout (and keep pruning through
    * source-column stats); new writes cluster by the new spec; an empty
    * spec clears the transforms. See [[GraftCatalog.setPartitioning]]. */
  private final class SetPartitioningProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "set_partitioning"
    override def description(): String =
      "evolve the partition transforms of a live table (metadata-only; old files keep their layout)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("spec", StringType).build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val table = input.getString(0)
      val parts = table.split("\\.")
      require(parts.length <= 2 && parts.forall(_.nonEmpty),
        s"procedure wants a table name like 'db.t' or 't', got '$table'")
      val keys = catalog.setPartitioning(
        Identifier.of(parts.dropRight(1), parts.last), input.getString(1))
      result(
        StructType(Seq(StructField("partitioning", StringType, nullable = false))),
        UTF8String.fromString(keys.map(_.render).mkString(", ")))
    }
  }

  /** `CALL g.system.expire_refs('db.t', max_age_ms [, kind])` — ref
    * retention: drop branches (default) and/or tags whose staleness clock
    * (`t.refs.age_ms` — tag creation / branch last commit) exceeds
    * `max_age_ms`. Forgotten refs otherwise pin pools and fork versions
    * against vacuum forever. `kind`: 'branch' | 'tag' | 'all'. */
  private final class ExpireRefsProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "expire_refs"
    override def description(): String =
      "drop refs older than max_age_ms (branch last-commit / tag creation clock)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("max_age_ms", LongType).build(),
      ProcedureParameter.in("kind", StringType).defaultValue("'branch'").build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val (dir, _) = manifestTarget(catalog, input.getString(0), "expire_refs")
      val kinds = input.getString(2) match {
        case "branch" => Set("branch")
        case "tag"    => Set("tag")
        case "all"    => Set("branch", "tag")
        case other => throw new IllegalArgumentException(
          s"expire_refs kind must be branch|tag|all, got '$other'")
      }
      val dropped = ManifestTable.expireRefs(dir, input.getLong(1), kinds)
      result(
        StructType(Seq(
          StructField("expired_count", LongType, nullable = false),
          StructField("expired", StringType, nullable = false))),
        dropped.length.toLong,
        UTF8String.fromString(dropped.map { case (n, t) => s"$t:$n" }.mkString(",")))
    }
  }

  private final class DropTagProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "drop_tag"
    override def description(): String = "remove a snapshot tag (history becomes vacuum fodder again)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val (dir, _) = manifestTarget(catalog, input.getString(0), "drop_tag")
      val existed = ManifestTable.dropTag(dir, input.getString(1))
      result(
        StructType(Seq(StructField("dropped", org.apache.spark.sql.types.BooleanType,
          nullable = false))),
        existed)
    }
  }

  private final class RollbackProcedure(catalog: GraftCatalog) extends ManifestProcedure {
    override def name(): String = "rollback"
    override def description(): String =
      "commit a new version restoring an older version's contents " +
        "(manifest: re-commit its manifest; keyedlog: resurrect replaced " +
        "files from their .rm- tombstones — bounded by tombstone retention)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", LongType).build())
    override def call(input: InternalRow): JIterator[Scan] = {
      val restored = input.getLong(1)
      val committed = target(catalog, input.getString(0)) match {
        case ("manifest", dir, _) => ManifestTable.rollback(dir, restored)
        case ("keyedlog", dir, _) =>
          graft.sources.KeyedLogSource.restoreVersion(dir, LakeStorage.taskConf(), restored)
        case (other, _, _) => throw new IllegalArgumentException(
          s"rollback applies to manifest and keyedlog tables; " +
            s"'${input.getString(0)}' is a $other table")
      }
      result(
        StructType(Seq(
          StructField("restored_version", LongType, nullable = false),
          StructField("new_version", LongType, nullable = false))),
        restored, committed)
    }
  }
}
