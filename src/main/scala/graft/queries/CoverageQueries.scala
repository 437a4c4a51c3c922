package graft.queries

import java.nio.file.Files

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Coverage closure for the remaining SURVEY.md §2 Part B rows: CSV/JSON
  * scans, partitioned batch sink with pruned read-back, right joins,
  * secondary aggregate family (bool_and/bool_or, first/last, collect_set,
  * ntile), approximate aggregates, map functions, null-safe equality.
  */
object CoverageQueries extends QueryModule {

  override val queries: Map[String, Q] = Map(
    // --- CSV sink + schema'd CSV scan round-trip ---
    "qc08_csv_roundtrip" -> { (s, d) =>
      val out = graft.core.TempDirs.create("graft_csv_")
      Tables.nation(s, d).orderBy("n_nationkey")
        .write.mode("overwrite").option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.schema(schema).option("header", "true").csv(out)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"), min("n_name").as("first_name"))
        .orderBy("n_regionkey")
    },

    // --- custom DataSource V2 scan (graft.sources.KeyedLogSource): a
    //     format Spark does not know, read through the connector API with
    //     per-file splits, column pruning and key-filter pushdown (plan
    //     evidence in DataSourceSpec); fixture derived from documents so
    //     DuckDB oracles the same aggregate from the original table ---
    "qc16_custom_source" -> { (s, d) =>
      val out = graft.core.TempDirs.create("graft_klog_")
      Tables.documents(s, d)
        .select(concat_ws("\t", col("lang"), col("doc_id"), col("n_chars")).as("value"))
        .repartition(4)
        .write.mode("overwrite").text(out)
      s.read.format("graft.sources.KeyedLogSource").load(out)
        .filter(col("key").isin("en", "de"))
        .groupBy("key")
        .agg(count(lit(1)).as("n_docs"), sum("metric").as("total_chars"))
        .orderBy("key")
    },

    // --- custom DSv2 SINK + source round-trip: write through the staged
    //     task-commit protocol (temp rename visible on commit), read back
    //     through the connector, aggregate — oracled from the original
    //     table, so any loss/duplication in the commit path fails the hash ---
    "qc17_custom_sink_roundtrip" -> { (s, d) =>
      val out = graft.core.TempDirs.create("graft_klogw_")
      Tables.documents(s, d)
        .select(col("lang").as("key"), col("doc_id").cast("long").as("seq"),
          col("n_chars").cast("long").as("metric"))
        .repartition(4)
        .write.format("graft.sources.KeyedLogSource").mode("append").save(out)
      s.read.format("graft.sources.KeyedLogSource").load(out)
        .groupBy("key")
        .agg(count(lit(1)).as("n_docs"), sum("metric").as("total_chars"),
          min("seq").as("first_doc"))
        .orderBy("key")
    },

    // --- JSON scan with explicit schema + corrupt-record column ---
    "qc09_json_scan" -> { (s, d) =>
      val out = graft.core.TempDirs.create("graft_json_")
      import s.implicits._
      Seq(
        """{"id":"a","n":1}""",
        """{"id":"b","n":2}""",
        """not json at all""",
        """{"id":"c","n":null}""").toDF("value")
        .coalesce(1).write.mode("overwrite").text(out)
      val schema = StructType(Seq(
        StructField("id", StringType), StructField("n", LongType),
        StructField("_corrupt", StringType)))
      s.read.schema(schema)
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
        .select(col("id"), col("n"), col("_corrupt").isNotNull.as("is_corrupt"))
        .orderBy(col("id").asc_nulls_last)
    },

    // --- ORC sink + scan round-trip (the second columnar format Spark
    //     ships natively; vectorized reader, same pushdown surface as
    //     parquet — no spark-avro jar in this deployment, so ORC is the
    //     cross-format coverage row) ---
    "qc11_orc_roundtrip" -> { (s, d) =>
      val out = graft.core.TempDirs.create("graft_orc_")
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter(col("o_totalprice") > 100000)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 2).as("avg_price"))
        .orderBy("o_orderpriority")
    },

    // --- map higher-order functions: map_filter / transform_values ---
    "q50_map_hofs" -> { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_partkey") <= 100)
        .withColumn("m", map(
          lit("size"), col("p_size").cast("double"),
          lit("retail"), col("p_retailprice")))
        .withColumn("big", map_filter(col("m"), (_, v) => v > 10))
        .withColumn("doubled", transform_values(col("m"), (_, v) => v * 2))
        .select(col("p_partkey"),
          size(col("big")).as("n_big"),
          round(element_at(col("doubled"), "retail"), 2).as("retail_x2"),
          array_join(array_sort(map_keys(col("big"))), ",").as("big_keys"))
        .orderBy("p_partkey")
    },

    // --- small-file compaction (the OPTIMIZE/rewrite-files maintenance
    //     action): 20-file partition -> single target-sized file, rows
    //     preserved, swap via paired renames ---
    "qc12_compaction" -> { (s, d) =>
      import s.implicits._
      val dir = graft.core.TempDirs.create("graft_comp_")
      val docs = Tables.documents(s, d)
      val rowsBefore = docs.count()
      docs.repartition(20).write.mode("overwrite").parquet(dir)
      val (nBefore, nAfter) = graft.core.LakeCompaction.compactParquet(
        s, dir, targetFileBytes = 512L * 1024 * 1024)
      val rowsAfter = s.read.parquet(dir).count()
      Seq((nBefore >= 20L, nAfter < nBefore, rowsAfter == rowsBefore))
        .toDF("many_small_before", "fewer_after", "rows_preserved")
    },

    // --- manifest-committed table versions (the minimal transaction-log
    //     pattern over plain parquet, core/ManifestTable): two writes, a
    //     compacting rewrite as a THIRD committed version (no reader-visible
    //     swap window), vacuum with a grace version. Values are structural
    //     (version numbers, file counts, vacuum count) plus the live row
    //     count read back through the manifest ---
    "qc14_manifest_table" -> { (s, d) =>
      import s.implicits._
      val dir = graft.core.TempDirs.create("graft_manifest_")
      val docs = Tables.documents(s, d)
      val v1 = graft.core.ManifestTable.write(docs.filter(col("doc_id") < 100).repartition(4), dir)
      val v2 = graft.core.ManifestTable.write(docs.repartition(12), dir)
      val (filesBefore, filesAfter) = graft.core.ManifestTable.compact(s, dir)
      // time travel: the first committed version stays readable pre-vacuum
      val rowsV1 = graft.core.ManifestTable.read(s, dir, asOfVersion = Some(v1)).count()
      val removed = graft.core.ManifestTable.vacuum(dir, keep = 2)
      val current = graft.core.ManifestTable.currentVersion(dir).getOrElse(-1L)
      val rows = graft.core.ManifestTable.read(s, dir).count()
      Seq((v1, v2, current, filesBefore, filesAfter <= 2L, removed.toLong, rows, rowsV1))
        .toDF("v1", "v2", "current_version", "files_before", "compacted_fewer",
          "vacuum_removed", "rows_current", "rows_v1_asof")
    },

    // --- SQL catalog front door (catalog/GraftCatalog): the manifest and
    //     keyedlog formats as NAMED tables — CREATE NAMESPACE/TABLE USING,
    //     INSERT INTO (append = new manifest version), VERSION AS OF time
    //     travel, and filter-pushed keyedlog reads, all through spark.sql.
    //     The catalog instance caches its root on first use, so register
    //     once per session and DROP/recreate the tables per run ---
    "qc18_sql_catalog" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.docs")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.logs")
      Tables.documents(s, d).createOrReplaceTempView("qc18_documents")
      s.sql("CREATE TABLE graft_cat.db.docs (doc_id BIGINT, lang STRING) USING manifest")
      s.sql("INSERT INTO graft_cat.db.docs " +
        "SELECT doc_id, lang FROM qc18_documents WHERE doc_id < 100")   // v1
      s.sql("INSERT INTO graft_cat.db.docs " +
        "SELECT doc_id, lang FROM qc18_documents WHERE doc_id >= 100")  // v2
      s.sql("CREATE TABLE graft_cat.db.logs " +
        "(key STRING, seq BIGINT, metric BIGINT) USING keyedlog")
      s.sql("INSERT INTO graft_cat.db.logs " +
        "SELECT lang, doc_id, n_chars FROM qc18_documents")
      s.sql("""
        SELECT
          (SELECT count(*) FROM graft_cat.db.docs VERSION AS OF 1) AS rows_v1,
          (SELECT count(*) FROM graft_cat.db.docs) AS rows_current,
          (SELECT count(DISTINCT lang) FROM graft_cat.db.docs VERSION AS OF 2) AS langs_v2,
          (SELECT sum(metric) FROM graft_cat.db.logs WHERE key = 'en') AS en_metric_sum,
          (SELECT count(*) FROM graft_cat.db.logs) AS klog_rows""")
    },

    // --- clustered connector write: the sink DECLARES required
    //     distribution+ordering (RequiresDistributionAndOrdering), Spark
    //     plans the exchange/sort, files hold disjoint sorted key runs;
    //     read back through the connector and aggregate ---
    "qc19_clustered_write" -> { (s, d) =>
      val dir = graft.core.TempDirs.create("graft_klog_cl_")
      Tables.documents(s, d)
        .select(col("lang").as("key"), col("doc_id").as("seq"),
          col("n_chars").as("metric"))
        .write.format("graft.sources.KeyedLogSource")
        .option("clusterByKey", "true").mode("append").save(dir)
      s.read.format("graft.sources.KeyedLogSource").load(dir)
        .groupBy("key")
        .agg(sum("metric").as("total_chars"), count(lit(1)).as("n_docs"))
        .orderBy("key")
    },

    // --- runtime join-key filtering through the connector: a selective
    //     dim side hands its observed keys to the scan at execution time
    //     (SupportsRuntimeFiltering; plan shape pinned in DataSourceSpec) ---
    "qc20_runtime_filter_join" -> { (s, d) =>
      val dir = graft.core.TempDirs.create("graft_klog_rf_")
      val docs = Tables.documents(s, d)
      docs.select(col("lang").as("key"), col("doc_id").as("seq"),
          col("n_chars").as("metric"))
        .write.format("graft.sources.KeyedLogSource").mode("append").save(dir)
      val dimDir = graft.core.TempDirs.create("graft_klog_rf_dim_")
      docs.select(col("lang").as("key")).distinct()
        .withColumn("w", length(col("key")).cast("long"))
        .write.mode("overwrite").parquet(dimDir)
      val dim = s.read.parquet(dimDir).filter(col("key").isin("en", "de"))
      s.read.format("graft.sources.KeyedLogSource").load(dir)
        .join(dim, Seq("key"))
        .groupBy("key")
        .agg(sum("metric").as("total_chars"), max("w").as("w"))
        .orderBy("key")
    },

    // --- SQL row-level DML (catalog/ManifestRowLevel): DELETE via the
    //     filter-translated fast path AND the group-based ReplaceData
    //     plan, UPDATE with runtime group filtering, and a full MERGE
    //     INTO (matched update + not-matched insert) — all copy-on-write
    //     manifest commits that rewrite only files holding affected rows ---
    "qc21_sql_dml" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.dml")
      Tables.documents(s, d).createOrReplaceTempView("qc21_documents")
      s.sql("CREATE TABLE graft_cat.db.dml " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest")
      // two pools so the DML has multiple file groups to prune between
      s.sql("INSERT INTO graft_cat.db.dml SELECT doc_id, lang, n_chars " +
        "FROM qc21_documents WHERE doc_id % 2 = 0")
      s.sql("INSERT INTO graft_cat.db.dml SELECT doc_id, lang, n_chars " +
        "FROM qc21_documents WHERE doc_id % 2 = 1")
      s.sql("DELETE FROM graft_cat.db.dml WHERE lang = 'zh'") // fast path
      s.sql("DELETE FROM graft_cat.db.dml WHERE doc_id % 10 = 3") // group-based
      s.sql("UPDATE graft_cat.db.dml SET n_chars = n_chars + 1000 WHERE lang = 'en'")
      s.sql("""MERGE INTO graft_cat.db.dml t
        USING (SELECT doc_id, n_chars FROM qc21_documents WHERE doc_id % 100 = 0) s
        ON t.doc_id = s.doc_id
        WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + s.n_chars
        WHEN NOT MATCHED THEN
          INSERT (doc_id, lang, n_chars) VALUES (s.doc_id + 1000000, 'xx', s.n_chars)""")
      s.sql("SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars " +
        "FROM graft_cat.db.dml GROUP BY lang ORDER BY lang")
    },

    // --- bucketed manifest tables (catalog/ManifestRowLevel
    //     BucketedManifestScan + GraftBucketFunction): PARTITIONED BY
    //     (bucket(n, col)) hash-clusters writes; with v2 bucketing on,
    //     the co-bucketed join + key aggregation below plan with ZERO
    //     exchanges (plan shapes pinned in BucketedTableSpec; the result
    //     goes through the oracle). Child session: opt-in confs ---
    "qc24_bucketed_tables" -> { (s0, d) =>
      val s = isolatedSession(s0)
      graft.catalog.GraftCatalog.register(s, "graft_bk",
        graft.core.TempDirs.create("graft_bk_root_"))
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_bk.db")
      Tables.documents(s, d).createOrReplaceTempView("qc24_documents")
      s.sql("CREATE TABLE graft_bk.db.facts (lang STRING, doc_id BIGINT, n_chars BIGINT) " +
        "USING manifest PARTITIONED BY (bucket(8, lang))")
      s.sql("CREATE TABLE graft_bk.db.sample (lang STRING, n_chars BIGINT) " +
        "USING manifest PARTITIONED BY (bucket(8, lang))")
      s.sql("INSERT INTO graft_bk.db.facts " +
        "SELECT lang, doc_id, n_chars FROM qc24_documents")
      s.sql("INSERT INTO graft_bk.db.sample " +
        "SELECT lang, n_chars FROM qc24_documents WHERE doc_id % 3 = 0")
      // RENAME the BUCKET column, then compact: the descriptor follows the
      // rename (bucketing = bucket(8, language)), the compaction rewrite
      // reads the snapshot with the declared id-mapped schema (data files
      // physically carry the pre-rename name), and the bucketed join below
      // runs through the renamed column — the rename+SPJ round-trip under
      // the oracle gate, not just in spec
      s.sql("ALTER TABLE graft_bk.db.facts RENAME COLUMN lang TO language")
      s.sql("CALL graft_bk.system.compact('db.facts')")
      s.sql("""SELECT f.language AS lang, count(*) AS n_docs,
          sum(f.n_chars) AS total_chars,
          max(sm.sample_chars) AS sample_chars
        FROM graft_bk.db.facts f
        JOIN (SELECT lang, sum(n_chars) AS sample_chars
              FROM graft_bk.db.sample GROUP BY lang) sm
          ON f.language = sm.lang
        GROUP BY f.language ORDER BY lang""")
    },

    // --- SQL maintenance procedures (catalog/GraftProcedures): CALL
    //     graft.system.compact / rollback / vacuum — Spark 4's CALL
    //     statement against our ProcedureCatalog. Repartition hints pin
    //     per-insert file counts so the procedure outputs are
    //     deterministic for the oracle; rollback restores v1 and vacuum
    //     drops exactly the one pool no kept version references ---
    "qc25_sql_procedures" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.maint")
      Tables.documents(s, d).createOrReplaceTempView("qc25_documents")
      s.sql("CREATE TABLE graft_cat.db.maint " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest")
      s.sql("INSERT INTO graft_cat.db.maint " +
        "SELECT /*+ REPARTITION(4) */ doc_id, lang, n_chars " +
        "FROM qc25_documents WHERE doc_id < 150")                        // v1: 4 files
      s.sql("INSERT INTO graft_cat.db.maint " +
        "SELECT /*+ REPARTITION(6) */ doc_id, lang, n_chars " +
        "FROM qc25_documents WHERE doc_id >= 150")                       // v2: +6 files
      val compacted = s.sql("CALL graft_cat.system.compact('db.maint')").head() // v3
      val rolled = s.sql("CALL graft_cat.system.rollback('db.maint', 1)").head() // v4
      val removed = s.sql("CALL graft_cat.system.vacuum('db.maint', keep => 2)")
        .head().getInt(0) // keeps v3 (compacted pool) + v4 (v1's pool); drops v2's
      val state = s.sql("SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS c " +
        "FROM graft_cat.db.maint").head()
      Seq((compacted.getLong(0), compacted.getLong(1),
          rolled.getLong(0), rolled.getLong(1), removed,
          state.getLong(0), state.getLong(1)))
        .toDF("files_before", "files_after", "restored_version", "new_version",
          "pools_removed", "rows_after_rollback", "chars_after_rollback")
    },

    // --- incremental (CDC-style) reads: start_version serves ONLY files
    //     added after the cursor (manifest diff = change feed) — what an
    //     incremental downstream pipeline consumes instead of rescanning
    //     the table. Oracle = the second batch's aggregate ---
    "qc26_incremental_read" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.cdc")
      Tables.documents(s, d).createOrReplaceTempView("qc26_documents")
      s.sql("CREATE TABLE graft_cat.db.cdc " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest")
      s.sql("INSERT INTO graft_cat.db.cdc SELECT doc_id, lang, n_chars " +
        "FROM qc26_documents WHERE doc_id < 150")                       // v1
      s.sql("INSERT INTO graft_cat.db.cdc SELECT doc_id, lang, n_chars " +
        "FROM qc26_documents WHERE doc_id >= 150")                      // v2
      s.read.option("start_version", "1").table("graft_cat.db.cdc")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_new"), sum("n_chars").as("new_chars"))
        .orderBy("lang")
    },

    // --- full CDC (catalog/ManifestChanges): t.changes with _change_type
    //     — a copy-on-write UPDATE that touches every file emits the
    //     whole pre-image as deletes and the post-image as inserts (the
    //     delete+insert pairing a downstream MERGE consumer applies).
    //     The update hits all rows so the file-granularity feed is
    //     deterministic for the oracle ---
    "qc27_table_changes" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.cdc2")
      Tables.documents(s, d).createOrReplaceTempView("qc27_documents")
      s.sql("CREATE TABLE graft_cat.db.cdc2 " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest")
      s.sql("INSERT INTO graft_cat.db.cdc2 SELECT doc_id, lang, n_chars " +
        "FROM qc27_documents WHERE doc_id < 150")                       // v1
      s.sql("INSERT INTO graft_cat.db.cdc2 SELECT doc_id, lang, n_chars " +
        "FROM qc27_documents WHERE doc_id >= 150")                      // v2
      s.sql("UPDATE graft_cat.db.cdc2 SET n_chars = n_chars + 1000 " +
        "WHERE n_chars >= 0")                                           // v3: every file
      s.read.option("start_version", "2").table("graft_cat.db.cdc2.changes")
        .groupBy("_change_type")
        .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("total_chars"))
        .orderBy("_change_type")
    },

    // --- deterministic SHARD EXPORT (the "ship the training corpus"
    //     step): assign every doc a shard via the DISTRIBUTED prefix-sum
    //     packer (unit weights -> exactly `budget` docs per shard in
    //     doc_id order, no global window bottleneck), write real JSONL
    //     shards partitioned by shard id, and aggregate the READ-BACK —
    //     the oracle equality proves the export round-trips exactly and
    //     every shard respects the cap ---
    "qc44_shard_export" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("_w", lit(1L))
      val sharded = graft.operators.Packing
        .packBudget(docs, "doc_id", "_w", budget = 100L)
        .select(col("pack_id").as("shard"), col("doc_id"), col("lang"),
          col("n_chars"))
      val outDir = graft.core.TempDirs.create("graft_qc44_")
      sharded.write.mode("overwrite").partitionBy("shard").json(outDir)
      val back = s.read.json(outDir)
      back.groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .withColumn("within_cap", col("n_docs") <= 100L)
        .orderBy("shard")
    },

    // --- TABLE CHECK CONSTRAINTS (Delta's ADD CONSTRAINT surface through
    //     TBLPROPERTIES): declared invariants enforced on EVERY write
    //     path before any version commits — a violating INSERT/UPDATE
    //     fails atomically (table state untouched), NULL passes (SQL
    //     CHECK semantics), ALTER-time adds validate existing rows,
    //     UNSET drops the invariant. Enforcement costs zero extra passes
    //     (lazy raise_error branches fused into the write projection /
    //     codegen'd predicates inside the DML task writers). The oracle
    //     replays the surviving mutations over `documents` ---
    "qc45_check_constraints" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.ck45")
      Tables.documents(s, d).createOrReplaceTempView("qc45_documents")
      val pfx = graft.catalog.Constraints.Prefix
      s.sql("CREATE TABLE graft_cat.db.ck45 " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest " +
        s"TBLPROPERTIES ('${pfx}chars_positive'='n_chars > 0')")
      s.sql("INSERT INTO graft_cat.db.ck45 " +
        "SELECT doc_id, lang, n_chars FROM qc45_documents")
      val before = s.table("graft_cat.db.ck45").count()
      // violating INSERT fails FOR THE CONSTRAINT (the cause chain names
      // it — any incidental failure would fail the gate); nothing lands
      val insertRejected = scala.util.Try(s.sql(
        "INSERT INTO graft_cat.db.ck45 " +
          "SELECT doc_id + 1000000, lang, -n_chars FROM qc45_documents")) match {
        case scala.util.Failure(e) =>
          graft.catalog.Constraints.violationIn(e, "chars_positive")
        case _ => false
      }
      val countStable = s.table("graft_cat.db.ck45").count() == before
      // NULL passes — SQL CHECK semantics (declare IS NOT NULL to reject)
      s.sql("INSERT INTO graft_cat.db.ck45 VALUES (9999991, 'xx', NULL)")
      // ALTER-time add validates EXISTING rows: satisfied -> lands ...
      s.sql("ALTER TABLE graft_cat.db.ck45 SET TBLPROPERTIES " +
        s"('${pfx}lang_short'='length(lang) <= 2')")
      // ... violated by existing rows -> rejected with the specific error
      val addRejected = scala.util.Try(s.sql(
        "ALTER TABLE graft_cat.db.ck45 SET TBLPROPERTIES " +
          s"('${pfx}chars_big'='n_chars > 100')")) match {
        case scala.util.Failure(e) =>
          Option(e.getMessage).exists(_.contains("existing rows violate"))
        case _ => false
      }
      // row-level DML honors the invariants too (CoW rewrite re-validates)
      val updateRejected = scala.util.Try(s.sql(
        "UPDATE graft_cat.db.ck45 SET n_chars = -5 WHERE doc_id = 0")) match {
        case scala.util.Failure(e) =>
          graft.catalog.Constraints.violationIn(e, "chars_positive")
        case _ => false
      }
      s.sql("UPDATE graft_cat.db.ck45 SET n_chars = n_chars + 1000 " +
        "WHERE doc_id < 10")
      val surfaced = s.sql("SHOW TBLPROPERTIES graft_cat.db.ck45")
        .where(col("key") === s"${pfx}chars_positive").count() == 1
      // UNSET drops the invariant: the formerly-rejected shape now lands
      s.sql("ALTER TABLE graft_cat.db.ck45 UNSET TBLPROPERTIES " +
        s"('${pfx}chars_positive')")
      s.sql("INSERT INTO graft_cat.db.ck45 VALUES (9999992, 'yy', -1)")
      s.table("graft_cat.db.ck45")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
        .select(lit(insertRejected).as("insert_rejected"),
          lit(countStable).as("count_stable"),
          lit(addRejected).as("add_rejected"),
          lit(updateRejected).as("update_rejected"),
          lit(surfaced).as("surfaced"),
          col("lang"), col("n_docs"), col("total_chars"))
        .orderBy("lang")
    },

    // --- MERGE WITH SCHEMA EVOLUTION (Spark 4's analyzer diffs source vs
    //     target, routes new columns through catalog.alterTable as
    //     nullable AddColumns — armed by the AUTOMATIC_SCHEMA_EVOLUTION
    //     table capability — then plans the normal row-level write):
    //     the target gains the source's extra column mid-MERGE,
    //     matched/inserted rows carry it, pre-evolution rows read NULL,
    //     and a plain MERGE naming the unknown column stays rejected ---
    "qc46_merge_evolution" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.me46")
      Tables.documents(s, d).createOrReplaceTempView("qc46_documents")
      s.sql("CREATE TABLE graft_cat.db.me46 (doc_id BIGINT, lang STRING) " +
        "USING manifest")
      s.sql("INSERT INTO graft_cat.db.me46 SELECT doc_id, lang " +
        "FROM qc46_documents WHERE doc_id < 300")
      s.sql("CREATE OR REPLACE TEMP VIEW qc46_src AS " +
        "SELECT doc_id, lang, n_chars FROM qc46_documents WHERE doc_id >= 150")
      // strictness first: without the clause the unknown column refuses
      val strictRejected = scala.util.Try(s.sql(
        """MERGE INTO graft_cat.db.me46 t USING qc46_src s ON t.doc_id = s.doc_id
          |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
          |  VALUES (s.doc_id, s.lang, s.n_chars)""".stripMargin)).isFailure
      s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO graft_cat.db.me46 t
          |USING qc46_src s ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.table("graft_cat.db.me46")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(col("n_chars")).as("n_with_extra"),
          sum("n_chars").as("total_chars"))
        .select(lit(strictRejected).as("strict_rejected"), col("lang"),
          col("n_docs"), col("n_with_extra"), col("total_chars"))
        .orderBy("lang")
    },

    // --- ANALYZE-free stats BACKFILL: a table written BEFORE any stat
    //     declaration serves no NDV; ALTER declares the columns, then
    //     `CALL collect_stats` restats the pre-declaration files as a
    //     STATS-ONLY commit (zero data rewritten) and the optimizer
    //     starts serving distinct counts. Second call restats nothing
    //     (idempotent). The cost tracks the un-statted files' bytes —
    //     at 100 TB that is the difference between "declare and backfill
    //     the delta" and "re-ANALYZE the table" ---
    "qc47_stats_backfill" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.ndv47")
      Tables.documents(s, d).createOrReplaceTempView("qc47_documents")
      // two pre-declaration pools: no sketches anywhere
      s.sql("CREATE TABLE graft_cat.db.ndv47 " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest")
      s.sql("INSERT INTO graft_cat.db.ndv47 SELECT doc_id, lang, n_chars " +
        "FROM qc47_documents WHERE doc_id % 2 = 0")
      s.sql("INSERT INTO graft_cat.db.ndv47 SELECT doc_id, lang, n_chars " +
        "FROM qc47_documents WHERE doc_id % 2 = 1")
      s.sql("ALTER TABLE graft_cat.db.ndv47 SET TBLPROPERTIES " +
        s"('${graft.catalog.GraftCatalog.NdvColsProp}'='doc_id,lang')")
      def servedNdv(name: String): Option[Long] = {
        val savedCbo = s.conf.getOption("spark.sql.cbo.enabled")
        try {
          s.conf.set("spark.sql.cbo.enabled", "true")
          s.table("graft_cat.db.ndv47").queryExecution.optimizedPlan
            .stats.attributeStats
            .find(_._1.name == name).flatMap(_._2.distinctCount).map(_.toLong)
        } finally savedCbo match {
          case Some(v) => s.conf.set("spark.sql.cbo.enabled", v)
          case None    => s.conf.unset("spark.sql.cbo.enabled")
        }
      }
      val absentBefore = servedNdv("doc_id").isEmpty
      val restatted = s.sql(
        "CALL graft_cat.system.collect_stats('db.ndv47')").head.getLong(1)
      val idempotent = s.sql(
        "CALL graft_cat.system.collect_stats('db.ndv47')").head.getLong(1) == 0L
      val exact = s.sql("SELECT count(DISTINCT doc_id), count(DISTINCT lang) " +
        "FROM qc47_documents").head()
      val idOk = servedNdv("doc_id").exists(n =>
        (n - exact.getLong(0)).abs <= math.max(1L, exact.getLong(0) / 20))
      val langOk = servedNdv("lang").exists(n => (n - exact.getLong(1)).abs <= 1)
      val agg = s.sql("SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS c " +
        "FROM graft_cat.db.ndv47").head()
      Seq((absentBefore, restatted > 0, idempotent, idOk, langOk,
          agg.getLong(0), agg.getLong(1)))
        .toDF("ndv_absent_before", "backfill_ran", "backfill_idempotent",
          "ndv_docid_served", "ndv_lang_served", "n_docs", "total_chars")
    },

    // --- INCREMENTAL MATERIALIZED AGGREGATE from the change feed (the
    //     100 TB alternative to re-aggregating the corpus per refresh):
    //     materialize a grouped aggregate once, then fold ONLY the CDC
    //     window since the materialized version into it with one MERGE —
    //     inserts +1, deletes −1, so CoW's file-granularity delete+insert
    //     pairs cancel for untouched rows and the fold is correct at any
    //     feed granularity. Refresh cost tracks the CHANGED bytes, never
    //     the table. Proof: the incrementally-maintained rows equal a
    //     full recompute over the mutated table ---
    "qc43_incremental_agg" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.src43")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.mv43")
      Tables.documents(s, d).createOrReplaceTempView("qc43_documents")
      s.sql("CREATE TABLE graft_cat.db.src43 " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest")
      s.sql("CREATE TABLE graft_cat.db.mv43 " +
        "(lang STRING, n_docs BIGINT, total_chars BIGINT) USING manifest")
      s.sql("INSERT INTO graft_cat.db.src43 SELECT doc_id, lang, n_chars " +
        "FROM qc43_documents WHERE doc_id < 150")                       // v1
      // initial full materialization AT version 1
      s.sql("INSERT INTO graft_cat.db.mv43 SELECT lang, count(*), " +
        "sum(n_chars) FROM graft_cat.db.src43 GROUP BY lang")
      // the source moves on: append, delete, update
      s.sql("INSERT INTO graft_cat.db.src43 SELECT doc_id, lang, n_chars " +
        "FROM qc43_documents WHERE doc_id >= 150")                      // v2
      s.sql("DELETE FROM graft_cat.db.src43 WHERE doc_id % 7 = 3")      // v3
      s.sql("UPDATE graft_cat.db.src43 SET n_chars = n_chars + 1000 " +
        "WHERE lang = 'en'")                                            // v4
      // incremental refresh: fold ONLY the feed since the materialized
      // BASE snapshot (start_version = the version the aggregate was
      // computed at; the window is the diff from that state to current)
      s.read.option("start_version", "1")
        .table("graft_cat.db.src43.changes")
        .createOrReplaceTempView("qc43_delta")
      s.sql("""MERGE INTO graft_cat.db.mv43 t USING (
          SELECT lang, sum(sign) AS d_n, sum(sign * n_chars) AS d_chars
          FROM (SELECT lang, n_chars,
                  CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END AS sign
                FROM qc43_delta)
          GROUP BY lang) c
        ON t.lang = c.lang
        WHEN MATCHED THEN UPDATE SET
          n_docs = t.n_docs + c.d_n, total_chars = t.total_chars + c.d_chars
        WHEN NOT MATCHED THEN INSERT (lang, n_docs, total_chars)
          VALUES (c.lang, c.d_n, c.d_chars)""")
      val mv = s.table("graft_cat.db.mv43")
      val full = s.sql("SELECT lang, count(*) AS n_docs, " +
        "sum(n_chars) AS total_chars FROM graft_cat.db.src43 GROUP BY lang")
      val matches = mv.exceptAll(full).isEmpty && full.exceptAll(mv).isEmpty
      mv.select(col("lang"), col("n_docs"),
          col("total_chars").cast("long").as("total_chars"),
          lit(matches).as("incremental_matches_full"))
        .orderBy("lang")
    },

    // --- bulk import (catalog/GraftProcedures register_files): an
    //     external writer drops plain parquet under the table location,
    //     CALL register_files adopts it as ONE append commit — no rewrite
    //     (the CONVERT-TO-DELTA migration path). The second CALL proves
    //     idempotency (0 files added); VERSION AS OF 1 proves history is
    //     intact (time travel reads the pre-adoption snapshot) ---
    "qc28_register_files" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.adopt")
      val dir = graft.core.TempDirs.create("graft_adopt_")
      Tables.documents(s, d).createOrReplaceTempView("qc28_documents")
      s.sql("CREATE TABLE graft_cat.db.adopt " +
        s"(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest LOCATION '$dir'")
      s.sql("INSERT INTO graft_cat.db.adopt SELECT doc_id, lang, n_chars " +
        "FROM qc28_documents WHERE doc_id % 2 = 0")                     // v1
      // legacy files land OUTSIDE the commit protocol (plain parquet
      // writes into subdirs of the table location) — invisible until
      // registered; coalesce(1) pins one file per import for the oracle
      val legacy = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      legacy.filter(col("doc_id") % 4 === 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/import1")
      legacy.filter(col("doc_id") % 4 === 3).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/import2")
      val rowsBefore = s.sql("SELECT count(*) FROM graft_cat.db.adopt").head().getLong(0)
      val reg = s.sql("CALL graft_cat.system.register_files('db.adopt')").head() // v2
      val rerun = s.sql("CALL graft_cat.system.register_files('db.adopt')").head()
      val after = s.sql("SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS c " +
        "FROM graft_cat.db.adopt").head()
      val travel = s.sql(
        "SELECT count(*) FROM graft_cat.db.adopt VERSION AS OF 1").head().getLong(0)
      Seq((reg.getLong(0), reg.getLong(1), rerun.getLong(1),
          rowsBefore, travel, after.getLong(0), after.getLong(1)))
        .toDF("version_after_adopt", "files_adopted", "files_adopted_rerun",
          "rows_before_adopt", "rows_v1_time_travel", "rows_after_adopt",
          "chars_after_adopt")
    },

    // --- data skipping (core/FileStats + catalog/ManifestScanBuilder):
    //     commit-time footer stats prune whole FILES at scan planning —
    //     three one-file appends with disjoint o_orderdate ranges, then a
    //     range query that must plan exactly ONE of the three files. The
    //     planned/total counts ride the result row (the oracle replays
    //     them as constants); the aggregate itself proves the pruned scan
    //     still answers exactly ---
    "qc29_data_skipping" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.skip")
      s.sql("CREATE TABLE graft_cat.db.skip " +
        "(o_orderkey BIGINT, o_orderdate DATE) USING manifest")
      // the generator ships o_orderdate as a timestamp (1995..2001):
      // normalize to DATE (midnight values — cast is exact)
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"))
      // one file per append ⇒ deterministic file counts for the oracle
      orders.filter(col("o_orderdate") < lit("1997-01-01").cast("date"))
        .coalesce(1).writeTo("graft_cat.db.skip").append()
      orders.filter(col("o_orderdate") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate") < lit("1999-01-01").cast("date"))
        .coalesce(1).writeTo("graft_cat.db.skip").append()
      orders.filter(col("o_orderdate") >= lit("1999-01-01").cast("date"))
        .coalesce(1).writeTo("graft_cat.db.skip").append()
      def planned(df: org.apache.spark.sql.DataFrame): Long = {
        val p0 = df.queryExecution.executedPlan
        val p = p0 match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case other => other
        }
        p.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
        }.map {
          case ms: graft.catalog.ManifestStreamScan =>
            ms.inner.fileIndex.inputFiles.length.toLong
          case ps: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
            ps.fileIndex.inputFiles.length.toLong
          case _ => 0L
        }.sum
      }
      val sel = s.sql("SELECT * FROM graft_cat.db.skip WHERE o_orderdate " +
        "BETWEEN DATE'1997-03-01' AND DATE'1997-09-30'")
      val filesTotal = planned(s.table("graft_cat.db.skip"))
      val filesPlanned = planned(sel)
      val agg = sel.agg(count(lit(1)).as("n"),
        sum("o_orderkey").cast("long").as("k")).head()
      Seq((filesTotal, filesPlanned, agg.getLong(0), agg.getLong(1)))
        .toDF("files_total", "files_planned", "n_orders", "sum_key")
    },

    // --- merge-on-read DML via DELETION VECTORS (core/DeletionVectors +
    //     catalog/ManifestDeltaOperation): on a 'graft.dml.mode' =
    //     'merge-on-read' table a DELETE writes a position sidecar (no
    //     data file rewritten — proved by the unchanged file set riding
    //     the result), an UPDATE vectors the old rows and appends the new
    //     images, t.detail reports the debt, and CALL purge_deletes
    //     materializes it (only vectored files rewrite). The debts and
    //     the final aggregate are exact and oracle-replayed ---
    "qc30_deletion_vectors" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.mor")
      Tables.documents(s, d).createOrReplaceTempView("qc30_documents")
      s.sql("CREATE TABLE graft_cat.db.mor " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest " +
        "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
      s.sql("INSERT INTO graft_cat.db.mor " +
        "SELECT /*+ REPARTITION(4) */ doc_id, lang, n_chars " +
        "FROM qc30_documents WHERE doc_id < 150")
      s.sql("INSERT INTO graft_cat.db.mor " +
        "SELECT /*+ REPARTITION(6) */ doc_id, lang, n_chars " +
        "FROM qc30_documents WHERE doc_id >= 150")
      def files(): Set[String] =
        s.sql("SELECT file FROM graft_cat.db.mor.files")
          .collect().map(_.getString(0)).toSet
      def debt(): Long =
        s.sql("SELECT deleted_rows FROM graft_cat.db.mor.detail").head().getLong(0)
      val before = files()
      s.sql("DELETE FROM graft_cat.db.mor WHERE doc_id % 7 = 3")
      val unchangedByDelete = files() == before
      val debtAfterDelete = debt()
      s.sql("UPDATE graft_cat.db.mor SET n_chars = n_chars + 500 WHERE lang = 'en'")
      val originalsSurvive = before.subsetOf(files())
      val debtAfterUpdate = debt()
      val purged = s.sql("CALL graft_cat.system.purge_deletes('db.mor')").head()
      val fin = s.sql("SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS c " +
        "FROM graft_cat.db.mor").head()
      Seq((unchangedByDelete, debtAfterDelete, originalsSurvive, debtAfterUpdate,
          purged.getLong(1), debt(), fin.getLong(0), fin.getLong(1)))
        .toDF("files_unchanged_by_delete", "debt_after_delete",
          "originals_survive_update", "debt_after_update", "positions_purged",
          "debt_after_purge", "rows_final", "chars_final")
    },

    // --- partition transforms (catalog/GraftCatalog parsePartitioning +
    //     ManifestTable.stagePoolClustered): PARTITIONED BY (days(col))
    //     declares a monotonic partition dimension; writes range-cluster
    //     + sort on the source column, so the log's file stats carry
    //     disjoint slices and a date-window query PRUNES whole partitions
    //     through ordinary data skipping. Three disjoint-range inserts
    //     pin "pruning happened" as a structural boolean; the aggregate
    //     and the t.partitions label check replay exactly ---
    "qc31_partition_transforms" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.pdays")
      s.sql("CREATE TABLE graft_cat.db.pdays " +
        "(o_orderkey BIGINT, o_orderdate DATE) USING manifest " +
        "PARTITIONED BY (days(o_orderdate))")
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"))
      // three disjoint date ranges -> three append commits whose files
      // cannot overlap across commits (and are range-clustered within)
      orders.filter(col("o_orderdate") < lit("1997-01-01").cast("date"))
        .writeTo("graft_cat.db.pdays").append()
      orders.filter(col("o_orderdate") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate") < lit("1999-01-01").cast("date"))
        .writeTo("graft_cat.db.pdays").append()
      orders.filter(col("o_orderdate") >= lit("1999-01-01").cast("date"))
        .writeTo("graft_cat.db.pdays").append()
      def planned(df: org.apache.spark.sql.DataFrame): Long = {
        val p0 = df.queryExecution.executedPlan
        val p = p0 match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case other => other
        }
        p.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
        }.map {
          case ms: graft.catalog.ManifestStreamScan =>
            ms.inner.fileIndex.inputFiles.length.toLong
          case ps: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
            ps.fileIndex.inputFiles.length.toLong
          case _ => 0L
        }.sum
      }
      val window = s.sql("SELECT * FROM graft_cat.db.pdays WHERE o_orderdate " +
        "BETWEEN DATE'1997-06-01' AND DATE'1997-12-31'")
      val filesTotal = planned(s.table("graft_cat.db.pdays"))
      val filesPlanned = planned(window)
      val prunedSome = filesTotal >= 3 && filesPlanned < filesTotal
      val labelsOk = s.sql("SELECT partition FROM graft_cat.db.pdays.partitions")
        .collect().map(_.getString(0)).forall(_.startsWith("o_orderdate_day="))
      val agg = window.agg(count(lit(1)).as("n"),
        sum("o_orderkey").cast("long").as("k")).head()
      Seq((prunedSome, labelsOk, agg.getLong(0), agg.getLong(1)))
        .toDF("pruned_some", "labels_ok", "n_orders", "sum_key")
    },

    // --- partition-spec EVOLUTION (GraftCatalog.setPartitioning / CALL
    //     set_partitioning): write under days(ts), evolve the spec to
    //     hours(ts) — metadata-only, zero files rewritten — then write
    //     more under the new spec. Data skipping prunes across BOTH
    //     layouts through the same source-column stats, t.partitions
    //     labels everything under the current spec, and a window
    //     aggregate spanning both slices replays exactly ---
    "qc35_spec_evolution" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.evo35")
      s.sql("CREATE TABLE graft_cat.db.evo35 " +
        "(ts TIMESTAMP, o_orderkey BIGINT) USING manifest " +
        "PARTITIONED BY (days(ts))")
      val orders = Tables.orders(s, d).select(
        col("o_orderdate").cast("timestamp").as("ts"), col("o_orderkey"))
      // two disjoint-range appends under days(): one fully OUTSIDE the
      // audit window (prunable), one straddling its start
      orders.filter(col("ts") < lit("1995-01-01").cast("timestamp"))
        .writeTo("graft_cat.db.evo35").append()                 // days() era
      orders.filter(col("ts") >= lit("1995-01-01").cast("timestamp") &&
          col("ts") < lit("1997-01-01").cast("timestamp"))
        .writeTo("graft_cat.db.evo35").append()                 // days() era
      val dir35 = s.sql("SHOW TBLPROPERTIES graft_cat.db.evo35").collect()
        .find(_.getString(0) == "graft.location").get.getString(1)
      def live(): Set[String] = graft.core.ManifestTable.state(dir35,
        graft.core.ManifestTable.currentVersion(dir35).get).files.toSet
      val oldFiles = live()
      val specRow = s.sql(
        "CALL graft_cat.system.set_partitioning('db.evo35', 'hours(ts)')")
        .head().getString(0)
      val oldUntouched = specRow == "hours(ts)" && live() == oldFiles
      // two disjoint-range appends under hours(): one inside the window,
      // one fully OUTSIDE it (prunable)
      orders.filter(col("ts") >= lit("1997-01-01").cast("timestamp") &&
          col("ts") < lit("1997-07-01").cast("timestamp"))
        .writeTo("graft_cat.db.evo35").append()                 // hours() era
      orders.filter(col("ts") >= lit("1997-07-01").cast("timestamp"))
        .writeTo("graft_cat.db.evo35").append()                 // hours() era
      def planned(df: org.apache.spark.sql.DataFrame): Long = {
        val p = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case other => other
        }
        p.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
        }.map {
          case ms: graft.catalog.ManifestStreamScan =>
            ms.inner.fileIndex.inputFiles.length.toLong
          case ps: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
            ps.fileIndex.inputFiles.length.toLong
          case _ => 0L
        }.sum
      }
      // the audit window spans the spec boundary: it must read files from
      // BOTH layouts and still prune the rest
      val window = s.sql("SELECT * FROM graft_cat.db.evo35 " +
        "WHERE ts >= TIMESTAMP'1996-06-01 00:00:00' " +
        "AND ts < TIMESTAMP'1997-07-01 00:00:00'")
      val prunedSome = planned(window) < planned(s.table("graft_cat.db.evo35"))
      val labelsOk = s.sql("SELECT partition FROM graft_cat.db.evo35.partitions")
        .collect().map(_.getString(0)).forall(_.startsWith("ts_hour="))
      val agg = window.agg(count(lit(1)).as("n"),
        sum("o_orderkey").cast("long").as("k")).head()
      Seq((oldUntouched, prunedSome, labelsOk, agg.getLong(0), agg.getLong(1)))
        .toDF("old_files_untouched", "pruned_some", "labels_ok",
          "n_orders", "sum_key")
    },

    // --- log-served column NDV (core/NdvStats + GraftCatalog.NdvColsProp):
    //     commit-time HLL sketches per declared column, merged at scan
    //     planning and served to the optimizer as distinct counts — CBO
    //     estimation with zero ANALYZE. Structural booleans: the served
    //     NDV sits within HLL error of the exact distinct count, and it
    //     reaches the logical plan's attributeStats under CBO ---
    "qc36_log_ndv" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.ndv36")
      Tables.documents(s, d).createOrReplaceTempView("qc36_documents")
      s.sql("CREATE TABLE graft_cat.db.ndv36 " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest " +
        s"TBLPROPERTIES ('${graft.catalog.GraftCatalog.NdvColsProp}'='doc_id,lang')")
      // two appends: sketches must MERGE across commits
      s.sql("INSERT INTO graft_cat.db.ndv36 SELECT doc_id, lang, n_chars " +
        "FROM qc36_documents WHERE doc_id % 2 = 0")
      s.sql("INSERT INTO graft_cat.db.ndv36 SELECT doc_id, lang, n_chars " +
        "FROM qc36_documents WHERE doc_id % 2 = 1")
      val exact = s.sql("SELECT count(DISTINCT doc_id), count(DISTINCT lang) " +
        "FROM qc36_documents").head()
      val (exactIds, exactLangs) = (exact.getLong(0), exact.getLong(1))
      val savedCbo = s.conf.getOption("spark.sql.cbo.enabled")
      val att = try {
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.table("graft_cat.db.ndv36").queryExecution.optimizedPlan.stats.attributeStats
      } finally savedCbo match {
        case Some(v) => s.conf.set("spark.sql.cbo.enabled", v)
        case None    => s.conf.unset("spark.sql.cbo.enabled")
      }
      def servedNdv(name: String): Option[Long] =
        att.find(_._1.name == name).flatMap(_._2.distinctCount).map(_.toLong)
      val idOk = servedNdv("doc_id").exists(n =>
        (n - exactIds).abs <= math.max(1L, exactIds / 20))
      val langOk = servedNdv("lang").exists(n => (n - exactLangs).abs <= 1)
      val agg = s.sql("SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS c " +
        "FROM graft_cat.db.ndv36").head()
      Seq((idOk, langOk, agg.getLong(0), agg.getLong(1)))
        .toDF("ndv_docid_served", "ndv_lang_served", "n_docs", "total_chars")
    },

    // --- log-served column HISTOGRAMS (core/HistStats): numeric declared
    //     NDV columns carry per-file equi-width grids at commit; scan
    //     planning merges them into a 64-bin equi-height histogram served
    //     through v2 columnStats — CBO range estimation sees the real
    //     DISTRIBUTION with zero ANALYZE. Structural booleans: the
    //     histogram reaches attributeStats, and a 5%-mass tail range
    //     predicate estimates near 5% (where min/max-uniform says 10%
    //     and no-stats defaults say far more) ---
    "qc40_log_histogram" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.hist40")
      Tables.documents(s, d).createOrReplaceTempView("qc40_documents")
      s.sql("CREATE TABLE graft_cat.db.hist40 (k BIGINT) USING manifest " +
        s"TBLPROPERTIES ('${graft.catalog.GraftCatalog.NdvColsProp}'='k')")
      val skew = "CASE WHEN doc_id % 20 = 0 THEN 900 + doc_id % 100 " +
        "ELSE doc_id % 100 END" // 5% of rows in the [900, 1000) tail
      // two appends: grids must MERGE across commits
      s.sql(s"INSERT INTO graft_cat.db.hist40 SELECT $skew AS k " +
        "FROM qc40_documents WHERE doc_id % 2 = 0")
      s.sql(s"INSERT INTO graft_cat.db.hist40 SELECT $skew AS k " +
        "FROM qc40_documents WHERE doc_id % 2 = 1")
      val total = s.table("graft_cat.db.hist40").count()
      val savedCbo = s.conf.getOption("spark.sql.cbo.enabled")
      val (histServed, estRatio) = try {
        s.conf.set("spark.sql.cbo.enabled", "true")
        val att = s.table("graft_cat.db.hist40")
          .queryExecution.optimizedPlan.stats.attributeStats
        val served = att.find(_._1.name == "k").flatMap(_._2.histogram)
        val est = s.table("graft_cat.db.hist40").where(col("k") >= 900)
          .queryExecution.optimizedPlan.stats.rowCount
        (served.exists(_.bins.length == 64),
          est.map(_.toDouble / total).getOrElse(1.0))
      } finally savedCbo match {
        case Some(v) => s.conf.set("spark.sql.cbo.enabled", v)
        case None    => s.conf.unset("spark.sql.cbo.enabled")
      }
      // distribution-sized: the tail estimate lands near the true 5%,
      // far from uniform interpolation's 10% (grid smearing tolerated)
      val estOk = estRatio > 0.005 && estRatio < 0.09
      val agg = s.sql("SELECT count(*) AS n, CAST(sum(k) AS BIGINT) AS sk " +
        "FROM graft_cat.db.hist40").head()
      Seq((histServed, estOk, agg.getLong(0), agg.getLong(1)))
        .toDF("hist_served", "est_sized_by_distribution", "n_rows", "sum_k")
    },

    // --- ZERO-COPY table clone (CALL g.system.clone / GraftCatalog
    //     .createCloneTable): fork a table at a version without copying
    //     a byte — the clone is an independent table whose private
    //     lineage (DML, appends, time travel) lives in a pinned branch
    //     log on the source dir while its data pools stay in the shared
    //     plane. The experimentation primitive at 100 TB: fork the
    //     corpus, mutate the fork, throw it away — metadata cost only.
    //     Structural boolean: the clone's fork snapshot lists the
    //     SOURCE's physical file keys verbatim (nothing rewritten);
    //     then both sides diverge and each replays exactly ---
    "qc41_zero_copy_clone" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.cl41") // pin released first
      s.sql("DROP TABLE IF EXISTS graft_cat.db.src41")
      Tables.documents(s, d).createOrReplaceTempView("qc41_documents")
      s.sql("CREATE TABLE graft_cat.db.src41 " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest")
      s.sql("INSERT INTO graft_cat.db.src41 " +
        "SELECT doc_id, lang, n_chars FROM qc41_documents")
      val pin = s.sql("CALL graft_cat.system.clone('db.src41', 'db.cl41')")
        .head().getString(1)
      val dir41 = s.sql("SHOW TBLPROPERTIES graft_cat.db.src41").collect()
        .find(_.getString(0) == "graft.location").get.getString(1)
      // zero copy: the pin's fork snapshot IS the source's file list
      val srcFiles = graft.core.ManifestTable.state(dir41,
        graft.core.ManifestTable.currentVersion(dir41).get).files.toSet
      val log41 = graft.core.ManifestTable.branchLogDir(dir41, pin)
      val zeroCopy = graft.core.ManifestTable.state(log41,
        graft.core.ManifestTable.currentVersion(log41).get)
        .files.toSet == srcFiles
      // diverge the clone (DML + append) and the source (append) —
      // each lineage must see only its own mutations
      s.sql("DELETE FROM graft_cat.db.cl41 WHERE doc_id % 3 = 0")
      s.sql("INSERT INTO graft_cat.db.cl41 " +
        "SELECT doc_id + 1000000, lang, n_chars FROM qc41_documents " +
        "WHERE doc_id % 5 = 0")
      s.sql("INSERT INTO graft_cat.db.src41 " +
        "SELECT doc_id + 2000000, lang, n_chars FROM qc41_documents " +
        "WHERE doc_id % 7 = 0")
      val src = s.sql("SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) " +
        "AS c FROM graft_cat.db.src41").head()
      val cl = s.sql("SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) " +
        "AS c FROM graft_cat.db.cl41").head()
      // branch-log v1 is the clone-time snapshot: time travel pre-DML
      val snap = s.sql("SELECT count(*) AS n FROM graft_cat.db.cl41 " +
        "VERSION AS OF 1").head()
      Seq((zeroCopy, src.getLong(0), src.getLong(1), cl.getLong(0),
        cl.getLong(1), snap.getLong(0)))
        .toDF("zero_copy", "src_n", "src_chars", "clone_n", "clone_chars",
          "snapshot_n")
    },

    // --- Z-ORDER compaction (CALL compact(zorder => 'x,y,z') /
    //     ManifestTable.compact zorderBy / ZOrder.zorderKey): rewrite the
    //     table clustered on the domain-scaled N-D Morton key (2–4 dims,
    //     bits per dim = 63/k), so EVERY output file gets a narrow
    //     min/max box in ALL interleaved dimensions and a selective
    //     filter on ANY of them file-prunes through the log stats — what
    //     a linear cluster_by can only give its leading column.
    //     Structural booleans: multiple files, and x-, y- and z-filters
    //     each plan strictly fewer files than the table holds ---
    "qc42_zorder_compact" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.zc42")
      Tables.documents(s, d).createOrReplaceTempView("qc42_documents")
      s.sql("CREATE TABLE graft_cat.db.zc42 " +
        "(id BIGINT, x BIGINT, y BIGINT, z BIGINT, pad STRING) USING manifest")
      // 100 rows per doc over a 1024³ (x, y, z) domain — each dim is
      // id-bijective mod 1024 but a filter on one scatters across the
      // others. The pad must be incompressible AND sized so target_mb=1
      // yields ~25 files: the 3-D key's top bits cycle z,y,x, so the
      // LAST-interleaved dim (x) only gets a clean split level once the
      // file count passes 2³ — at ≤8 files every file straddles the x
      // boundary and dim-x pruning vanishes. (A repeat()ed sha pad
      // snappy-compresses ~8× and silently collapsed the file count to
      // 5 — burned here: pad = 16 DISTINCT sha blocks per row.)
      // the corpus is pinned to the first 500 docs so the gate's staging
      // cost (50k rows × 16 sha blocks) is CONSTANT across scale factors
      // — at sf0.1 an unpinned version staged 500k rows / ~260 files and
      // the gate's cost was all pad hashing, not z-order work. (Needs
      // ≥500 docs, i.e. sf0.01+; sf0.001 would yield too few files for
      // the 3-bit split ladder.)
      // REPARTITION (argless: session shuffle-partition width, i.e.
      // scale-adaptive) spreads the 800k-sha pad generation across cores —
      // the 1-split source otherwise hashes 50 MB of pad on ONE task
      s.sql("INSERT INTO graft_cat.db.zc42 " +
        "SELECT /*+ REPARTITION */ " +
        "doc_id * 100 + r AS id, (doc_id * 100 + r) % 1024 AS x, " +
        "((doc_id * 100 + r) * 37) % 1024 AS y, " +
        "((doc_id * 100 + r) * 59) % 1024 AS z, " +
        "array_join(transform(sequence(0, 15), i -> " +
        "sha2(CAST((doc_id * 100 + r) * 16 + i AS STRING), 256)), '') AS pad " +
        "FROM qc42_documents CROSS JOIN (SELECT id AS r FROM range(100)) " +
        "WHERE doc_id < 500")
      val row = s.sql("CALL graft_cat.system.compact('db.zc42', " +
        "target_mb => 1, zorder => 'x,y,z')").head()
      val filesAfter = row.getLong(1)
      def planned(df: org.apache.spark.sql.DataFrame): Long = {
        val p = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case other => other
        }
        p.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
        }.map {
          case ms: graft.catalog.ManifestStreamScan =>
            ms.inner.fileIndex.inputFiles.length.toLong
          case ps: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
            ps.fileIndex.inputFiles.length.toLong
          case _ => 0L
        }.sum
      }
      val prunedX = planned(
        s.sql("SELECT * FROM graft_cat.db.zc42 WHERE x < 64")) < filesAfter
      val prunedY = planned(
        s.sql("SELECT * FROM graft_cat.db.zc42 WHERE y < 64")) < filesAfter
      val prunedZ = planned(
        s.sql("SELECT * FROM graft_cat.db.zc42 WHERE z < 64")) < filesAfter
      val aggX = s.sql("SELECT count(*) AS n, CAST(sum(id) AS BIGINT) AS k " +
        "FROM graft_cat.db.zc42 WHERE x < 64").head()
      val aggY = s.sql("SELECT count(*) AS n, CAST(sum(id) AS BIGINT) AS k " +
        "FROM graft_cat.db.zc42 WHERE y < 64").head()
      val aggZ = s.sql("SELECT count(*) AS n, CAST(sum(id) AS BIGINT) AS k " +
        "FROM graft_cat.db.zc42 WHERE z < 64").head()
      Seq((filesAfter > 1, prunedX, prunedY, prunedZ,
        aggX.getLong(0), aggX.getLong(1), aggY.getLong(0), aggY.getLong(1),
        aggZ.getLong(0), aggZ.getLong(1)))
        .toDF("multi_files", "pruned_x", "pruned_y", "pruned_z",
          "n_x", "sum_x", "n_y", "sum_y", "n_z", "sum_z")
    },

    // --- SCOPED compaction (CALL compact(where => ...) /
    //     ManifestTable.compactScoped): OPTIMIZE ... WHERE — rewrite
    //     ONLY the files whose log stats may hold matching rows, so a
    //     maintenance pass over one partition/tenant of a 100 TB table
    //     costs that slice's bytes. File-granular, never row-splitting;
    //     stats-excluded files stay byte-untouched. Structural booleans:
    //     exactly the en-stat files were selected, they merged, every
    //     other file entry survived verbatim; contents replay unchanged ---
    "qc48_scoped_compact" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.sc48")
      Tables.documents(s, d).createOrReplaceTempView("qc48_documents")
      s.sql("CREATE TABLE graft_cat.db.sc48 " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest")
      // 4 fragmented inserts of CONTIGUOUS doc_id ranges -> 4+ files whose
      // doc_id stats boxes are disjoint (the pruning substrate); the last
      // range is OPEN-ENDED so the table covers every document at any
      // scale factor (the oracle replays ALL of documents)
      (0 until 4).foreach { k =>
        val hi = if (k == 3) "" else s" AND doc_id < ${(k + 1) * 125}"
        s.sql("INSERT INTO graft_cat.db.sc48 " +
          "SELECT doc_id, lang, n_chars FROM qc48_documents " +
          s"WHERE doc_id >= ${k * 125}$hi")
      }
      val dir = s.sql("SHOW TBLPROPERTIES graft_cat.db.sc48").collect()
        .find(_.getString(0) == "graft.location").get.getString(1)
      def snap() = graft.core.ManifestTable.state(dir,
        graft.core.ManifestTable.currentVersion(dir).get)
      def loMatches(st: graft.core.ManifestTable.TableState, f: String): Boolean =
        st.stats.get(f).flatMap(_.col("doc_id")).flatMap(_.min).exists {
          case graft.core.FileStats.LongVal(mn) => mn < 250L
          case _ => false
        }
      val st0 = snap()
      val lo0 = st0.files.filter(f => loMatches(st0, f))
      val hi0 = st0.files.toSet -- lo0
      val row = s.sql("CALL graft_cat.system.compact('db.sc48', " +
        "where => 'doc_id < 250')").head()
      val st1 = snap()
      val lo1 = st1.files.filter(f => loMatches(st1, f))
      val hi1 = st1.files.toSet -- lo1
      // exactly the low-range files were selected and merged; every
      // high-range file entry survived verbatim
      val scopeExact = row.getLong(0) == lo0.length.toLong &&
        lo0.length >= 2 && hi0.nonEmpty
      val scopedMerged = lo1.length < lo0.length && lo1.nonEmpty
      val othersUntouched = hi1 == hi0 && hi0.nonEmpty
      s.table("graft_cat.db.sc48")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("total_chars"))
        .withColumn("scope_exact", lit(scopeExact))
        .withColumn("scoped_merged", lit(scopedMerged))
        .withColumn("others_untouched", lit(othersUntouched))
        .orderBy("lang")
    },

    // --- COLUMN DEFAULT values (TableCatalogCapability
    //     .SUPPORT_COLUMN_DEFAULT_VALUE): the capability arms Spark's
    //     analyzer end to end — CREATE stores the default expression in
    //     the column metadata (rides the descriptor schema JSON like
    //     field ids), INSERTs that omit the column (or say DEFAULT) get
    //     it substituted at ANALYSIS time (the connector never evaluates
    //     anything), ALTER COLUMN SET/DROP DEFAULT changes future
    //     inserts only. Spark itself validates defaults at ALTER
    //     (constant, resolvable); ADD COLUMN with a default is refused
    //     (existing rows would not carry it — Delta's rule) ---
    "qc49_column_defaults" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.cd49")
      Tables.documents(s, d).createOrReplaceTempView("qc49_documents")
      s.sql("CREATE TABLE graft_cat.db.cd49 " +
        "(doc_id BIGINT, lang STRING DEFAULT 'en', n_chars BIGINT DEFAULT 0) " +
        "USING manifest")
      // omitted columns take the CREATE-time defaults
      s.sql("INSERT INTO graft_cat.db.cd49 (doc_id) " +
        "SELECT doc_id FROM qc49_documents WHERE lang = 'en'")
      s.sql("INSERT INTO graft_cat.db.cd49 " +
        "SELECT doc_id, lang, n_chars FROM qc49_documents WHERE lang <> 'en'")
      // SET DEFAULT affects future inserts only
      s.sql("ALTER TABLE graft_cat.db.cd49 ALTER COLUMN lang SET DEFAULT 'xx'")
      s.sql("INSERT INTO graft_cat.db.cd49 (doc_id, n_chars) " +
        "SELECT doc_id + 1000000, n_chars FROM qc49_documents WHERE doc_id % 10 = 0")
      // DROP DEFAULT: omitted column reverts to NULL
      s.sql("ALTER TABLE graft_cat.db.cd49 ALTER COLUMN lang DROP DEFAULT")
      s.sql("INSERT INTO graft_cat.db.cd49 (doc_id) " +
        "SELECT doc_id + 2000000 FROM qc49_documents WHERE doc_id % 25 = 0")
      s.table("graft_cat.db.cd49")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("total_chars"))
        .orderBy("lang")
    },

    // --- REPLACE WHERE (OverwriteByExpression / df.writeTo(t).overwrite):
    //     ONE atomic manifest version swaps the predicate's rows for the
    //     incoming batch — files holding matching rows are removed, their
    //     survivor rows rewritten, the new batch appended; files the
    //     predicate can't touch are never read (stats-skipped discovery)
    //     or rewritten. Incoming rows must satisfy the predicate (Delta's
    //     replaceWhere constraint): the violating batch below must fail
    //     BEFORE any version commits ---
    "qc51_replace_where" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.rw51")
      Tables.documents(s, d).createOrReplaceTempView("qc51_documents")
      s.sql("CREATE TABLE graft_cat.db.rw51 " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest")
      s.sql("INSERT INTO graft_cat.db.rw51 " +
        "SELECT doc_id, lang, n_chars FROM qc51_documents")
      // the "corrected re-extraction" of one language partition
      s.table("qc51_documents").filter(col("lang") === "en")
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          (col("n_chars") * 2).as("n_chars"))
        .writeTo("graft_cat.db.rw51").overwrite(col("lang") === "en")
      // constraint enforcement: a batch outside the replaced region fails
      // loudly with the table untouched
      // the boolean is TRUE only for the replace_where constraint itself —
      // any other failure mode (untranslatable predicate, broken commit)
      // must fail the gate, not masquerade as a rejection
      val rejected =
        try {
          s.range(1).select(lit(99L).as("doc_id"), lit("de").as("lang"),
              lit(1L).as("n_chars"))
            .writeTo("graft_cat.db.rw51").overwrite(col("lang") === "en")
          false
        } catch {
          case e: Exception =>
            graft.catalog.Constraints.violationIn(e,
              graft.catalog.Constraints.ReplaceWhereName)
        }
      s.table("graft_cat.db.rw51")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"),
          max("doc_id").as("max_id"))
        .withColumn("violation_rejected", lit(rejected))
        .orderBy("lang")
    },

    // --- DEEP clone (CALL clone(deep => true) — the DR / storage-tier
    //     MIGRATION primitive qc41's zero-copy clone deliberately is
    //     not): the snapshot's pools (incl. deletion-vector files) are
    //     physically copied to the target's own root, each file verified
    //     by md5 content hash, and a one-version log rebuilt with the
    //     source's stats carried verbatim. Structural booleans: the
    //     migration leaves NO pin behind, and the migrated table still
    //     replays bit-exact after the source table is DROPPED and its
    //     root dir deleted wholesale — the copy owes the source nothing ---
    "qc52_deep_clone" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.mig52")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.src52")
      Tables.documents(s, d).createOrReplaceTempView("qc52_documents")
      s.sql("CREATE TABLE graft_cat.db.src52 " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest " +
        "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
      s.sql("INSERT INTO graft_cat.db.src52 " +
        "SELECT doc_id, lang, n_chars FROM qc52_documents")
      // a pending deletion vector: the copy must carry vectors, not just
      // data pools (a vector-blind migration would resurrect these rows)
      s.sql("DELETE FROM graft_cat.db.src52 WHERE doc_id % 10 = 3")
      val res = s.sql(
        "CALL graft_cat.system.clone('db.src52', 'db.mig52', deep => true)")
        .head().getString(1)
      val verified = res.startsWith("deep(") && res.contains("verified=md5")
      // self-sufficiency: drop the source TABLE and delete its directory
      // outright; the migrated table must read on
      val dir52 = s.sql("SHOW TBLPROPERTIES graft_cat.db.src52").collect()
        .find(_.getString(0) == "graft.location").get.getString(1)
      val pinFree = !graft.core.ManifestTable.branches(dir52)
        .keysIterator.exists(_.contains("mig52"))
      s.sql("DROP TABLE graft_cat.db.src52")
      val p52 = new org.apache.hadoop.fs.Path(dir52)
      val fs52 = graft.core.LakeStorage.openFor(dir52)
      if (fs52.exists(p52)) { fs52.delete(p52, true); () }
      s.table("graft_cat.db.mig52")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"))
        .withColumn("copy_verified", lit(verified))
        .withColumn("pin_free", lit(pinFree))
        .orderBy("lang")
    },

    // --- GENERATED ALWAYS AS IDENTITY (surrogate keys next to column
    //     DEFAULTs): the spec rides the descriptor as catalyst's own
    //     identity.* metadata; the connector allocates DENSE monotone
    //     values per batch (per-partition prefix offsets + in-partition
    //     row index — pure codegen row work over one reservation CAS)
    //     and rejects explicit values. The gate inserts two tagged
    //     batches and aggregates the generated keys: dense 1..n1 then
    //     n1+1..n1+n2 whatever the partition layout, so min/max/count/
    //     distinct replay exactly; the rejection boolean rides in-query ---
    "qc53_identity_keys" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.id53")
      Tables.documents(s, d).createOrReplaceTempView("qc53_documents")
      s.sql("CREATE TABLE graft_cat.db.id53 " +
        "(sk BIGINT GENERATED ALWAYS AS IDENTITY, doc_id BIGINT, " +
        "batch STRING) USING manifest")
      s.sql("INSERT INTO graft_cat.db.id53 " +
        "SELECT NULL, doc_id, 'a' FROM qc53_documents WHERE doc_id % 2 = 0")
      s.sql("INSERT INTO graft_cat.db.id53 " +
        "SELECT NULL, doc_id, 'b' FROM qc53_documents WHERE doc_id % 2 = 1")
      val rejected =
        try {
          s.sql("INSERT INTO graft_cat.db.id53 VALUES (7, 7, 'smuggled')")
          false
        } catch {
          case e: Exception =>
            Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
              .take(10).exists(c =>
                Option(c.getMessage).exists(_.contains("GENERATED ALWAYS")))
        }
      s.table("graft_cat.db.id53")
        .groupBy("batch")
        .agg(count(lit(1)).as("n_rows"),
          min("sk").as("min_key"), max("sk").as("max_key"),
          countDistinct(col("sk")).as("n_distinct_keys"))
        .withColumn("explicit_rejected", lit(rejected))
        .orderBy("batch")
    },

    // --- GENERATED ALWAYS AS (expr) — expression-generated columns
    //     (catalog/GeneratedColumns; TableCatalogCapability
    //     .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS), completing the
    //     generated DDL family next to DEFAULTs (qc49) and identity
    //     (qc53): omitted values are COMPUTED map-side at write, explicit
    //     values are VALIDATED against the expression (a divergent value
    //     fails before any version commits — the boolean), and because
    //     the table is PARTITIONED BY the generated column, every write
    //     range-clusters by the MATERIALIZED value and a filter on it
    //     prunes files from the log's stats at plan time (the second
    //     boolean) — Delta's generated-column-partitioning trick ---
    "qc54_generated_columns" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.gen54")
      Tables.orders(s, d).createOrReplaceTempView("qc54_orders")
      s.sql("""CREATE TABLE graft_cat.db.gen54 (
          o_orderkey BIGINT, o_totalprice DOUBLE, o_orderdate TIMESTAMP,
          o_year BIGINT GENERATED ALWAYS AS (CAST(year(o_orderdate) AS BIGINT)),
          price_band STRING GENERATED ALWAYS AS
            (CASE WHEN o_totalprice >= 200000.0D THEN 'high' ELSE 'low' END))
        USING manifest PARTITIONED BY (o_year)""")
      // three year-windowed ingest batches (an append stream's natural
      // arrival order — and the reason per-file o_year bounds end up
      // disjoint, so the pruning boolean measures real file skipping):
      // batches 1 and 3 OMIT the generated columns (computed), batch 2
      // supplies MATCHING explicit values (validated)
      s.sql("INSERT INTO graft_cat.db.gen54 (o_orderkey, o_totalprice, o_orderdate) " +
        "SELECT o_orderkey, o_totalprice, o_orderdate FROM qc54_orders " +
        "WHERE year(o_orderdate) < 1995")
      s.sql("INSERT INTO graft_cat.db.gen54 " +
        "SELECT o_orderkey, o_totalprice, o_orderdate, " +
        "CAST(year(o_orderdate) AS BIGINT), " +
        "CASE WHEN o_totalprice >= 200000.0D THEN 'high' ELSE 'low' END " +
        "FROM qc54_orders WHERE year(o_orderdate) IN (1995, 1996)")
      s.sql("INSERT INTO graft_cat.db.gen54 (o_orderkey, o_totalprice, o_orderdate) " +
        "SELECT o_orderkey, o_totalprice, o_orderdate FROM qc54_orders " +
        "WHERE year(o_orderdate) > 1996")
      // a DIVERGENT explicit value must fail before any version commits
      val rejected =
        try {
          s.sql("INSERT INTO graft_cat.db.gen54 VALUES " +
            "(9999999, 1.0D, TIMESTAMP'1995-06-01 00:00:00', 1994, 'low')")
          false
        } catch {
          case e: Exception =>
            Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
              .take(10).exists(c =>
                Option(c.getMessage).exists(_.contains("generated column")))
        }
      def planned(df: org.apache.spark.sql.DataFrame): Long = {
        val p0 = df.queryExecution.executedPlan
        val p = p0 match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case other => other
        }
        p.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
        }.map {
          case ms: graft.catalog.ManifestStreamScan =>
            ms.inner.fileIndex.inputFiles.length.toLong
          case ps: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
            ps.fileIndex.inputFiles.length.toLong
          case _ => 0L
        }.sum
      }
      val t = s.table("graft_cat.db.gen54")
      val prunedSome =
        planned(t.filter(col("o_year") === lit(1995L))) < planned(t)
      t.groupBy("o_year", "price_band")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .withColumn("rejected_divergent", lit(rejected))
        .withColumn("pruned_some", lit(prunedSome))
        .orderBy("o_year", "price_band")
    },

    // --- generated-column EVOLUTION (the ALTER half Delta never
    //     shipped): `CALL g.system.add_generated_column` adds a
    //     GENERATED ALWAYS AS (expr) column to an EXISTING table — add +
    //     materialize (ONE distributed copy-on-write rewrite; the honest
    //     100 TB cost of backfilling an expression into history) + adopt
    //     (every row validated). After it: inserts that omit the column
    //     COMPUTE it, divergent explicit values are REJECTED, adopting
    //     an expression existing rows diverge from is REFUSED (one
    //     limit-1 scan), and UNSET TBLPROPERTIES demotes the column to
    //     plain (values stay materialized; divergent values then land) ---
    "qc55_generated_evolution" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.gen55")
      Tables.orders(s, d).createOrReplaceTempView("qc55_orders")
      s.sql("CREATE TABLE graft_cat.db.gen55 (o_orderkey BIGINT, " +
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP) USING manifest")
      s.sql("INSERT INTO graft_cat.db.gen55 SELECT o_orderkey, " +
        "o_totalprice, o_orderdate FROM qc55_orders WHERE o_orderkey % 2 = 0")
      // add-and-materialize over the existing rows in one call
      s.sql("CALL graft_cat.system.add_generated_column('db.gen55', " +
        "'o_year', 'BIGINT', 'CAST(year(o_orderdate) AS BIGINT)')")
      // new inserts omit the column -> computed map-side at write
      s.sql("INSERT INTO graft_cat.db.gen55 (o_orderkey, o_totalprice, " +
        "o_orderdate) SELECT o_orderkey, o_totalprice, o_orderdate " +
        "FROM qc55_orders WHERE o_orderkey % 2 = 1")
      def refused(sql: String, needle: String): Boolean =
        try { s.sql(sql); false }
        catch {
          case e: Exception =>
            Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
              .take(10).exists(c =>
                Option(c.getMessage).exists(_.contains(needle)))
        }
      // a divergent explicit value fails before any version commits
      val rejectedDivergent = refused(
        "INSERT INTO graft_cat.db.gen55 VALUES " +
          "(-7, 1.0D, TIMESTAMP'1995-06-01 00:00:00', 1994)",
        "generated column")
      // re-pointing the expression at one the rows DIVERGE from is
      // refused by the adoption scan (the ADD CONSTRAINT contract)
      val adoptRefused = refused(
        "ALTER TABLE graft_cat.db.gen55 SET TBLPROPERTIES " +
          "('graft.generated.o_year' = 'CAST(year(o_orderdate) + 1 AS BIGINT)')",
        "existing rows diverge")
      // UNSET demotes to plain: the same divergent row now lands
      s.sql("ALTER TABLE graft_cat.db.gen55 UNSET TBLPROPERTIES " +
        "('graft.generated.o_year')")
      val acceptedAfterUnset =
        try {
          s.sql("INSERT INTO graft_cat.db.gen55 VALUES " +
            "(-1, 0.0D, TIMESTAMP'1990-01-01 00:00:00', 9999)")
          true
        } catch { case _: Exception => false }
      s.table("graft_cat.db.gen55")
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .withColumn("rejected_divergent", lit(rejectedDivergent))
        .withColumn("adopt_divergent_refused", lit(adoptRefused))
        .withColumn("accepted_after_unset", lit(acceptedAfterUnset))
        .orderBy("o_year")
    },

    // --- register_files EXTERNAL IMPORT (the copy arm): parquet files
    //     in a landing zone OUTSIDE the table root are copy-verified
    //     (md5, staged-rename) into a fresh import-* scratch dir — as
    //     ONE Spark job above the size threshold, the distcp shape (the
    //     gate pins the threshold to 1 byte so the distributed path is
    //     what actually ran) — then EXACTLY that list is adopted as one
    //     append commit. Source files are never touched; a re-CALL
    //     adopts nothing (already-referenced names drop out) ---
    "qc56_register_import" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.imp56")
      val ext = graft.core.TempDirs.create("graft_ext56_")
      Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .repartition(4)
        .write.mode("overwrite").parquet(ext)
      def extParquet(): Seq[String] = {
        val fs = graft.core.LakeStorage.openFor(ext)
        fs.listStatus(new org.apache.hadoop.fs.Path(ext)).toSeq
          .map(_.getPath.getName).filter(_.endsWith(".parquet")).sorted
      }
      val before = extParquet()
      // adoption targets tables over externally-produced files -> a
      // LOCATION table (catalog-born tables are column-mapped and refuse
      // id-less imports, the loud guard the spec pins)
      val loc56 = graft.core.TempDirs.create("graft_imp56_")
      s.sql("CREATE TABLE graft_cat.db.imp56 (doc_id BIGINT, lang STRING, " +
        s"n_chars BIGINT) USING manifest LOCATION '$loc56'")
      val prev = s.conf.getOption("spark.graft.clone.distributedThresholdBytes")
      val added =
        try {
          s.conf.set("spark.graft.clone.distributedThresholdBytes", "1")
          s.sql("CALL graft_cat.system.register_files('db.imp56', " +
            s"source_dir => '$ext')").collect()(0).getLong(1)
        } finally prev match {
          case Some(v) => s.conf.set("spark.graft.clone.distributedThresholdBytes", v)
          case None => s.conf.unset("spark.graft.clone.distributedThresholdBytes")
        }
      val again = s.sql("CALL graft_cat.system.register_files('db.imp56', " +
        s"source_dir => '$ext')").collect()(0).getLong(1)
      s.table("graft_cat.db.imp56")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"))
        .withColumn("adopted_all", lit(added == before.length.toLong))
        .withColumn("source_intact", lit(extParquet() == before))
        .withColumn("reimport_noop", lit(again == 0L))
        .orderBy("lang")
    },

    // --- MERGE ... WHEN NOT MATCHED BY SOURCE (all three arm families
    //     on BOTH manifest DML paths): the arm a CDC replica needs to
    //     drop/age target rows absent from the source. Spark 4.1's
    //     analyzer plans the by-source arms against the same row-level
    //     contracts — group-based copy-on-write, and merge-on-read
    //     SupportsDelta (where the structural boolean proves the merge
    //     never rewrote a pre-merge data file: updates/deletes land as
    //     new rows + deletion vectors) ---
    "qc50_merge_by_source" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      Tables.documents(s, d).createOrReplaceTempView("qc50_documents")
      s.sql("SELECT doc_id, lang, n_chars * 2 AS n_chars FROM qc50_documents " +
        "WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT doc_id + 3000000, 'zz', CAST(7 AS BIGINT) " +
        "FROM qc50_documents WHERE doc_id % 40 = 0")
        .createOrReplaceTempView("qc50_src")
      val results = Seq(
        "cow" -> "",
        "mor" -> " TBLPROPERTIES ('graft.dml.mode'='merge-on-read')"
      ).map { case (mode, props) =>
        s.sql(s"DROP TABLE IF EXISTS graft_cat.db.mbs_$mode")
        s.sql(s"CREATE TABLE graft_cat.db.mbs_$mode " +
          s"(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest$props")
        s.sql(s"INSERT INTO graft_cat.db.mbs_$mode " +
          "SELECT doc_id, lang, n_chars FROM qc50_documents")
        val dir = s.sql(s"SHOW TBLPROPERTIES graft_cat.db.mbs_$mode").collect()
          .find(_.getString(0) == "graft.location").get.getString(1)
        val before = graft.core.ManifestTable.state(dir,
          graft.core.ManifestTable.currentVersion(dir).get).files.toSet
        s.sql(s"""MERGE INTO graft_cat.db.mbs_$mode t USING qc50_src s
                  ON t.doc_id = s.doc_id
                  WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
                  WHEN NOT MATCHED THEN INSERT *
                  WHEN NOT MATCHED BY SOURCE AND t.lang = 'de' THEN DELETE
                  WHEN NOT MATCHED BY SOURCE AND t.lang = 'fr'
                    THEN UPDATE SET n_chars = 0""")
        val after = graft.core.ManifestTable.state(dir,
          graft.core.ManifestTable.currentVersion(dir).get).files.toSet
        // merge-on-read: by-source arms ride the delta path — no
        // pre-merge data file is ever rewritten away
        val morUntouched = mode == "cow" || before.subsetOf(after)
        s.table(s"graft_cat.db.mbs_$mode")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").cast("long").as("total_chars"))
          .withColumn("mode", lit(mode))
          .withColumn("mor_originals_untouched", lit(morUntouched))
      }
      results.reduce(_ unionAll _)
        .select("mode", "lang", "n_docs", "total_chars", "mor_originals_untouched")
        .orderBy("mode", "lang")
    },

    // --- grouped metadata aggregation (ManifestScanBuilder
    //     servableMetadataAgg, GROUP BY arm): when every file is
    //     CONSTANT in the group columns (the per-source/per-partition
    //     append layout), a grouped count/min/max is a driver-side fold
    //     of per-file stats served as one local row per group — the
    //     partition-stats query (`SELECT lang, count(*) GROUP BY lang`)
    //     with zero file opens at any file count ---
    "qc39_grouped_metadata_agg" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.mg39")
      s.sql("CREATE TABLE graft_cat.db.mg39 " +
        "(lang STRING, doc_id BIGINT, n_chars BIGINT) USING manifest")
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars"))
      // one commit per language: every file is lang-constant (a handful
      // of langs — the driver-side loop is metadata-sized)
      val langs = docs.select("lang").distinct().collect()
        .map(_.getString(0)).sorted
      langs.foreach { l =>
        docs.filter(col("lang") === l).writeTo("graft_cat.db.mg39").append()
      }
      val g = s.sql("SELECT lang, count(*) AS n_docs, " +
        "min(doc_id) AS min_id, max(doc_id) AS max_id, " +
        "CAST(count(n_chars) AS BIGINT) AS n_chars_nonnull " +
        "FROM graft_cat.db.mg39 GROUP BY lang")
      val rows = g.collect() // evidence reads THIS execution
      val plan = g.queryExecution.executedPlan.toString
      val served = plan.contains("LocalTableScan") && !plan.contains("BatchScan")
      import scala.jdk.CollectionConverters._
      s.createDataFrame(
        rows.map(r => org.apache.spark.sql.Row(
          r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), served)).toSeq.asJava,
        org.apache.spark.sql.types.StructType(g.schema.fields :+
          org.apache.spark.sql.types.StructField("served_from_log",
            org.apache.spark.sql.types.BooleanType, nullable = false)))
    },

    // --- runtime (join-driven) file pruning: a DIMENSION filter's
    //     surviving join keys reach the manifest fact scan as a runtime
    //     filter (Spark's dynamic-pruning subquery over the reused
    //     broadcast), and the scan drops every fact FILE the log's
    //     min/max stats exclude — never opened, no footer read. The
    //     star-join 100 TB lever when the predicate lives on the
    //     dimension, not the fact. Booleans are execution facts; the
    //     join aggregate replays as a plain filter in the oracle ---
    "qc37_runtime_file_pruning" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.rtp37")
      s.sql("CREATE TABLE graft_cat.db.rtp37 " +
        "(doc_id BIGINT, n_chars BIGINT) USING manifest")
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      // 8 single-file commits with disjoint doc_id ranges (a clustered fact)
      val width = docs.agg(max("doc_id")).head().getLong(0) / 8 + 1
      (0 until 8).foreach { i =>
        docs.filter(col("doc_id") >= i * width && col("doc_id") < (i + 1) * width)
          .coalesce(1).writeTo("graft_cat.db.rtp37").append()
      }
      // scan-backed dimension filtered on a NON-join attribute (the classic
      // star shape: filter d_attr, join d_id) — nothing for static
      // constraint propagation to infer onto the fact side, so only the
      // RUNTIME filter (the dim's surviving keys, 0..59 at every scale
      // factor, all in the first fact file) can prune fact files
      val dimDir = graft.core.TempDirs.create("graft_qc37_dim_")
      docs.select(col("doc_id").as("d_id"), col("doc_id").as("d_attr"))
        .write.mode("overwrite").parquet(dimDir)
      val dim = s.read.parquet(dimDir).filter(col("d_attr") < 60).select("d_id")
      val joined = s.table("graft_cat.db.rtp37")
        .join(broadcast(dim), col("doc_id") === col("d_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"))
      // collect() executes THIS DataFrame's own QueryExecution — the plan
      // inspected below (head() would plan a separate limit(1) execution
      // with its own scan instance, and the evidence would read an
      // un-executed plan)
      val agg = joined.collect()(0)
      // the EXECUTED adaptive plan wraps materialized stages in leaf
      // QueryStageExec nodes — descend into them to reach the fact scan
      def scans(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
        p.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scans(a.executedPlan)
        }.flatten
      val factScans = scans(joined.queryExecution.executedPlan)
        .filter(_.scan.isInstanceOf[graft.catalog.ManifestStreamScan])
      val attached = factScans.exists(_.runtimeFilters.nonEmpty)
      val pruned = factScans.headOption.exists { b =>
        val ms = b.scan.asInstanceOf[graft.catalog.ManifestStreamScan]
        ms.runtimeScan.fileIndex.inputFiles.length < ms.plannedFiles.length
      }
      Seq((attached, pruned, agg.getLong(0), agg.getLong(1)))
        .toDF("runtime_filter_attached", "files_runtime_pruned",
          "n_docs", "total_chars")
    },

    // --- metadata-only COUNT(*) (ManifestScanBuilder.pushAggregation):
    //     an unfiltered, ungrouped count is a driver-side sum of the
    //     log's per-file row counts served as a one-row LocalScan — zero
    //     file opens, zero footer reads, O(1) jobs; what keeps
    //     `SELECT count(*)` instant on a 10⁵-file table (the level above
    //     parquet's own count pushdown, which still opens every footer).
    //     Time travel counts the snapshot; a pending deletion vector
    //     disables the fast path (stored rows ≠ live rows) and the
    //     row-address read stays exact ---
    "qc38_metadata_count" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.mc38")
      Tables.documents(s, d).createOrReplaceTempView("qc38_documents")
      s.sql("CREATE TABLE graft_cat.db.mc38 " +
        "(doc_id BIGINT, n_chars BIGINT) USING manifest " +
        "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
      s.sql("INSERT INTO graft_cat.db.mc38 SELECT doc_id, n_chars " +
        "FROM qc38_documents WHERE doc_id < 150")                        // v1
      s.sql("INSERT INTO graft_cat.db.mc38 SELECT doc_id, n_chars " +
        "FROM qc38_documents WHERE doc_id >= 150")                       // v2
      def run(sql: String): (Long, String) = {
        val df = s.sql(sql)
        val n = df.collect()(0).getLong(0) // evidence reads THIS execution
        (n, df.queryExecution.executedPlan.toString)
      }
      val (nTotal, pTotal) = run("SELECT count(*) FROM graft_cat.db.mc38")
      val (nSnap, pSnap) =
        run("SELECT count(*) FROM graft_cat.db.mc38 VERSION AS OF 1")
      val mm = s.sql("SELECT min(doc_id) AS mn, max(doc_id) AS mx, " +
        "count(doc_id) AS c FROM graft_cat.db.mc38")
      val mmRow = mm.collect()(0)
      val mmPlan = mm.queryExecution.executedPlan.toString
      val servedFromLog =
        pTotal.contains("LocalTableScan") && !pTotal.contains("BatchScan") &&
          pSnap.contains("LocalTableScan") && !pSnap.contains("BatchScan") &&
          mmPlan.contains("LocalTableScan") && !mmPlan.contains("BatchScan")
      // a pending vector: COUNT(*) stays metadata-only (the log records
      // each vector's exact cardinality), MIN/MAX fall back to a real read
      s.sql("DELETE FROM graft_cat.db.mc38 WHERE doc_id % 7 = 3")
      val (nAfter, pAfter) = run("SELECT count(*) FROM graft_cat.db.mc38")
      val dvCountServed = pAfter.contains("LocalTableScan")
      val mnAfter = s.sql("SELECT min(doc_id) FROM graft_cat.db.mc38")
      val dvMinFellBack =
        !mnAfter.queryExecution.executedPlan.toString.contains("LocalTableScan") &&
          mnAfter.collect()(0).getLong(0) == 0L // %7==3 spares doc_id 0
      Seq((servedFromLog, dvCountServed, dvMinFellBack,
          nTotal, nSnap, mmRow.getLong(0), mmRow.getLong(1), mmRow.getLong(2),
          nAfter))
        .toDF("metadata_agg_served", "dv_count_served", "dv_min_fell_back",
          "n_total", "n_snapshot", "min_id", "max_id", "n_ids",
          "n_after_delete")
    },

    // --- snapshot tags (ManifestTable.tag + VERSION AS OF '<name>'):
    //     a named, vacuum-RETAINED snapshot — the training-data-release
    //     primitive. The tag is created before more writes and a DELETE,
    //     then vacuum truncates untagged history; the tagged read must
    //     still serve the full original snapshot while the current read
    //     serves the post-DELETE state. Both aggregates replay exactly ---
    "qc32_snapshot_tags" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.tagged")
      Tables.documents(s, d).createOrReplaceTempView("qc32_documents")
      s.sql("CREATE TABLE graft_cat.db.tagged " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest")
      s.sql("INSERT INTO graft_cat.db.tagged SELECT doc_id, lang, n_chars " +
        "FROM qc32_documents WHERE doc_id < 150")                        // v1
      val tagRow = s.sql("CALL graft_cat.system.tag('db.tagged', 'base')").head()
      s.sql("INSERT INTO graft_cat.db.tagged SELECT doc_id, lang, n_chars " +
        "FROM qc32_documents WHERE doc_id >= 150")                       // v2
      s.sql("DELETE FROM graft_cat.db.tagged WHERE doc_id % 5 = 0")      // v3
      s.sql("CALL graft_cat.system.vacuum('db.tagged', keep => 2, " +
        "orphan_retain_ms => 0)")
      val atTag = s.sql("SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS c " +
        "FROM graft_cat.db.tagged VERSION AS OF 'base'").head()
      val now = s.sql("SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS c " +
        "FROM graft_cat.db.tagged").head()
      val refs = s.sql("SELECT count(*) FROM graft_cat.db.tagged.refs").head().getLong(0)
      Seq((tagRow.getLong(1), refs, atTag.getLong(0), atTag.getLong(1),
          now.getLong(0), now.getLong(1)))
        .toDF("tag_version", "n_refs", "rows_at_tag", "chars_at_tag",
          "rows_current", "chars_current")
    },

    // --- branch refs / write-audit-publish (core/ManifestTable branch
    //     section, catalog procedures branch/fast_forward): stage writes
    //     on a branch under the session's graft.wap.branch conf, audit
    //     them there (main provably untouched), quality-gate with DML ON
    //     THE BRANCH, then publish atomically — carrying a concurrent
    //     main append (the table-granularity generalization of the
    //     reference's fail-fast publish contract,
    //     DatalakePublishService.kt:79-88) ---
    "qc33_branch_wap" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.wap33")
      Tables.documents(s, d).createOrReplaceTempView("qc33_documents")
      s.sql("CREATE TABLE graft_cat.db.wap33 " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING manifest")
      s.sql("INSERT INTO graft_cat.db.wap33 SELECT doc_id, lang, n_chars " +
        "FROM qc33_documents WHERE doc_id < 100")                      // main v1
      s.sql("CALL graft_cat.system.branch('db.wap33', 'ingest')")
      s.conf.set(graft.catalog.GraftCatalog.WapBranchConf, "ingest")
      val (branchAtAudit, mainDuringStage) =
        try {
          // stage the rest of the corpus ON THE BRANCH...
          s.sql("INSERT INTO graft_cat.db.wap33 SELECT doc_id, lang, n_chars " +
            "FROM qc33_documents WHERE doc_id >= 100")
          // ...and quality-gate it there: DML commits to the branch log
          s.sql("DELETE FROM graft_cat.db.wap33 WHERE doc_id % 7 = 0")
          val audit = s.sql("SELECT count(*) FROM graft_cat.db.wap33")
            .head().getLong(0)
          // main is provably untouched while staging (read OUTSIDE the
          // wap view via explicit numeric time travel of the main log)
          val main = s.sql("SELECT count(*) FROM graft_cat.db.wap33 VERSION AS OF 1")
            .head().getLong(0)
          (audit, main)
        } finally s.conf.unset(graft.catalog.GraftCatalog.WapBranchConf)
      // a concurrent main append lands between audit and publish; the
      // publish must carry it (write-serializable rebase over appends)
      s.sql("INSERT INTO graft_cat.db.wap33 " +
        "SELECT 1000000 + id, 'xx', id FROM range(5)")
      s.sql("CALL graft_cat.system.fast_forward('db.wap33', 'ingest')")
      val pub = s.sql("SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS c " +
        "FROM graft_cat.db.wap33").head()
      Seq((mainDuringStage, branchAtAudit, pub.getLong(0), pub.getLong(1)))
        .toDF("main_during_stage", "branch_at_audit",
          "published_rows", "published_chars")
    },

    // --- bloom-filter indexes (GraftCatalog.BloomColsProp): declared
    //     columns get parquet blooms baked into every data file — the
    //     skip primitive for point lookups on high-cardinality UNSORTED
    //     columns (dedup hashes), which min/max stats can never prune
    //     (every file spans the full hash range). Structural proof: every
    //     snapshot file's footer carries the bloom for the declared
    //     column and none for the others; lookups replay exactly ---
    "qc34_bloom_index" -> { (s, d) =>
      import s.implicits._
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.bloom34")
      Tables.documents(s, d).createOrReplaceTempView("qc34_documents")
      s.sql("CREATE TABLE graft_cat.db.bloom34 " +
        "(doc_id BIGINT, h STRING, n_chars BIGINT) USING manifest " +
        s"TBLPROPERTIES ('${graft.catalog.GraftCatalog.BloomColsProp}'='h')")
      s.sql("INSERT INTO graft_cat.db.bloom34 " +
        "SELECT doc_id, md5(CAST(doc_id AS STRING)), n_chars FROM qc34_documents")
      // structural: every snapshot file blooms h, none blooms n_chars
      val dir = s.sql("SHOW TBLPROPERTIES graft_cat.db.bloom34").collect()
        .find(_.getString(0) == "graft.location").get.getString(1)
      val st = graft.core.ManifestTable.state(dir,
        graft.core.ManifestTable.currentVersion(dir).get)
      def hasBloom(f: String, colName: String): Boolean = {
        import scala.jdk.CollectionConverters._
        val conf = graft.core.LakeStorage.openFor(dir).getConf
        val path = new org.apache.hadoop.fs.Path(s"$dir/$f")
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf),
          org.apache.parquet.HadoopReadOptions.builder(conf, path).build())
        try r.getFooter.getBlocks.asScala.forall(_.getColumns.asScala
          .exists(c => c.getPath.toDotString == colName && c.getBloomFilterOffset >= 0))
        finally r.close()
      }
      val allBloomed = st.files.nonEmpty && st.files.forall(hasBloom(_, "h"))
      val noneUndeclared = st.files.forall(f => !hasBloom(f, "n_chars"))
      // point lookups through the bloom-indexed column
      val hit = s.sql("SELECT CAST(sum(n_chars) AS BIGINT) FROM graft_cat.db.bloom34 " +
        "WHERE h = md5('42')").head()
      val miss = s.sql("SELECT count(*) FROM graft_cat.db.bloom34 " +
        "WHERE h = md5('-1')").head().getLong(0)
      Seq((allBloomed, noneUndeclared,
          if (hit.isNullAt(0)) -1L else hit.getLong(0), miss))
        .toDF("all_files_bloomed", "undeclared_unbloomed", "chars_at_42", "misses")
    },

    // --- metadata tables (catalog/MetadataTables): t.history / t.files
    //     — one row per committed version / per current-snapshot file,
    //     derived purely from commit markers + file status (the DESCRIBE
    //     HISTORY ops surface of the lake formats). Writes use pinned
    //     repartition so file counts are deterministic for the oracle ---
    "qc23_table_history" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.hist")
      val dir = graft.core.TempDirs.create("graft_hist_")
      val docs = Tables.documents(s, d).select("doc_id", "lang")
      graft.core.ManifestTable.write(docs.filter(col("doc_id") < 100).repartition(4), dir)
      graft.core.ManifestTable.append(docs.filter(col("doc_id") >= 100).repartition(6), dir)
      s.sql("CREATE TABLE graft_cat.db.hist (doc_id BIGINT, lang STRING) " +
        s"USING manifest LOCATION '$dir'")
      s.sql("""SELECT h.version, h.n_files, h.added_files,
          (SELECT count(*) FROM graft_cat.db.hist) AS current_rows,
          (SELECT count(*) FROM graft_cat.db.hist.files) AS current_files
        FROM graft_cat.db.hist.history h ORDER BY h.version""")
    },

    // --- DDL schema evolution (catalog/GraftCatalog.alterTable): ALTER
    //     TABLE ADD COLUMNS appends a nullable column; files written
    //     before the alter null-fill it on read (parquet missing-column
    //     contract), files after carry it — the catalog-table twin of
    //     qc15's mergeSchema read. RENAME COLUMN is METADATA-ONLY via
    //     column mapping (parquet field ids assigned at CREATE, resolved
    //     on read): both pre- and post-alter files — written under the
    //     OLD name — serve the renamed column with no rewrite; the final
    //     aggregate reads every file through the new name ---
    "qc22_schema_evolution" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.evo")
      Tables.documents(s, d).createOrReplaceTempView("qc22_documents")
      s.sql("CREATE TABLE graft_cat.db.evo (doc_id BIGINT, lang STRING, " +
        "score INT) USING manifest")
      s.sql("INSERT INTO graft_cat.db.evo SELECT doc_id, lang, " +
        "CAST(n_chars % 1000 AS INT) FROM qc22_documents WHERE doc_id < 200")
      s.sql("ALTER TABLE graft_cat.db.evo ADD COLUMNS (n_chars BIGINT)")
      s.sql("INSERT INTO graft_cat.db.evo SELECT doc_id, lang, " +
        "CAST(n_chars % 1000 AS INT), n_chars " +
        "FROM qc22_documents WHERE doc_id >= 200")
      // TYPE WIDENING: the INT32 history serves the BIGINT schema on read
      // (no rewrite); the next insert carries genuinely 64-bit scores
      s.sql("ALTER TABLE graft_cat.db.evo ALTER COLUMN score TYPE BIGINT")
      s.sql("INSERT INTO graft_cat.db.evo " +
        "SELECT 2000000 + id, 'wide', 3000000000 + id, id FROM range(3)")
      s.sql("ALTER TABLE graft_cat.db.evo RENAME COLUMN n_chars TO chars")
      s.sql("ALTER TABLE graft_cat.db.evo RENAME COLUMN lang TO language")
      s.sql("""SELECT language, count(*) AS n_docs,
          count(chars) AS n_with_chars, sum(chars) AS total_chars,
          sum(score) AS total_score,
          (SELECT count(*) FROM graft_cat.db.evo VERSION AS OF 1) AS rows_v1
        FROM graft_cat.db.evo GROUP BY language ORDER BY language""")
    },

    // --- schema evolution on read (mergeSchema): a later batch adds a
    //     column; the merged scan unions the schemas and nulls the column
    //     for old files — the lake's schema-drift-over-time contract ---
    "qc15_schema_merge" -> { (s, d) =>
      val out = graft.core.TempDirs.create("graft_sm_")
      val nation = Tables.nation(s, d)
      nation.select("n_nationkey", "n_name")
        .write.mode("overwrite").parquet(s"$out/batch=1")
      nation.select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").parquet(s"$out/batch=2")
      val merged = s.read.option("mergeSchema", "true").parquet(out)
      merged.agg(
        count(lit(1)).as("n_rows"),
        count(col("n_regionkey")).as("n_with_region"),
        lit(merged.columns.length).as("n_cols"))
    },

    // --- partitioned batch write + partition-pruned scan-back ---
    "qc10_partitioned_write" -> { (s, d) =>
      val out = graft.core.TempDirs.create("graft_part_")
      Tables.orders(s, d)
        .withColumn("yr", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("yr").parquet(out)
      // the filter on the partition column prunes directories at planning
      s.read.parquet(out)
        .filter(col("yr") === 1996)
        .agg(count(lit(1)).as("n_1996"),
          round(sum("o_totalprice"), 2).as("total_1996"))
    },

    // --- right outer join ---
    "q25_right_join" -> { (s, d) =>
      val jumbo = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      val cust = Tables.customer(s, d)
      jumbo.join(cust, jumbo("o_custkey") === cust("c_custkey"), "right")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_jumbo"))
        .filter(col("n_jumbo") > 0)
        .orderBy("c_custkey")
    },

    // --- secondary aggregates: bool_and/bool_or (A10), first/last over
    //     sorted input, collect_set, ntile window ---
    "q26_misc_aggs" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("bool_and(l_quantity > 0)").as("all_positive"),
          expr("bool_or(l_discount >= 0.09)").as("any_high_discount"),
          min_by(col("l_orderkey"), struct(col("l_shipdate"), col("l_orderkey"))).as("earliest_order"),
          max_by(col("l_orderkey"), struct(col("l_shipdate"), col("l_orderkey"))).as("latest_order"),
          array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"))
        .orderBy("l_returnflag")
    },

    "q27_ntile_window" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .withColumn("quartile", ntile(4).over(w))
        .groupBy("quartile")
        .agg(count(lit(1)).as("n"),
          round(min("c_acctbal"), 2).as("min_bal"),
          round(max("c_acctbal"), 2).as("max_bal"))
        .orderBy("quartile")
    },

    // --- approximate aggregates (HLL++/quantile sketch), ORACLE-CHECKED:
    //     sketch outputs differ across engines, so the gate row carries the
    //     EXACT aggregates bit-exactly plus in-query booleans asserting the
    //     approximations' error bounds (HLL++ within its 5% default rsd;
    //     the approx median between the exact 48th and 52nd percentiles —
    //     far looser than percentile_approx's n/10000 rank guarantee). The
    //     oracle replays the exact columns and TRUE for the bounds, so a
    //     drifting sketch FAILS the hash gate; quantitative accuracy is
    //     additionally asserted in FunctionsSpec ---
    "q28_approx_aggs" -> { (s, d) =>
      // plan note: countDistinct rides a separate aggregation from the
      // percentile family — mixing a distinct agg with ObjectHashAggregate
      // percentiles in one groupBy forces an Expand (x2 rows) INTO the
      // sort-based object aggregate; split, the distinct path stays in
      // whole-stage-codegen hash aggs and the exact percentiles (one call,
      // both points) see the data once. The 3-row join broadcasts.
      val li = graft.core.Parallelism.fanOut(Tables.lineitem(s, d))
      // the 15% bound is 3 sigma of the default rsd (0.05): the old 5%
      // bound was ~1 sigma — a deterministic-per-dataset estimate could
      // sit persistently outside it at an untested scale factor with no
      // regression anywhere. (A tighter rsd=0.01 sketch was measured at
      // +2.7 s on sf0.1 — p jumps 9->14, ~21 KB HLL buffers per group —
      // so the slack goes in the bound, not the sketch.) The
      // greatest(2,...) floor covers near-empty groups, as q57 does.
      val distincts = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey")).as("approx_raw"))
      val pcts = li.groupBy("l_returnflag")
        .agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("apx_med"),
          expr("percentile(l_extendedprice, array(0.48, 0.52))").as("p_lo_hi"))
      distincts.join(pcts, "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_raw") - col("exact_parts")) <=
            greatest(lit(2), col("exact_parts") * lit(0.15))).as("approx_parts_ok"),
          col("apx_med").between(col("p_lo_hi").getItem(0), col("p_lo_hi").getItem(1))
            .as("approx_median_ok"))
        .orderBy("l_returnflag")
    },

    // --- map construction / extraction / explode ---
    "q29_map_funcs" -> { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_partkey") <= 100)
        .withColumn("attrs", map(
          lit("brand"), col("p_brand"),
          lit("type"), col("p_type")))
        .select(col("p_partkey"),
          element_at(col("attrs"), "brand").as("brand"),
          map_keys(col("attrs")).getItem(0).as("first_key"),
          size(col("attrs")).as("n_attrs"))
        .orderBy("p_partkey")
    },

    // --- SQL front door: same Catalyst plan via spark.sql over temp views ---
    "q31_sql_frontdoor" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderpriority, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM orders_v
        WHERE EXISTS (SELECT 1 FROM lineitem_v
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },

    // --- engine functions callable from SQL (vec_dot/cosine_sim registry) ---
    "q32_sql_vector_funcs" -> { (s, d) =>
      graft.functions.GraftFunctions.registerAll(s)
      Tables.embeddings(s, d).createOrReplaceTempView("emb_v")
      s.sql("""
        SELECT a.vec_id, round(cosine_sim(a.embedding, b.embedding), 6) AS cos_to_0,
               round(vec_norm(a.embedding), 6) AS nrm
        FROM emb_v a JOIN emb_v b ON b.vec_id = 0
        WHERE a.vec_id < 100 ORDER BY a.vec_id""")
    },

    // --- SQL-callable TABLE function (custom Catalyst Generator planned as
    //     Generate, streaming one row per n-gram): the UDTF surface. 4-grams
    //     so the result is disjoint from qt04's native-transform bigrams ---
    "qg01_sql_table_function" -> { (s, d) =>
      graft.functions.GraftFunctions.registerAll(s)
      Tables.documents(s, d).createOrReplaceTempView("docs_v")
      s.sql("""
        SELECT ngram, count(*) AS cnt, min(doc_id) AS first_doc,
               CAST(min(pos) AS INT) AS min_pos
        FROM docs_v LATERAL VIEW ngrams_table(text, 4) g AS pos, ngram
        GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 20""")
    },

    // --- window frames: RANGE BETWEEN (value-based) + lead ---
    "q33_range_frame" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_custkey") < 50)
        .withColumn("near_sum",
          round(sum(col("o_totalprice")).over(w.rangeBetween(-100, 0)), 2))
        .withColumn("next_key", lead(col("o_orderkey"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))))
        .select(col("o_custkey"), col("o_orderkey"), col("near_sum"), col("next_key"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // --- set operations with bag semantics: INTERSECT ALL / EXCEPT ALL ---
    "q34_setops_all" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val a = li.filter(col("l_quantity") >= 25).select("l_orderkey")
      val b = li.filter(col("l_discount") >= 0.05).select("l_orderkey")
      val ia = a.intersectAll(b).groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        .withColumn("op", lit("intersect_all"))
      val ea = a.exceptAll(b).groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        .withColumn("op", lit("except_all"))
      ia.unionByName(ea).orderBy("op", "l_orderkey")
    },

    // --- array function family: slice / contains / HOF filter / sort ---
    "q35_array_funcs" -> { (s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("t"))
        .select(
          col("doc_id"),
          array_join(slice(col("t"), 1, 3), " ").as("head3"),
          array_contains(col("t"), "spark").as("has_spark"),
          size(filter(col("t"), x => length(x) > 5)).as("n_long_tokens"),
          element_at(array_sort(array_distinct(col("t"))), 1).as("first_alpha"),
          reverse(array_sort(array_distinct(col("t")))).getItem(0).as("last_alpha"))
        .orderBy("doc_id")
    },

    // --- TF-IDF-lite: top term per document by tf * ln(N/df) ---
    "q36_tfidf" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val n = docs.count()
      val toks = graft.core.Parallelism.fanOut(docs).select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df_ = toks.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score_raw").desc, col("term"))
      tf.join(broadcast(df_), "term")
        .withColumn("score_raw", col("tf") * log(lit(n.toDouble) / col("df")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("doc_id") < 100)
        .select(col("doc_id"), col("term").as("top_term"),
          round(col("score_raw"), 6).as("tfidf"))
        .orderBy("doc_id")
    },

    // --- explicit GROUPING SETS (beyond rollup/cube) ---
    "q37_grouping_sets" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("q37_lineitem")
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS flag,
               coalesce(l_linestatus, 'ALL') AS status,
               count(*) AS n, round(sum(l_extendedprice), 2) AS total
        FROM q37_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY flag, status""")
    },

    // --- JSON family closure: to_json / json_tuple ---
    "q38_json_advanced" -> { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") < 200)
        .select(col("event_id"), col("event_type"), col("props"))
        .select(
          col("event_id"),
          to_json(struct(col("event_id").as("id"), col("event_type").as("t"))).as("packed"),
          json_tuple(col("props"), "k").as("k_str"))
        .withColumn("k", col("k_str").cast("bigint")).drop("k_str")
        .orderBy("event_id")
    },

    // --- null-safe equality (<=>) ---
    "q30_null_safe_eq" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("maybe_val",
          when(col("event_type") === "error", col("value")))
      ev.as("a").join(ev.as("b"),
          col("a.user_id") === col("b.user_id") &&
          col("a.maybe_val") <=> col("b.maybe_val") &&
          col("a.event_id") < col("b.event_id"))
        .filter(col("a.event_id") < 100)
        .groupBy(col("a.event_id").as("event_id"))
        .agg(count(lit(1)).as("n_null_safe_matches"))
        .orderBy("event_id")
    }
  )

  override val oracle: Map[String, String] = Map(
    "qc08_csv_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",

    "qc16_custom_source" ->
      """SELECT lang AS key, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents WHERE lang IN ('en', 'de')
         GROUP BY lang ORDER BY key""",

    "qc17_custom_sink_roundtrip" ->
      """SELECT lang AS key, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS first_doc
         FROM documents GROUP BY lang ORDER BY key""",

    "qc09_json_scan" ->
      """SELECT * FROM (VALUES
         ('a', CAST(1 AS BIGINT), false),
         ('b', 2, false),
         ('c', NULL, false),
         (CAST(NULL AS VARCHAR), NULL, true)) t(id, n, is_corrupt)
         ORDER BY id NULLS LAST""",

    "qc11_orc_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
         FROM orders WHERE o_totalprice > 100000
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "qc12_compaction" ->
      """SELECT true AS many_small_before, true AS fewer_after,
         true AS rows_preserved""",

    "qg01_sql_table_function" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         g AS (SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(t)-3),
                   i -> {'pos': i-1,
                         'ngram': t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]})) AS s
               FROM t WHERE len(t) >= 4)
         SELECT s.ngram AS ngram, count(*) AS cnt, min(doc_id) AS first_doc,
           CAST(min(s.pos) AS INTEGER) AS min_pos
         FROM g GROUP BY 1 ORDER BY cnt DESC, ngram LIMIT 20""",

    "qc19_clustered_write" ->
      """SELECT lang AS key, CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(*) AS n_docs
         FROM documents GROUP BY 1 ORDER BY 1""",

    "qc20_runtime_filter_join" ->
      """SELECT lang AS key, CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(len(lang) AS BIGINT) AS w
         FROM documents WHERE lang IN ('en', 'de')
         GROUP BY lang ORDER BY 1""",

    "qc18_sql_catalog" ->
      """SELECT
           (SELECT count(*) FROM documents WHERE doc_id < 100) AS rows_v1,
           (SELECT count(*) FROM documents) AS rows_current,
           (SELECT count(DISTINCT lang) FROM documents) AS langs_v2,
           CAST((SELECT sum(n_chars) FROM documents WHERE lang = 'en') AS BIGINT)
             AS en_metric_sum,
           (SELECT count(*) FROM documents) AS klog_rows""",

    "qc21_sql_dml" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
         after_del AS (
           SELECT * FROM base WHERE lang <> 'zh' AND doc_id % 10 <> 3),
         after_upd AS (
           SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN n_chars + 1000 ELSE n_chars END AS n_chars
           FROM after_del),
         src AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 100 = 0),
         merged AS (
           SELECT t.doc_id, t.lang, t.n_chars + coalesce(s.n_chars, 0) AS n_chars
           FROM after_upd t LEFT JOIN src s ON t.doc_id = s.doc_id),
         inserted AS (
           SELECT s.doc_id + 1000000 AS doc_id, 'xx' AS lang, s.n_chars
           FROM src s LEFT JOIN after_upd t ON t.doc_id = s.doc_id
           WHERE t.doc_id IS NULL),
         final AS (SELECT * FROM merged UNION ALL SELECT * FROM inserted)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM final GROUP BY lang ORDER BY lang""",

    "qc24_bucketed_tables" ->
      """WITH sm AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS sample_chars
             FROM documents WHERE doc_id % 3 = 0 GROUP BY lang)
         SELECT d.lang, count(*) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
           max(sm.sample_chars) AS sample_chars
         FROM documents d JOIN sm ON d.lang = sm.lang
         GROUP BY d.lang ORDER BY d.lang""",

    "qc27_table_changes" ->
      """SELECT 'delete' AS _change_type, count(*) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents
         UNION ALL
         SELECT 'insert', count(*),
           CAST(sum(n_chars) + 1000 * count(*) AS BIGINT) FROM documents
         ORDER BY _change_type""",

    // adoption commits the even-doc INSERT (v1) plus two one-file imports
    // of the doc_id%4==1 and %4==3 slices (v2); the rerun adopts nothing
    "qc28_register_files" ->
      """SELECT CAST(2 AS BIGINT) AS version_after_adopt,
           CAST(2 AS BIGINT) AS files_adopted,
           CAST(0 AS BIGINT) AS files_adopted_rerun,
           (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS rows_before_adopt,
           (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS rows_v1_time_travel,
           (SELECT count(*) FROM documents) AS rows_after_adopt,
           CAST((SELECT sum(n_chars) FROM documents) AS BIGINT) AS chars_after_adopt""",

    // the tag pins v1 (the doc_id<150 insert); the current state is the
    // full corpus minus the doc_id%5=0 DELETE — vacuum retention of the
    // tagged snapshot is what makes rows_at_tag answerable at all
    "qc32_snapshot_tags" ->
      """SELECT CAST(1 AS BIGINT) AS tag_version, CAST(1 AS BIGINT) AS n_refs,
           (SELECT count(*) FROM documents WHERE doc_id < 150) AS rows_at_tag,
           CAST((SELECT sum(n_chars) FROM documents WHERE doc_id < 150) AS BIGINT)
             AS chars_at_tag,
           (SELECT count(*) FROM documents WHERE doc_id % 5 <> 0) AS rows_current,
           CAST((SELECT sum(n_chars) FROM documents WHERE doc_id % 5 <> 0) AS BIGINT)
             AS chars_current""",

    // the structural booleans are Spark-side footer facts (bloom present
    // on the declared column everywhere, absent elsewhere); the lookups
    // replay over documents directly
    "qc34_bloom_index" ->
      """SELECT true AS all_files_bloomed, true AS undeclared_unbloomed,
           CAST(coalesce((SELECT sum(n_chars) FROM documents WHERE doc_id = 42), -1)
             AS BIGINT) AS chars_at_42,
           CAST(0 AS BIGINT) AS misses""",

    // main during staging = the v1 insert only; the branch audit = the
    // whole corpus minus the quality gate's doc_id%7 delete; publish =
    // that audited state plus the 5-row concurrent main append
    "qc33_branch_wap" ->
      """SELECT
           (SELECT count(*) FROM documents WHERE doc_id < 100) AS main_during_stage,
           (SELECT count(*) FROM documents WHERE doc_id % 7 <> 0) AS branch_at_audit,
           (SELECT count(*) FROM documents WHERE doc_id % 7 <> 0) + 5 AS published_rows,
           CAST((SELECT sum(n_chars) FROM documents WHERE doc_id % 7 <> 0) + 10
             AS BIGINT) AS published_chars""",

    // the vector debts are exact row counts the oracle recomputes from
    // the DML predicates; the structural booleans (file set untouched by
    // DELETE, originals surviving UPDATE) are the merge-on-read contract
    "qc30_deletion_vectors" ->
      """WITH live AS (
           SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN n_chars + 500 ELSE n_chars END AS n_chars
           FROM documents WHERE doc_id % 7 <> 3)
         SELECT CAST(1 AS BOOLEAN) AS files_unchanged_by_delete,
           (SELECT count(*) FROM documents WHERE doc_id % 7 = 3) AS debt_after_delete,
           CAST(1 AS BOOLEAN) AS originals_survive_update,
           (SELECT count(*) FROM documents
             WHERE doc_id % 7 = 3 OR lang = 'en') AS debt_after_update,
           (SELECT count(*) FROM documents
             WHERE doc_id % 7 = 3 OR lang = 'en') AS positions_purged,
           CAST(0 AS BIGINT) AS debt_after_purge,
           (SELECT count(*) FROM live) AS rows_final,
           CAST((SELECT sum(n_chars) FROM live) AS BIGINT) AS chars_final""",

    // three disjoint-date-range inserts into a days()-partitioned table;
    // the window query must prune files (structural boolean) and the
    // aggregate replays exactly
    "qc31_partition_transforms" ->
      """SELECT CAST(1 AS BOOLEAN) AS pruned_some,
           CAST(1 AS BOOLEAN) AS labels_ok,
           count(*) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_key
         FROM orders
         WHERE CAST(o_orderdate AS DATE)
           BETWEEN DATE '1997-06-01' AND DATE '1997-12-31'""",

    // the structural booleans are Spark-side optimizer facts (the served
    // distinct counts sit within HLL error of exact); the aggregate
    // replays over documents
    "qc36_log_ndv" ->
      """SELECT true AS ndv_docid_served, true AS ndv_lang_served,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents""",

    // the structural booleans are Spark-side optimizer facts (histogram
    // served, range estimate sized by the distribution); the aggregate
    // replays the skew mapping over documents
    "qc40_log_histogram" ->
      """SELECT true AS hist_served, true AS est_sized_by_distribution,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN doc_id % 20 = 0 THEN 900 + doc_id % 100
                         ELSE doc_id % 100 END) AS BIGINT) AS sum_k
         FROM documents""",

    // the shard assignment replays as floor((rank-1)/cap) in doc_id
    // order; the aggregates come from the read-back JSONL, so equality
    // proves the export round-trip
    "qc44_shard_export" ->
      """WITH r AS (
           SELECT doc_id, lang, n_chars,
             CAST((row_number() OVER (ORDER BY doc_id) - 1) // 100 AS BIGINT)
               AS shard
           FROM documents)
         SELECT shard, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           min(doc_id) AS min_id, max(doc_id) AS max_id,
           true AS within_cap
         FROM r GROUP BY shard ORDER BY shard""",

    // the booleans are Spark-side enforcement facts (rejected writes,
    // atomicity, property surfacing); the final table replays as the
    // SURVIVING mutations only — every rejected write must have left
    // zero rows behind for the aggregate to match
    "qc45_check_constraints" ->
      """WITH fin AS (
           SELECT lang,
             CASE WHEN doc_id < 10 THEN n_chars + 1000 ELSE n_chars END
               AS n_chars
           FROM documents
           UNION ALL SELECT 'xx', NULL
           UNION ALL SELECT 'yy', -1)
         SELECT true AS insert_rejected, true AS count_stable,
           true AS add_rejected, true AS update_rejected, true AS surfaced,
           lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM fin GROUP BY lang ORDER BY lang""",

    // the booleans are Spark optimizer facts (NDV absent before the
    // backfill, served within HLL error after, second call a no-op);
    // the aggregate replays over documents — a stats-only commit must
    // never change table contents
    "qc47_stats_backfill" ->
      """SELECT true AS ndv_absent_before, true AS backfill_ran,
           true AS backfill_idempotent,
           true AS ndv_docid_served, true AS ndv_lang_served,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents""",

    // pre-evolution rows (doc_id < 150, never touched by the source)
    // must read NULL in the evolved column; matched + inserted rows
    // carry the source's n_chars — the per-lang (count, non-null count,
    // sum) triple pins all three populations
    "qc46_merge_evolution" ->
      """SELECT true AS strict_rejected, lang, count(*) AS n_docs,
           count(CASE WHEN doc_id >= 150 THEN 1 END) AS n_with_extra,
           CAST(sum(CASE WHEN doc_id >= 150 THEN n_chars END) AS BIGINT)
             AS total_chars
         FROM documents GROUP BY lang ORDER BY lang""",

    // the incrementally-maintained aggregate replays as the full
    // recompute over the mutated table (the fold's correctness IS the
    // equality); the boolean is the Spark-side cross-check
    "qc43_incremental_agg" ->
      """WITH cur AS (
           SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN n_chars + 1000 ELSE n_chars END AS n_chars
           FROM documents WHERE doc_id % 7 <> 3)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           true AS incremental_matches_full
         FROM cur GROUP BY lang ORDER BY lang""",

    // the structural booleans are Spark plan facts (the 3-D z-order
    // layout file-prunes on ALL THREE dimensions); the filtered
    // aggregates replay over the deterministic (x, y, z) derivation
    "qc42_zorder_compact" ->
      """WITH rows AS (
           SELECT doc_id * 100 + r AS id,
                  (doc_id * 100 + r) % 1024 AS x,
                  ((doc_id * 100 + r) * 37) % 1024 AS y,
                  ((doc_id * 100 + r) * 59) % 1024 AS z
           FROM documents CROSS JOIN generate_series(0, 99) t(r)
           WHERE doc_id < 500)
         SELECT true AS multi_files, true AS pruned_x, true AS pruned_y,
           true AS pruned_z,
           (SELECT count(*) FROM rows WHERE x < 64) AS n_x,
           (SELECT CAST(sum(id) AS BIGINT) FROM rows WHERE x < 64) AS sum_x,
           (SELECT count(*) FROM rows WHERE y < 64) AS n_y,
           (SELECT CAST(sum(id) AS BIGINT) FROM rows WHERE y < 64) AS sum_y,
           (SELECT count(*) FROM rows WHERE z < 64) AS n_z,
           (SELECT CAST(sum(id) AS BIGINT) FROM rows WHERE z < 64) AS sum_z""",

    // the structural booleans are log facts (only en-stat files selected
    // and merged, every other file entry survived verbatim); compaction
    // must never change contents, so the aggregate replays documents
    "qc48_scoped_compact" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           true AS scope_exact, true AS scoped_merged, true AS others_untouched
         FROM documents GROUP BY lang ORDER BY lang""",

    // replays the default lifecycle: CREATE-time defaults on the omitted
    // columns, SET DEFAULT for the later batch, DROP DEFAULT -> NULL
    "qc49_column_defaults" ->
      """WITH rows AS (
           SELECT 'en' AS lang, 0 AS n_chars FROM documents WHERE lang = 'en'
           UNION ALL SELECT lang, n_chars FROM documents WHERE lang <> 'en'
           UNION ALL SELECT 'xx', n_chars FROM documents WHERE doc_id % 10 = 0
           UNION ALL SELECT NULL, 0 FROM documents WHERE doc_id % 25 = 0)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM rows GROUP BY lang ORDER BY lang""",

    // replace-where replayed as set difference + the replacement batch;
    // the out-of-region batch never lands (violation_rejected = TRUE)
    "qc51_replace_where" ->
      """WITH finals AS (
           SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'en'
           UNION ALL
           SELECT doc_id + 1000000, lang, n_chars * 2
           FROM documents WHERE lang = 'en')
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(max(doc_id) AS BIGINT) AS max_id,
           TRUE AS violation_rejected
         FROM finals GROUP BY lang ORDER BY lang""",

    // the migrated table's content replays as plain filters over
    // documents (insert minus the vectored deletes); the hash-verified
    // copy and pin-freedom are structural booleans
    "qc52_deep_clone" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           TRUE AS copy_verified, TRUE AS pin_free
         FROM documents WHERE doc_id % 10 <> 3
         GROUP BY lang ORDER BY lang""",

    // generated keys are dense 1..n1 (batch a) then n1+1..n1+n2 (batch b)
    // whatever the partition layout, so the aggregates replay from the
    // batch row counts alone; the ALWAYS rejection rides the boolean
    "qc53_identity_keys" ->
      """WITH a AS (SELECT count(*) AS n FROM documents WHERE doc_id % 2 = 0),
            b AS (SELECT count(*) AS n FROM documents WHERE doc_id % 2 = 1)
         SELECT * FROM (
           SELECT 'a' AS batch, CAST(a.n AS BIGINT) AS n_rows,
             CAST(1 AS BIGINT) AS min_key, CAST(a.n AS BIGINT) AS max_key,
             CAST(a.n AS BIGINT) AS n_distinct_keys,
             TRUE AS explicit_rejected
           FROM a
           UNION ALL
           SELECT 'b', CAST(b.n AS BIGINT), CAST(a.n + 1 AS BIGINT),
             CAST(a.n + b.n AS BIGINT), CAST(b.n AS BIGINT), TRUE
           FROM a, b
         ) ORDER BY batch""",

    // both inserts' generated values equal the expressions over the same
    // rows (computed and validated arms are identical by contract), so
    // the whole table replays as one derivation over orders; the
    // rejection and pruning facts ride the booleans
    "qc54_generated_columns" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CASE WHEN o_totalprice >= 200000.0 THEN 'high' ELSE 'low' END AS price_band,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           TRUE AS rejected_divergent, TRUE AS pruned_some
         FROM orders
         GROUP BY 1, 2 ORDER BY o_year, price_band""",

    // the materialized (rewrite) and computed (insert) arms both equal
    // the expression over orders by contract, and the post-UNSET marker
    // row replays as a literal; the three refusal/acceptance facts ride
    // the booleans
    "qc55_generated_evolution" ->
      """SELECT o_year, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           TRUE AS rejected_divergent, TRUE AS adopt_divergent_refused,
           TRUE AS accepted_after_unset
         FROM (
           SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice
           FROM orders
           UNION ALL SELECT 9999, 0.0
         ) GROUP BY o_year ORDER BY o_year""",

    // the import is a verified byte-copy of the landing zone, so the
    // table replays as documents itself; adoption-count, source-intact
    // and reimport-no-op facts ride the booleans
    "qc56_register_import" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           TRUE AS adopted_all, TRUE AS source_intact, TRUE AS reimport_noop
         FROM documents GROUP BY lang ORDER BY lang""",

    // replays all three MERGE arm families (matched update, not-matched
    // insert, and the by-source conditional delete + catch-all update)
    // identically for the copy-on-write and merge-on-read tables; the
    // structural boolean is a log fact
    "qc50_merge_by_source" ->
      """WITH src AS (
           SELECT doc_id, lang, n_chars * 2 AS n_chars FROM documents
           WHERE doc_id % 5 = 0
           UNION ALL
           SELECT doc_id + 3000000, 'zz', 7 FROM documents WHERE doc_id % 40 = 0),
         merged AS (
           SELECT t.lang,
             CASE WHEN s.doc_id IS NOT NULL THEN s.n_chars
                  WHEN t.lang = 'fr' THEN 0
                  ELSE t.n_chars END AS n_chars
           FROM documents t LEFT JOIN src s ON t.doc_id = s.doc_id
           WHERE s.doc_id IS NOT NULL OR t.lang <> 'de'
           UNION ALL
           SELECT s.lang, s.n_chars FROM src s
           WHERE NOT EXISTS (SELECT 1 FROM documents t WHERE t.doc_id = s.doc_id))
         SELECT mode, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           true AS mor_originals_untouched
         FROM (SELECT 'cow' AS mode, * FROM merged
               UNION ALL SELECT 'mor', * FROM merged)
         GROUP BY mode, lang ORDER BY mode, lang""",

    // the structural boolean is a log fact (the clone's fork snapshot
    // lists the source's physical files verbatim — zero copy); both
    // diverged lineages replay over documents
    "qc41_zero_copy_clone" ->
      """SELECT true AS zero_copy,
           (SELECT count(*) FROM documents)
             + (SELECT count(*) FROM documents WHERE doc_id % 7 = 0)
             AS src_n,
           (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)
             + (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
                WHERE doc_id % 7 = 0)
             AS src_chars,
           (SELECT count(*) FROM documents WHERE doc_id % 3 <> 0)
             + (SELECT count(*) FROM documents WHERE doc_id % 5 = 0)
             AS clone_n,
           (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
            WHERE doc_id % 3 <> 0)
             + (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
                WHERE doc_id % 5 = 0)
             AS clone_chars,
           (SELECT count(*) FROM documents) AS snapshot_n""",

    // the per-group aggregates replay over documents; the boolean is a
    // Spark plan fact (the grouped fold served as local rows, no scan)
    "qc39_grouped_metadata_agg" ->
      """SELECT lang, count(*) AS n_docs,
           min(doc_id) AS min_id, max(doc_id) AS max_id,
           CAST(count(n_chars) AS BIGINT) AS n_chars_nonnull,
           true AS served_from_log
         FROM documents GROUP BY lang""",

    // the structural booleans are Spark plan facts (counts/min/max served
    // as a local one-row scan; under a pending deletion vector the count
    // keeps serving — stored − vectored — while min falls back to a real
    // read); the aggregates replay over documents
    "qc38_metadata_count" ->
      """SELECT true AS metadata_agg_served, true AS dv_count_served,
           true AS dv_min_fell_back,
           (SELECT count(*) FROM documents) AS n_total,
           (SELECT count(*) FROM documents WHERE doc_id < 150) AS n_snapshot,
           (SELECT min(doc_id) FROM documents) AS min_id,
           (SELECT max(doc_id) FROM documents) AS max_id,
           (SELECT count(doc_id) FROM documents) AS n_ids,
           (SELECT count(*) FROM documents WHERE doc_id % 7 <> 3) AS n_after_delete""",

    // the structural booleans are Spark execution facts (a dynamic-pruning
    // runtime filter reached the fact scan and file-pruned it via log
    // stats); the dimension join replays as a plain key filter
    "qc37_runtime_file_pruning" ->
      """SELECT true AS runtime_filter_attached, true AS files_runtime_pruned,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents
         WHERE doc_id < 60""",

    // the structural booleans are Spark-side facts (evolution rewrote no
    // file, the mixed-spec window pruned, labels follow the new spec);
    // the spanning window aggregate replays over orders
    "qc35_spec_evolution" ->
      """SELECT CAST(1 AS BOOLEAN) AS old_files_untouched,
           CAST(1 AS BOOLEAN) AS pruned_some,
           CAST(1 AS BOOLEAN) AS labels_ok,
           count(*) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_key
         FROM orders
         WHERE CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-06-01 00:00:00'
           AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1997-07-01 00:00:00'""",

    // three disjoint-date-range files; the range query's stats pruning
    // plans exactly one — the counts are structural constants, the
    // aggregate replays exactly
    "qc29_data_skipping" ->
      """SELECT CAST(3 AS BIGINT) AS files_total,
           CAST(1 AS BIGINT) AS files_planned,
           count(*) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_key
         FROM orders
         WHERE CAST(o_orderdate AS DATE)
           BETWEEN DATE '1997-03-01' AND DATE '1997-09-30'""",

    "qc26_incremental_read" ->
      """SELECT lang, count(*) AS n_new,
           CAST(sum(n_chars) AS BIGINT) AS new_chars
         FROM documents WHERE doc_id >= 150
         GROUP BY lang ORDER BY lang""",

    "qc25_sql_procedures" ->
      """SELECT CAST(10 AS BIGINT) AS files_before, CAST(1 AS BIGINT) AS files_after,
           CAST(1 AS BIGINT) AS restored_version, CAST(4 AS BIGINT) AS new_version,
           CAST(1 AS INTEGER) AS pools_removed,
           (SELECT count(*) FROM documents WHERE doc_id < 150) AS rows_after_rollback,
           CAST((SELECT sum(n_chars) FROM documents WHERE doc_id < 150) AS BIGINT)
             AS chars_after_rollback""",

    "qc23_table_history" ->
      """SELECT CAST(v AS BIGINT) AS version, CAST(f AS BIGINT) AS n_files,
           CAST(a AS BIGINT) AS added_files,
           (SELECT count(*) FROM documents) AS current_rows,
           CAST(10 AS BIGINT) AS current_files
         FROM (VALUES (1, 4, 4), (2, 10, 6)) AS t(v, f, a) ORDER BY version""",

    // the widened history: pre-widen rows carry score = n_chars % 1000
    // (written INT32, read as BIGINT); the post-widen 'wide' group holds
    // the three 64-bit scores no INT32 file could
    "qc22_schema_evolution" ->
      """WITH evo AS (
           SELECT lang, doc_id,
             CASE WHEN doc_id >= 200 THEN n_chars END AS chars,
             CAST(n_chars % 1000 AS BIGINT) AS score
           FROM documents
           UNION ALL
           SELECT 'wide', 2000000 + r, r, 3000000000 + r
           FROM (VALUES (0), (1), (2)) AS t(r))
         SELECT lang AS language, count(*) AS n_docs,
           CAST(count(chars) AS BIGINT) AS n_with_chars,
           CAST(sum(chars) AS BIGINT) AS total_chars,
           CAST(sum(score) AS BIGINT) AS total_score,
           (SELECT count(*) FROM documents WHERE doc_id < 200) AS rows_v1
         FROM evo GROUP BY lang ORDER BY language""",

    "qc15_schema_merge" ->
      """SELECT CAST(2 * (SELECT count(*) FROM nation) AS BIGINT) AS n_rows,
         (SELECT count(*) FROM nation) AS n_with_region,
         4 AS n_cols""",

    "qc14_manifest_table" ->
      """SELECT CAST(1 AS BIGINT) AS v1, CAST(2 AS BIGINT) AS v2,
         CAST(3 AS BIGINT) AS current_version,
         CAST(12 AS BIGINT) AS files_before,
         true AS compacted_fewer,
         CAST(1 AS BIGINT) AS vacuum_removed,
         (SELECT count(*) FROM documents) AS rows_current,
         (SELECT count(*) FROM documents WHERE doc_id < 100) AS rows_v1_asof""",

    "q50_map_hofs" ->
      """SELECT p_partkey,
           CAST((CASE WHEN p_size > 10 THEN 1 ELSE 0 END) +
                (CASE WHEN p_retailprice > 10 THEN 1 ELSE 0 END) AS INTEGER) AS n_big,
           round(p_retailprice * 2, 2) AS retail_x2,
           concat_ws(',',
             CASE WHEN p_retailprice > 10 THEN 'retail' END,
             CASE WHEN p_size > 10 THEN 'size' END) AS big_keys
         FROM part WHERE p_partkey <= 100 ORDER BY p_partkey""",

    "qc10_partitioned_write" ->
      """SELECT count(*) AS n_1996, round(sum(o_totalprice),2) AS total_1996
         FROM orders WHERE year(o_orderdate) = 1996""",

    "q25_right_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_jumbo
         FROM (SELECT * FROM orders WHERE o_totalprice > 400000) o
         RIGHT JOIN customer ON o.o_custkey = c_custkey
         GROUP BY c_custkey HAVING count(o_orderkey) > 0
         ORDER BY c_custkey""",

    "q26_misc_aggs" ->
      """WITH agg AS (
           SELECT l_returnflag,
             bool_and(l_quantity > 0) AS all_positive,
             bool_or(l_discount >= 0.09) AS any_high_discount,
             array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses
           FROM lineitem GROUP BY l_returnflag),
         ranked AS (
           SELECT l_returnflag, l_orderkey,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_shipdate, l_orderkey) AS rn_min,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_shipdate DESC, l_orderkey DESC) AS rn_max
           FROM lineitem),
         mn AS (SELECT l_returnflag, l_orderkey AS earliest_order FROM ranked WHERE rn_min = 1),
         mx AS (SELECT l_returnflag, l_orderkey AS latest_order FROM ranked WHERE rn_max = 1)
         SELECT agg.l_returnflag, all_positive, any_high_discount,
           earliest_order, latest_order, statuses
         FROM agg JOIN mn USING (l_returnflag) JOIN mx USING (l_returnflag)
         ORDER BY l_returnflag""",

    "q27_ntile_window" ->
      """SELECT quartile, count(*) AS n, round(min(c_acctbal),2) AS min_bal,
           round(max(c_acctbal),2) AS max_bal
         FROM (SELECT c_acctbal,
                 CAST(ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS quartile
               FROM customer)
         GROUP BY quartile ORDER BY quartile""",

    // sketch values themselves are engine-specific: the gate checks the
    // exact aggregates bit-exactly and the accuracy bounds as booleans
    // computed Spark-side (TRUE here; a drifting sketch hash-mismatches)
    "q28_approx_aggs" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS approx_parts_ok, TRUE AS approx_median_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q29_map_funcs" ->
      """SELECT p_partkey, p_brand AS brand, 'brand' AS first_key,
           CAST(2 AS INTEGER) AS n_attrs
         FROM part WHERE p_partkey <= 100 ORDER BY p_partkey""",

    "q31_sql_frontdoor" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q32_sql_vector_funcs" ->
      """SELECT a.vec_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos_to_0,
           round(sqrt(list_aggregate(list_transform(CAST(a.embedding AS DOUBLE[]),
                 x -> x*x), 'sum')), 6) AS nrm
         FROM embeddings a JOIN embeddings b ON b.vec_id = 0
         WHERE a.vec_id < 100 ORDER BY a.vec_id""",

    "q33_range_frame" ->
      """SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             RANGE BETWEEN 100 PRECEDING AND CURRENT ROW), 2) AS near_sum,
           lead(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_key
         FROM orders WHERE o_custkey < 50
         ORDER BY o_custkey, o_orderkey""",

    "q34_setops_all" ->
      """WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 25),
         b AS (SELECT l_orderkey FROM lineitem WHERE l_discount >= 0.05)
         SELECT l_orderkey, n, op FROM (
           SELECT l_orderkey, count(*) AS n, 'intersect_all' AS op
           FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY l_orderkey
           UNION ALL
           SELECT l_orderkey, count(*) AS n, 'except_all' AS op
           FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY l_orderkey)
         ORDER BY op, l_orderkey""",

    "q35_array_funcs" ->
      """SELECT doc_id,
           array_to_string(t[1:3], ' ') AS head3,
           list_contains(t, 'spark') AS has_spark,
           CAST(len(list_filter(t, x -> length(x) > 5)) AS INTEGER) AS n_long_tokens,
           list_sort(list_distinct(t))[1] AS first_alpha,
           list_reverse_sort(list_distinct(t))[1] AS last_alpha
         FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         WHERE doc_id < 50 ORDER BY doc_id""",

    "q36_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
         n AS (SELECT count(*) AS n FROM documents)
         SELECT doc_id, term AS top_term, round(score_raw, 6) AS tfidf FROM (
           SELECT tf.doc_id, tf.term, tf.tf * ln(n.n*1.0 / df.df) AS score_raw,
             row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(n.n*1.0 / df.df) DESC, tf.term) AS rn
           FROM tf JOIN df USING (term) CROSS JOIN n)
         WHERE rn = 1 AND doc_id < 100 ORDER BY doc_id""",

    "q37_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           count(*) AS n, round(sum(l_extendedprice), 2) AS total
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         ORDER BY flag, status""",

    "q38_json_advanced" ->
      """SELECT event_id,
           '{"id":' || event_id || ',"t":"' || event_type || '"}' AS packed,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events WHERE event_id < 200 ORDER BY event_id""",

    "q30_null_safe_eq" ->
      """WITH ev AS (SELECT event_id, user_id,
             CASE WHEN event_type = 'error' THEN value END AS maybe_val
           FROM events)
         SELECT a.event_id, count(*) AS n_null_safe_matches
         FROM ev a JOIN ev b ON a.user_id = b.user_id
           AND a.maybe_val IS NOT DISTINCT FROM b.maybe_val
           AND a.event_id < b.event_id
         WHERE a.event_id < 100
         GROUP BY a.event_id ORDER BY a.event_id"""
  )
}
