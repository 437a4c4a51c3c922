package graft

import graft.core.Tables
import graft.operators.RangeJoin
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the 100 TB posture is only real if the
  * plans are right — filters reach the parquet scan, dimension joins
  * broadcast, the range join never degrades to a nested-loop product, and
  * the hot vector kernel stays inside whole-stage codegen. */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection are pushed into the parquet scan (q01)") {
    val p = plan(SparkEntry.queries("q01_pricing_summary")(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushed filter:\n$p")
    // column pruning: the scan must not read l_orderkey/l_partkey/l_suppkey
    assert(p.contains("ReadSchema") && !p.contains("l_partkey"),
      s"scan reads pruned columns:\n$p")
  }

  test("star-join dimensions broadcast (q07)") {
    val p = plan(SparkEntry.queries("q07_regional_revenue")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("bucketed range join plans as a hash/sort-merge join, never BNLJ") {
    val ev = Tables.events(spark, sf)
    val l = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("l_id"), col("ts").as("l_ts"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("r_id"), col("ts").as("r_ts"))
    val p = plan(RangeJoin.timeWindowJoin(l, r, "l_ts", "r_ts", 600L))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degraded to a product:\n$p")
  }

  test("semi/anti joins plan as joins, not subquery re-scans") {
    val p4 = plan(SparkEntry.queries("q04_semi_join")(spark, sf))
    assert(p4.contains("LeftSemi"), s"no left-semi join:\n$p4")
    val p5 = plan(SparkEntry.queries("q05_anti_join")(spark, sf))
    assert(p5.contains("LeftAnti"), s"no left-anti join:\n$p5")
  }

  test("subqueries decorrelate into joins (no per-row re-scans)") {
    // IN / NOT IN -> semi / anti hash joins
    val p40 = plan(SparkEntry.queries("q40_in_subquery")(spark, sf))
    assert(p40.contains("LeftSemi") && p40.contains("LeftAnti"),
      s"IN/NOT IN did not decorrelate:\n$p40")
    // correlated scalar count -> aggregate + (outer) equi join
    val p41 = plan(SparkEntry.queries("q41_correlated_count")(spark, sf))
    assert(!p41.contains("ScalarSubquery") &&
      (p41.contains("SortMergeJoin") || p41.contains("HashJoin")),
      s"correlated scalar subquery not decorrelated:\n$p41")
  }

  test("bucketed-table join is exchange-free on both sides (q44)") {
    val df = SparkEntry.queries("q44_bucketed_join")(spark, sf)
    val p = plan(df)
    val joinSection = p.linesIterator.dropWhile(!_.contains("SortMergeJoin")).mkString("\n")
    assert(p.contains("SortMergeJoin"), s"bucketed join not SMJ:\n$p")
    assert(!joinSection.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles its inputs:\n$p")
  }

  test("q45 SQL interval join is rewritten away from nested-loop (rule fires)") {
    val p = plan(SparkEntry.queries("q45_range_join_rule")(spark, sf))
    // the hot path must be the bucketed equi join; the only nested-loop
    // allowed is the fan-out-guarded wide-interval fallback branch (filtered
    // to ~zero rows, collapsed by AQE at runtime)
    assert(p.contains("_graft_bucket"), s"RangeJoinRewrite did not fire on q45:\n$p")
    val nBnlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).length
    assert(nBnlj <= 1 && !p.contains("CartesianProduct"),
      s"q45 has an unguarded nested-loop path:\n$p")
  }

  test("global sort+limit plans as TakeOrderedAndProject, not a full sort") {
    val p = plan(SparkEntry.queries("q03_top_orders")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit did not collapse to top-k:\n$p")
  }

  test("repartitionByRange gives range partitioning for sorted writes") {
    val df = Tables.orders(spark, sf)
      .repartitionByRange(4, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
    val p = plan(df)
    assert(p.contains("rangepartitioning"), s"no range partitioning:\n$p")
  }

  test("fused vector dot stays inside whole-stage codegen") {
    val emb = Tables.embeddings(spark, sf).limit(10)
    val df = emb.select(graft.functions.VectorFunctions
      .dotProduct(col("embedding"), col("embedding")).as("d"))
    val p = plan(df)
    // "*(n)" prefixes mark WholeStageCodegen spans in the compact plan string
    assert(p.contains("*(1) Project [floatvecdot"), s"no codegen span:\n$p")
    // and the HOF chain it replaced must NOT be in the plan
    assert(!p.toLowerCase.contains("lambdafunction"), s"lambda in hot path:\n$p")
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    // Spark's runtime row-level filtering: a selective filter on one join
    // side injects a bloom filter into the OTHER side's scan, cutting the
    // shuffled volume — the 100 TB lever when neither side broadcasts.
    // Local thresholds are sized for clusters, so lower them for the assert.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf).filter(col("o_totalprice") > 400000)
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter"),
        s"no runtime bloom filter injected:\n$p")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // star-join shape: the fact scan's partition filter comes from the
    // DIMENSION side's filter result (a runtime subquery), so only fact
    // partitions with surviving join keys are read — the partition-level
    // twin of the runtime bloom filter, and the reason partitioned fact
    // layouts win at 100 TB even when the predicate is on the dimension.
    val factDir = java.nio.file.Files.createTempDirectory("graft_dpp_fact_").toString
    Tables.orders(spark, sf)
      .withColumn("yr", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("yr").parquet(factDir)
    val dim = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("d_key"), year(col("o_orderdate")).as("d_yr"))
      .filter(col("d_key") < 5) // few keys -> few years survive
      .distinct()
    val fact = spark.read.parquet(factDir)
    val joined = fact.join(broadcast(dim), fact("yr") === dim("d_yr"))
      .groupBy("yr").count()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), s"no DPP subquery in partition filters:\n$p")
    assert(joined.count() > 0)
  }

  test("CBO: ANALYZE TABLE statistics reach the optimizer and size joins") {
    // catalog statistics are how a 100 TB warehouse avoids guessing: after
    // ANALYZE, the optimizer knows exact row counts (visible in plan
    // stats) and sizes the join strategy from them instead of file sizes
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS cbo_nation")
      // external table in a temp location (keeps the repo's default
      // warehouse dir out of the picture entirely)
      val loc = java.nio.file.Files.createTempDirectory("graft_cbo_tbl_").toString
      Tables.nation(spark, sf).write.mode("overwrite")
        .option("path", loc).saveAsTable("cbo_nation")
      spark.sql("ANALYZE TABLE cbo_nation COMPUTE STATISTICS FOR ALL COLUMNS")
      val expected = spark.table("cbo_nation").count()
      val stats = spark.table("cbo_nation").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(expected)),
        s"ANALYZE stats not visible to the optimizer: ${stats.rowCount}")
      // column-level stats present (distinct counts drive join reorder)
      val colStats = spark.sql("DESCRIBE EXTENDED cbo_nation n_nationkey")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(colStats.get("distinct_count").exists(_.toLong > 0),
        s"no column stats after ANALYZE: $colStats")
      spark.sql("DROP TABLE cbo_nation")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None    => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("log-served NDV flips the broadcast decision (CBO, zero ANALYZE)") {
    // a manifest table declaring graft.ndv.columns serves distinct counts
    // to the optimizer straight from the commit log's HLL sketches; an
    // equality filter on that column then estimates rows/ndv and the dim
    // side drops under the broadcast threshold. The IDENTICAL table
    // without the declaration keeps its unfiltered estimate and plans a
    // shuffle join — the flip is attributable to log-served NDV alone.
    val root = "file://" + java.nio.file.Files.createTempDirectory("graft_ndv_").toString
    graft.catalog.GraftCatalog.register(spark, "gnv", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gnv.db")
    spark.sql("CREATE TABLE gnv.db.dim_ndv (k BIGINT, pad STRING) USING manifest " +
      s"TBLPROPERTIES ('${graft.catalog.GraftCatalog.NdvColsProp}'='k')")
    spark.sql("CREATE TABLE gnv.db.dim_plain (k BIGINT, pad STRING) USING manifest")
    // k is interleaved so every file's [min,max] spans the domain — file
    // skipping can't shrink the scan, isolating the NDV effect
    val src = "SELECT id % 9973 AS k, sha2(CAST(id AS STRING), 256) AS pad FROM range(40000)"
    spark.sql(s"INSERT INTO gnv.db.dim_ndv $src")
    spark.sql(s"INSERT INTO gnv.db.dim_plain $src")
    val savedCbo = spark.conf.getOption("spark.sql.cbo.enabled")
    val savedThr = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
      // served column stats visible on the logical plan, NDV within HLL error
      val att = spark.table("gnv.db.dim_ndv").queryExecution.optimizedPlan.stats
        .attributeStats
      val served = att.find(_._1.name == "k").map(_._2)
      assert(served.exists(_.distinctCount.exists(dc =>
          (dc.toLong - 9973L).abs < 500L)),
        s"log NDV not served to the optimizer: $att")
      def joinPlan(dim: String): String = {
        val fact = spark.range(200000).selectExpr("id % 9973 AS k", "id AS v")
        fact.join(spark.table(dim), "k").where(col("k") === 7)
          .queryExecution.executedPlan.toString
      }
      val withNdv = joinPlan("gnv.db.dim_ndv")
      val without = joinPlan("gnv.db.dim_plain")
      assert(withNdv.contains("BroadcastHashJoin"),
        s"NDV-declared dim must broadcast after the selective filter:\n$withNdv")
      assert(!without.contains("BroadcastHashJoin"),
        s"identical dim WITHOUT declared NDV must not broadcast (else the " +
          s"flip isn't attributable to the log-served NDV):\n$without")
    } finally {
      savedCbo match {
        case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
        case None    => spark.conf.unset("spark.sql.cbo.enabled")
      }
      savedThr match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("ivfTopK has no Window or Sort anywhere (heap selection end to end)") {
    val p = plan(SparkEntry.queries("qv02_ivf_ann")(spark, sf))
    // every selection (assignment top-1, probe top-n, final top-k) must be
    // a bounded-heap aggregate; the final .orderBy of the gate query is the
    // presentation sort, which plans as TakeOrdered/Sort over <= q*k rows —
    // so assert no WINDOW node and no sort UPSTREAM of the last aggregate
    assert(!p.contains("Window"), s"window selection survived in ivfTopK:\n$p")
    val lastAgg = p.lastIndexOf("ObjectHashAggregate")
    assert(lastAgg >= 0, s"heap aggregate missing from plan:\n$p")
    assert(!p.substring(lastAgg).contains("Sort "),
      s"sort upstream of the selection aggregates:\n$p")
  }

  test("ivfPqTopK: heap selection end to end, probes/LUTs broadcast to the index") {
    val p = plan(SparkEntry.queries("qv07_ivfpq_ann")(spark, sf))
    // same heap contract as ivfTopK — the ADC scan must never window or
    // sort the corpus-sized scored set
    assert(!p.contains("Window"), s"window selection survived in ivfPqTopK:\n$p")
    val lastAgg = p.lastIndexOf("ObjectHashAggregate")
    assert(lastAgg >= 0, s"heap aggregate missing from plan:\n$p")
    assert(!p.substring(lastAgg).contains("Sort "),
      s"sort upstream of the selection aggregates:\n$p")
    // the probe/LUT side reaches the encoded index as a broadcast — the
    // CORPUS-side cluster join must never shuffle (the tiny q-sized
    // probe-to-LUT join is free to plan however it likes)
    assert(p.contains("BroadcastHashJoin"),
      s"probe join not broadcast in ivfPqTopK:\n$p")
    assert(!"SortMergeJoin \\[cluster".r.findFirstIn(p).isDefined,
      s"corpus-side cluster shuffle join in ivfPqTopK:\n$p")
  }

  test("qt15 classifier: the model joins broadcast; no shuffle join anywhere") {
    val p = plan(SparkEntry.queries("qt15_classifier_score")(spark, sf))
    // the token->weight model must ride the broadcast: a shuffle join ON
    // TOK would move the corpus-sized exploded token stream (the per-doc
    // left join on doc_id is agg-sized and free to plan either way)
    assert(p.contains("BroadcastHashJoin"),
      s"model join not broadcast in qt15:\n$p")
    assert(!"SortMergeJoin \\[tok".r.findFirstIn(p).isDefined,
      s"exploded tokens shuffled by token in qt15:\n$p")
  }

  test("partition-pruned scan reads only matching partition dirs (qc10 shape)") {
    val out = java.nio.file.Files.createTempDirectory("graft_prune_").toString
    Tables.orders(spark, sf)
      .withColumn("yr", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("yr").parquet(out)
    val df = spark.read.parquet(out).filter(col("yr") === 1996)
    val p = plan(df)
    // after partition pruning the scan's partition count must be 1
    val scanLine = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(!p.contains("PartitionFilters: []"), s"no partition filters applied:\n$scanLine")
  }

  test("log-served histogram sizes a skewed range predicate (CBO, zero ANALYZE)") {
    // declared-NDV numeric columns also carry per-file histograms; the
    // merged equi-height bins reach catalyst ColumnStat and
    // FilterEstimation sizes range predicates from the DISTRIBUTION:
    // 5% of rows live in the [900, 1000) tail of a [0, 1000) domain, so
    // the histogram estimate must land near 5% where min/max-uniform
    // interpolation says 10% and the no-stats default says 25%
    val root = "file://" + java.nio.file.Files.createTempDirectory("graft_hist_").toString
    graft.catalog.GraftCatalog.register(spark, "ghx", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ghx.db")
    spark.sql("CREATE TABLE ghx.db.skew (k BIGINT, pad STRING) USING manifest " +
      s"TBLPROPERTIES ('${graft.catalog.GraftCatalog.NdvColsProp}'='k')")
    def src(a: Int, b: Int) = "SELECT CASE WHEN id % 20 = 0 THEN 900 + id % 100 " +
      s"ELSE id % 100 END AS k, sha2(CAST(id AS STRING), 256) AS pad FROM range($a, $b)"
    spark.sql(s"INSERT INTO ghx.db.skew ${src(0, 20000)}")
    spark.sql(s"INSERT INTO ghx.db.skew ${src(20000, 40000)}") // 2 pools -> merged grids
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val att = spark.table("ghx.db.skew").queryExecution.optimizedPlan.stats
        .attributeStats
      val kStat = att.find(_._1.name == "k").map(_._2)
      assert(kStat.exists(_.histogram.isDefined),
        s"no histogram in served ColumnStat: $att")
      val h = kStat.get.histogram.get
      assert(h.bins.length === 64)
      assert(math.abs(h.height - 40000.0 / 64) < 1.0)
      // equi-height on skew: most cuts crowd the dense [0, 100) region
      assert(h.bins.count(_.hi <= 101.0) >= 40,
        s"cuts ignore the skew: ${h.bins.map(b => f"${b.lo}%.0f..${b.hi}%.0f").mkString(", ")}")
      val est = spark.table("ghx.db.skew").where(col("k") >= 900)
        .queryExecution.optimizedPlan.stats.rowCount
      assert(est.exists(rc => rc >= BigInt(800) && rc <= BigInt(3200)),
        s"tail estimate should be near the true 2000 rows (5%), got $est " +
          "(uniform interpolation would say ~4000, default selectivity ~10000)")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None    => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("log-served DATE histogram sizes a date-range predicate; string keys serve NDV only") {
    // date columns grid on catalyst's own number line (epoch days), so
    // FilterEstimation sizes a skewed date-range predicate from the
    // distribution; string keys deliberately serve NO histogram (Spark's
    // ANALYZE contract — the estimator cannot place string literals on a
    // number line) but their HLL NDV serves equality estimation
    val root = "file://" + java.nio.file.Files.createTempDirectory("graft_dhist_").toString
    graft.catalog.GraftCatalog.register(spark, "ghd", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ghd.db")
    spark.sql("CREATE TABLE ghd.db.ev (d DATE, s STRING, pad STRING) USING manifest " +
      s"TBLPROPERTIES ('${graft.catalog.GraftCatalog.NdvColsProp}'='d,s')")
    // 95% of rows in the first 100 days, a 5% tail in days [900, 1000) —
    // the numeric histogram test's skew, on the date number line
    def src(a: Int, b: Int) = "SELECT date_add(DATE'2024-01-01', " +
      "CASE WHEN id % 20 = 0 THEN 900 + CAST(id % 100 AS INT) " +
      "ELSE CAST(id % 100 AS INT) END) AS d, " +
      "concat('k', id % 50) AS s, sha2(CAST(id AS STRING), 256) AS pad " +
      s"FROM range($a, $b)"
    spark.sql(s"INSERT INTO ghd.db.ev ${src(0, 20000)}")
    spark.sql(s"INSERT INTO ghd.db.ev ${src(20000, 40000)}") // 2 pools -> merged grids
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val att = spark.table("ghd.db.ev").queryExecution.optimizedPlan.stats
        .attributeStats
      val dStat = att.find(_._1.name == "d").map(_._2)
      assert(dStat.exists(_.histogram.isDefined),
        s"no histogram in served date ColumnStat: $att")
      // min/max boxed in the DATE internal shape (Int epoch days) — a
      // Long here would be a planner ClassCastException, not an estimate
      assert(dStat.get.min.exists(_.isInstanceOf[Integer]) &&
        dStat.get.max.exists(_.isInstanceOf[Integer]),
        s"date bounds must box as Int days: ${dStat.get.min}, ${dStat.get.max}")
      val est = spark.table("ghd.db.ev")
        .where(expr("d >= date_add(DATE'2024-01-01', 900)")) // the 5% tail
        .queryExecution.optimizedPlan.stats.rowCount
      assert(est.exists(rc => rc >= BigInt(800) && rc <= BigInt(3200)),
        s"date tail estimate should land near the true 2000 rows (5%), got $est " +
          "(uniform interpolation would say ~4000, default selectivity ~10000)")
      // string key: NDV served (equality sizes as rows/ndv), histogram absent
      val sStat = att.find(_._1.name == "s").map(_._2)
      assert(sStat.exists(_.distinctCount.isDefined), s"string NDV not served: $att")
      assert(sStat.forall(_.histogram.isEmpty),
        "string columns must never serve a histogram (FilterEstimation " +
          "would crash casting the literal)")
      val eqEst = spark.table("ghd.db.ev").where(col("s") === "k7")
        .queryExecution.optimizedPlan.stats.rowCount
      assert(eqEst.exists(rc => rc >= BigInt(400) && rc <= BigInt(1600)),
        s"string equality should estimate ~rows/ndv = 800, got $eqEst")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None    => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("shingle tokenization never re-runs as a filter below a Generate or at the scan") {
    // The InferFiltersFromGenerate hazard: exploding a plain array
    // ATTRIBUTE of an unpersisted frame makes Spark add size(_shs) > 0
    // below the Generate, and pushdown then substitutes the whole
    // shingles(split(text)) expression into it, so the tokenization
    // re-runs as a filter at the scan (4-8x in round 16;
    // plans/r16/qd07_decontaminate_broken_midround.txt). Unpersisted
    // shingle rows must explode the expression inline (Dedup.shingleSet).
    import graft.core.SparkJobs
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.{FileSourceScanLike, FilterExec, GenerateExec, SparkPlan}
    def splitFilters(p: SparkPlan): Seq[String] = {
      val belowGenerate = p.collect { case g: GenerateExec =>
        g.child.collect { case f: FilterExec => f.condition.toString }
      }.flatten
      val atScan = p.collect { case s: FileSourceScanLike =>
        s.dataFilters.map(_.toString) ++ s.metadata.get("PushedFilters")
      }.flatten
      (belowGenerate ++ atScan).filter(_.contains("split("))
    }
    def shinglesAScan(p: SparkPlan): Boolean =
      p.collect { case g: GenerateExec => g }
        .exists(_.collectFirst { case s: FileSourceScanLike => s }.nonEmpty)
    val qd07 = SparkEntry.queries("qd07_decontaminate")(spark, sf).queryExecution.sparkPlan
    assert(shinglesAScan(qd07), s"qd07 explodes no scanned shingles:\n$qd07")
    assert(splitFilters(qd07).isEmpty, s"qd07 re-tokenizes in a filter:\n$qd07")
    // the unpersisted corpus side of the stored-index probe
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    val idx = Dedup.lshIndex(corpus, "doc_id", "text", 3).localCheckpoint()
    val (_, runs) = SparkJobs.executions(spark)(Dedup.minhashLshPairsAgainstIndex(
      corpus, idx, docs.filter(col("doc_id") % 5 === 4), "doc_id", "text", 3, 0.8))
    val probe = runs.map(_.sparkPlan)
    assert(probe.exists(shinglesAScan), s"the corpus side explodes no scanned shingles:\n$probe")
    assert(probe.flatMap(splitFilters).isEmpty,
      s"the corpus side re-tokenizes in a filter:\n${probe.mkString("\n")}")
  }

  test("vector assignment is map-only: zero Exchange on the corpus side") {
    // The kmeans/IVF nearest-centroid and sign-LSH bucket assignments must
    // be pure maps over the corpus: the streamed (corpus) side of the
    // broadcast nested-loop join against the folded centroid/hyperplane
    // array must contain NO shuffle. At 100 TB x N Lloyd iterations a
    // corpus exchange per assignment is the dominant avoidable cost.
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.operators.Similarity
    def corpusSideShuffles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val joins = df.queryExecution.sparkPlan.collect {
        case b: BroadcastNestedLoopJoinExec => b
      }
      assert(joins.nonEmpty, s"no BNLJ in plan:\n${df.queryExecution.sparkPlan}")
      joins.flatMap(_.left.collect { case s: ShuffleExchangeLike => s.toString })
    }
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.centroids(
      emb.select(col("label"), col("embedding")), "label", "embedding", 32)
    val assigned = Similarity.assignNearest(
      emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding", cents)
    assert(corpusSideShuffles(assigned).isEmpty,
      s"nearest-centroid assignment shuffles the corpus:\n${assigned.queryExecution.sparkPlan}")
    val hyper = Similarity.seededHyperplanes(spark, numPlanes = 8, dim = 32)
    val buckets = Similarity.signLshBuckets(
      emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding", hyper)
    assert(corpusSideShuffles(buckets).isEmpty,
      s"LSH bucket assignment shuffles the corpus:\n${buckets.queryExecution.sparkPlan}")
    // PQ encoding is the same shape: folded codebook row broadcast, corpus
    // side scan -> project only (the 32x-compression pass must not shuffle
    // the raw vectors it exists to avoid moving)
    val encoded = Similarity.pqEncode(
      emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
      "id", "vec", cents, m = 4, dim = 32)
    assert(corpusSideShuffles(encoded).isEmpty,
      s"PQ encoding shuffles the corpus:\n${encoded.queryExecution.sparkPlan}")
    // the composed IVFPQ index (coarse assignment THEN encoding) is still
    // one corpus pass, two broadcast maps deep — zero corpus Exchange
    val ivfpqIndex = Similarity.pqEncode(
      Similarity.assignNearest(
        emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
        "id", "vec", cents),
      "id", "vec", cents, m = 4, dim = 32, keep = Seq("cluster"))
    assert(corpusSideShuffles(ivfpqIndex).isEmpty,
      s"IVFPQ index build shuffles the corpus:\n${ivfpqIndex.queryExecution.sparkPlan}")
    // scalar-quantization encoding: same shape — the calibration row is
    // broadcast, the corpus side is scan -> project only
    val sqIndex = Similarity.sqEncode(
      emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
      "id", "vec",
      Similarity.sqBounds(
        emb.select(col("embedding").as("vec")), "vec"))
    assert(corpusSideShuffles(sqIndex).isEmpty,
      s"SQ encoding shuffles the corpus:\n${sqIndex.queryExecution.sparkPlan}")
    // the composed IVF+SQ index (coarse assignment THEN quantization) is
    // still one corpus pass, two broadcast maps deep — zero corpus Exchange
    val ivfSqIndex = Similarity.sqEncode(
      Similarity.assignNearest(
        emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
        "id", "vec", cents),
      "id", "vec",
      Similarity.sqBounds(
        emb.select(col("embedding").as("vec")), "vec"),
      keep = Seq("cluster"))
    assert(corpusSideShuffles(ivfSqIndex).isEmpty,
      s"IVF+SQ index build shuffles the corpus:\n${ivfSqIndex.queryExecution.sparkPlan}")
  }

  test("qv08 range search: probes broadcast to the corpus scan; no corpus-side shuffle before the probe join") {
    // the admitted (query, cluster) probe set must ride a broadcast into
    // the cluster equi-join: a shuffle join on cluster would exchange the
    // whole assigned corpus — the exact cost the pruning exists to dodge.
    // (The corpus side feeding that join is the map-only assignment; its
    // only upstream exchange is the K-row centroid fold, which lives on
    // the BROADCAST side.)
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("qv08_range_search")(spark, sf)
    val joins = df.queryExecution.sparkPlan.collect {
      case b: BroadcastHashJoinExec
          if b.leftKeys.exists(_.toString.contains("cluster")) ||
            b.rightKeys.exists(_.toString.contains("cluster")) => b
    }
    assert(joins.nonEmpty,
      s"probe join is not a broadcast hash join on cluster:\n${df.queryExecution.sparkPlan}")
    val corpusSide = joins.flatMap { b =>
      val streamed = if (b.buildSide.toString.contains("Right")) b.left else b.right
      streamed.collect { case s: ShuffleExchangeLike => s }
    }
    assert(corpusSide.isEmpty,
      s"range-search corpus side shuffles before the probe join:\n${df.queryExecution.sparkPlan}")
  }

  test("qd14 retention: cluster join degrades to a shuffle join when broadcast is off (no forced broadcast)") {
    // the dup-cluster membership table's size is data-dependent (web
    // corpora put 30-50% of docs in dup clusters), so qd14 must NOT pin
    // it to a broadcast: with broadcasting disabled — the planner's view
    // of "too big to broadcast" — the join must still plan (as a shuffle
    // join) and produce the identical result
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val docs = Tables.documents(spark, sf)
    val expected = graft.queries.TextQueries.qualityRetention(docs)
      .orderBy("doc_id").collect()
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.queries.TextQueries.qualityRetention(docs).orderBy("doc_id")
      val rows = df.collect() // AQE finalizes the executed plan
      val exec = df.queryExecution.executedPlan
      def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p.collect {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            leaves(a.executedPlan)
          case b: BroadcastHashJoinExec => Seq(b)
          case b: BroadcastNestedLoopJoinExec => Seq(b)
        }.flatten
      assert(leaves(exec).isEmpty,
        s"qd14 still forces a broadcast with the threshold disabled:\n$exec")
      assert(rows.toSeq == expected.toSeq,
        "qd14 result changed between broadcast and shuffle join plans")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("qt16 LM scoring: both model joins broadcast; corpus never shuffles on bigram/prefix") {
    val p = plan(SparkEntry.queries("qt16_lm_score")(spark, sf))
    // the bigram-count and prefix-count model tables must ride broadcasts:
    // a shuffle join on bigram/w1 would move the corpus-sized exploded
    // bigram stream twice before the per-doc fold
    assert(p.contains("BroadcastHashJoin"),
      s"LM model join not broadcast in qt16:\n$p")
    assert(!"SortMergeJoin \\[(bigram|w1)".r.findFirstIn(p).isDefined,
      s"exploded bigrams shuffled by model key in qt16:\n$p")
  }

  test("q63 recursive CTE plans as UnionLoop (engine-driven fixpoint, not an unrolled scan stack)") {
    val df = SparkEntry.queries("q63_recursive_cte")(spark, sf)
    val p = plan(df)
    assert(p.contains("UnionLoop"), s"no UnionLoopExec in the recursive plan:\n$p")
    assert(df.collect().nonEmpty)
  }

  test("qa05 profiling: ONE file scan feeds all per-column metrics (single-pass profile)") {
    val df = SparkEntry.queries("qa05_column_profile")(spark, sf)
    val p = plan(df)
    // one parquet scan node — the profile must not rescan per column;
    // the multi-distinct lowers to Expand above that single scan
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, got $scans:\n$p")
    assert(p.contains("Expand"), s"multi-distinct should lower to Expand:\n$p")
  }

  test("qa07 approx profiling (qa05's 100 TB mode): one scan, and the Expand is GONE") {
    val p = plan(graft.queries.AdvancedQueries.approxProfile(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, got $scans:\n$p")
    // the NDV sketch is a plain (non-distinct) aggregate: swapping it in
    // doesn't just preserve qa05's single-scan shape, it removes the
    // Expand row-multiplication entirely — partial/final agg only.
    // Datasketches HLL is a TypedImperativeAggregate, so the agg pair
    // plans as ObjectHashAggregate (one compact binary buffer per column
    // — NOT HLL++'s ~1.6k flat longs whose codegen unrolling cost ~1 s
    // per agg at rsd=0.01)
    assert(!p.contains("Expand"), s"approx profile should not Expand:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"expected object hash aggregation:\n$p")
  }

  test("q65 quantile QUERY reads only the sketch: zero corpus scans after the one build pass") {
    import graft.operators.QuantileSketch
    val lo = 0.0; val hi = 131072.0; val nb = 1024
    val parts = QuantileSketch.partials(Tables.lineitem(spark, sf),
      "l_extendedprice", Seq("l_returnflag", "l_shipdate"), lo, hi, nb)
      .localCheckpoint() // the ONE corpus pass — the stored sketch table
    val merged = QuantileSketch.merge(parts, Seq("l_returnflag"))
    val p = plan(QuantileSketch.quantiles(merged, Seq("l_returnflag"),
      Seq(0.5, 0.95), lo, hi, nb))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0,
      s"quantile query must answer from the sketch, got $scans corpus scans:\n$p")
  }

  test("q64 LIMIT+OFFSET folds into TakeOrderedAndProject (no global sort, no second pass)") {
    val p = plan(SparkEntry.queries("q64_offset_pagination")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
    assert(!p.contains("Sort ["), s"offset pagination fell back to a global sort:\n$p")
  }

  test("qm06 late materialization: the ranking scan never reads the payload column") {
    val p = plan(SparkEntry.queries("qm06_late_materialization")(spark, sf))
    // two scans of documents: the ranking side must read only metadata
    // columns — its ReadSchema excludes text; the payload side reads
    // (doc_id, text) only
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.size == 2, s"expected 2 scans:\n$p")
    assert(schemas.exists(s => !s.contains("text")),
      s"no metadata-only scan — payload read during ranking:\n$p")
    assert(schemas.forall(s => !s.contains("text") ||
        s.split(",").length <= 2),
      s"payload scan reads more than (doc_id, text):\n$p")
  }

  test("qt18 accent fold stays inside whole-stage codegen (native expression, no ScalaUDF)") {
    val df = Tables.documents(spark, sf)
      .select(graft.functions.TextNorm.foldAccents(col("text")).as("f"))
    val p = plan(df)
    assert(!p.contains("ScalaUDF"), s"fold_accents fell out to a UDF:\n$p")
    // codegen spans print as `*(n)` in executedPlan.toString
    assert(p.contains("*("), s"no whole-stage-codegen span:\n$p")
  }
}
