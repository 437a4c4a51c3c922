package graft.queries

import graft.core.Tables
import org.apache.spark.sql.functions._

/** Round-2 coverage closure: the subquery family (scalar, IN/NOT IN,
  * correlated scalar, LATERAL top-k per key), unpivot/melt, bucketed-table
  * co-located joins, and the automatic range-join rewrite rule
  * ([[graft.plans.RangeJoinRewrite]]) exercised through the SQL front door.
  *
  * Scale notes:
  *  - subqueries decorrelate into joins (Catalyst RewriteCorrelatedScalarSubquery
  *    / RewritePredicateSubquery) — asserted in PlanShapeSpec, so EXISTS/IN
  *    run as semi/anti hash joins, not per-row probes;
  *  - the bucketed join pre-shuffles both fact tables once at write time;
  *    every subsequent join on the bucket key is exchange-free (the pattern
  *    that amortizes the big shuffle across repeated queries at 100 TB);
  *  - q45's BETWEEN join would plan as BroadcastNestedLoopJoin; the
  *    installed optimizer rule turns it into a bucketed equi-join.
  */
object AdvancedQueries extends QueryModule {

  /** (session, sf dir) pairs whose q44 bucketed tables are already written. */
  private val bucketedFor =
    scala.collection.mutable.Set.empty[(org.apache.spark.sql.SparkSession, String)]

  /** qa05's 100 TB mode, isolated so PlanShapeSpec can gate ITS plan:
    * the same one-pass profile with every exact countDistinct swapped
    * for an approximate-NDV sketch. Swapping doesn't just keep the plan —
    * it DROPS the Expand (no distinct aggs remain to expand), leaving one
    * scan feeding one partial/final aggregate pair.
    *
    * Estimator (optimization round 15): Datasketches HLL
    * (hll_sketch_agg, lgConfigK=14 — the same ~1% error class as
    * approx_count_distinct rsd=0.01) instead of Spark's HLL++. The HLL++
    * buffer at rsd=0.01 is ~1.6k flat LONG columns PER AGG, and
    * HashAggregate's codegen unrolls over every buffer column — one
    * rsd=0.01 agg measured ~0.9 s on a 5000-row input (vs 0.09 s at the
    * default rsd), input-size-independent pure codegen overhead; four of
    * them put qa07 at ~2.4 s before any real work. The sketch agg keeps
    * ONE compact binary buffer per column (ObjectHashAggregate), same
    * single-scan no-Expand plan, ~20x faster at this precision. */
  def approxProfile(s: org.apache.spark.sql.SparkSession,
                    d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .agg(
        count(lit(1)).as("n_rows"),
        hll_sketch_estimate(hll_sketch_agg(col("doc_id"), lit(14))).as("ad_doc_id"),
        hll_sketch_estimate(hll_sketch_agg(col("lang"), lit(14))).as("ad_lang"),
        hll_sketch_estimate(hll_sketch_agg(col("source"), lit(14))).as("ad_source"),
        hll_sketch_estimate(hll_sketch_agg(col("n_chars"), lit(14))).as("ad_n_chars"))

  override val queries: Map[String, Q] = Map(
    // --- uncorrelated scalar subquery (exact max: portable across engines) ---
    "q39_scalar_subquery" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("q39_orders")
      s.sql("""
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM q39_orders
        WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM q39_orders)
        ORDER BY o_orderkey""")
    },

    // --- IN + NOT IN predicate subqueries (semi/anti join decorrelation) ---
    "q40_in_subquery" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("q40_customer")
      Tables.orders(s, d).createOrReplaceTempView("q40_orders")
      s.sql("""
        SELECT c_custkey, c_name
        FROM q40_customer
        WHERE c_custkey IN (SELECT o_custkey FROM q40_orders WHERE o_totalprice > 300000)
          AND c_custkey NOT IN (SELECT o_custkey FROM q40_orders WHERE o_totalprice < 2000)
        ORDER BY c_custkey""")
    },

    // --- correlated scalar subquery (per-row count -> decorrelated join) ---
    "q41_correlated_count" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("q41_orders")
      Tables.lineitem(s, d).createOrReplaceTempView("q41_lineitem")
      s.sql("""
        SELECT o_orderkey,
               (SELECT count(*) FROM q41_lineitem l
                WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 30) AS n_big_items
        FROM q41_orders o
        WHERE o_orderkey < 2000
        ORDER BY o_orderkey""")
    },

    // --- LATERAL correlated subquery: top-2 orders per customer ---
    "q42_lateral_topk" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("q42_customer")
      Tables.orders(s, d).createOrReplaceTempView("q42_orders")
      s.sql("""
        SELECT c.c_custkey, o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice
        FROM q42_customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM q42_orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        WHERE c.c_custkey < 100
        ORDER BY c_custkey, o_orderkey""")
    },

    // --- unpivot / melt (wide -> long) ---
    "q43_unpivot" -> { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_partkey") <= 200)
        .select(col("p_partkey"),
          col("p_size").cast("double").as("size"),
          round(col("p_retailprice"), 2).as("retailprice"))
        .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
          "metric", "val")
        .orderBy("p_partkey", "metric")
    },

    // --- PIVOT (long -> wide, the unpivot inverse): explicit value list,
    //     so the output schema is static and the plan is ONE partial-agg
    //     pass (RelationalGroupedDataset.pivot lowers to conditional
    //     aggregates — no per-value scans, no transpose shuffle beyond
    //     the group-by's own exchange) ---
    "q62_pivot" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy("source")
        .pivot("lang", Seq("en", "de", "fr"))
        .agg(count(lit(1)))
        .select(col("source"),
          coalesce(col("en"), lit(0L)).as("en_docs"),
          coalesce(col("de"), lit(0L)).as("de_docs"),
          coalesce(col("fr"), lit(0L)).as("fr_docs"))
        .orderBy("source")
    },

    // --- RECURSIVE CTE (Spark 4's UnionLoop): iterate-to-fixpoint through
    //     the SQL front door — per level ONE equi-join of the frontier
    //     against the child relation + dedupless UNION ALL accumulation,
    //     the same per-iteration shape as the hand-rolled CC/PageRank
    //     loops but driven by the engine. Hierarchy = the implicit binary
    //     tree over contiguous customer keys (parent = k div 2), so depth
    //     counts are fully deterministic and engine-independent ---
    "q63_recursive_cte" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("q63_customer")
      s.sql("""
        WITH RECURSIVE tree(k, depth) AS (
          SELECT CAST(1 AS BIGINT) AS k, 0 AS depth
          UNION ALL
          SELECT c.c_custkey, t.depth + 1
          FROM q63_customer c JOIN tree t
            ON (c.c_custkey div 2) = t.k
          WHERE t.depth < 30
        )
        SELECT depth, count(*) AS n_nodes, min(k) AS min_key, max(k) AS max_key
        FROM tree GROUP BY depth ORDER BY depth""")
    },

    // --- one-pass column profiling (the data-QA summary a training
    //     pipeline runs on every ingest batch): per column null count,
    //     exact NDV, min/max — ONE scan, one aggregate node (the multi-
    //     distinct lowers to Catalyst's Expand plan: rows × #distinct-aggs,
    //     each partial-aggregated map-side). At 100 TB swap countDistinct
    //     for approx_count_distinct (the q28 HLL family) — the plan shape
    //     (single scan, single agg) is unchanged; exact NDV here keeps the
    //     gate DuckDB-replayable. Long output via stack() so adding a
    //     column adds a row, not a schema migration ---
    "qa05_column_profile" -> { (s, d) =>
      // fanOut: the multi-distinct Expand (x4 rows) + percentile buffers
      // otherwise run on one task over a 1-split local input
      graft.core.Parallelism.fanOut(Tables.documents(s, d))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("doc_id").isNull.cast("long")).as("nn_doc_id"),
          countDistinct(col("doc_id")).as("nd_doc_id"),
          min(col("doc_id")).cast("string").as("mn_doc_id"),
          max(col("doc_id")).cast("string").as("mx_doc_id"),
          sum(col("lang").isNull.cast("long")).as("nn_lang"),
          countDistinct(col("lang")).as("nd_lang"),
          min(col("lang")).as("mn_lang"),
          max(col("lang")).as("mx_lang"),
          sum(col("source").isNull.cast("long")).as("nn_source"),
          countDistinct(col("source")).as("nd_source"),
          min(col("source")).as("mn_source"),
          max(col("source")).as("mx_source"),
          sum(col("n_chars").isNull.cast("long")).as("nn_n_chars"),
          countDistinct(col("n_chars")).as("nd_n_chars"),
          min(col("n_chars")).cast("string").as("mn_n_chars"),
          max(col("n_chars")).cast("string").as("mx_n_chars"),
          // the quantile row of the profile: exact p50 for the numeric
          // columns (same single agg node — percentile is one more
          // buffer, not another scan); strings carry NULL. DECIMAL(20,1)
          // rendering because an exact-median of integers is x.0 or x.5
          // and decimal strings render identically across engines
          expr("percentile(doc_id, 0.5D)").cast("decimal(20,1)")
            .cast("string").as("p50_doc_id"),
          expr("percentile(n_chars, 0.5D)").cast("decimal(20,1)")
            .cast("string").as("p50_n_chars"))
        .select(col("n_rows"), expr(
          """stack(4,
               'doc_id',  nn_doc_id,  nd_doc_id,  mn_doc_id,  mx_doc_id,  p50_doc_id,
               'lang',    nn_lang,    nd_lang,    mn_lang,    mx_lang,    CAST(NULL AS STRING),
               'source',  nn_source,  nd_source,  mn_source,  mx_source,  CAST(NULL AS STRING),
               'n_chars', nn_n_chars, nd_n_chars, mn_n_chars, mx_n_chars, p50_n_chars)
             AS (column_name, n_nulls, n_distinct, min_val, max_val, p50_val)"""))
        .select("column_name", "n_rows", "n_nulls", "n_distinct",
          "min_val", "max_val", "p50_val")
        .orderBy("column_name")
    },

    // --- the 100 TB mode of qa05, gated not asserted: every exact
    //     countDistinct swapped for approx_count_distinct (the q28 HLL
    //     family) — the plan LOSES the Expand entirely (no distinct
    //     aggs left to expand), leaving ONE scan and ONE partial/final
    //     aggregate pair; PlanShapeSpec proves both shapes. The gate
    //     carries exact counts bit-exactly plus in-query booleans
    //     holding each estimate to 5% (oracle replays TRUE, so estimate
    //     drift FAILS the hash gate — the q57 sketch-evidence pattern) ---
    "qa07_column_profile_approx" -> { (s, d) =>
      // approxProfile IS the production path (one scan — PlanShapeSpec
      // gates its plan); the exact-NDV side here is gate evidence only
      val approx = approxProfile(s, d)
      // EVIDENCE arm (bench budget, round 15): four independent two-phase
      // distinct aggregates (partial-distinct -> count) unioned, instead of
      // one 4-way multi-distinct whose Expand pushes 5x rows with four
      // hash-map buffers through a single aggregate. Each scan is one
      // column of the (bench-cached) table; values are identical.
      val docs = Tables.documents(s, d)
      val exact = Seq("doc_id", "lang", "source", "n_chars")
        .map(c => docs.agg(countDistinct(col(c)).as("n_distinct_exact"))
          .select(lit(c).as("column_name"), col("n_distinct_exact")))
        .reduce(_.unionByName(_))
      val approxLong = approx.select(col("n_rows"), expr(
        """stack(4,
             'doc_id',  ad_doc_id,
             'lang',    ad_lang,
             'source',  ad_source,
             'n_chars', ad_n_chars)
           AS (column_name, est)"""))
      approxLong.join(exact, "column_name")
        .select(col("column_name"), col("n_rows"), col("n_distinct_exact"),
          (abs(col("est") - col("n_distinct_exact")) <=
            greatest(lit(2L), (col("n_distinct_exact") * lit(0.05))
              .cast("long"))).as("est_within_5pct"))
        .orderBy("column_name")
    },

    // --- event-transition matrix (the clickstream/markov summary behind
    //     next-action models and funnel diagnostics): per user, adjacent
    //     event pairs via ONE lead window (partitioned on the user key —
    //     scales horizontally, state is one row), then a keyed count.
    //     Deterministic: the window orders by (ts, event_id) so same-
    //     timestamp events tie-break identically in both engines ---
    "qa06_event_transitions" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    },

    // --- bucketed-table co-located join: both facts bucketed+sorted by the
    //     join key at write time; the merge join then needs no exchange
    //     (plan asserted in BucketingSpec) ---
    "q44_bucketed_join" -> { (s, d) =>
      // Bucketed tables are written ONCE per (session, sf dir) and reused by
      // every subsequent run: that is the actual production pattern — the
      // one-time bucket shuffle is amortized across all later co-located
      // joins, which is the whole point of bucketing at 100 TB.
      // Table names carry the dataset-dir fingerprint: a session that
      // alternates between sf dirs gets distinct table pairs instead of
      // silently reading the other dir's buckets.
      val tag = java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(d) & 0xffffffffL)
      val (liTable, ordTable) = (s"q44_li_bucketed_$tag", s"q44_ord_bucketed_$tag")
      AdvancedQueries.synchronized {
        if (!bucketedFor.contains((s, d))) {
          val liPath = graft.core.TempDirs.create("graft_bk_li_")
          val ordPath = graft.core.TempDirs.create("graft_bk_ord_")
          Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
            .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", liPath).mode("overwrite").saveAsTable(liTable)
          Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
            .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .option("path", ordPath).mode("overwrite").saveAsTable(ordTable)
          bucketedFor += ((s, d))
        }
      }
      // MERGE hint pins sort-merge (vs broadcast) so the exchange-free
      // bucketed path is what actually runs, independent of size estimates
      s.table(liTable).hint("merge")
        .join(s.table(ordTable), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy("o_orderpriority")
    },

    // --- analytic windows with IGNORE NULLS (gap-fill / last-observation-
    //     carried-forward, the standard time-series pattern) ---
    "q46_ignore_nulls" -> { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("q46_events")
      s.sql("""
        SELECT event_id, user_id,
          round(last_value(CASE WHEN event_type = 'purchase' THEN value END) IGNORE NULLS
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS last_purchase
        FROM q46_events
        WHERE user_id < 20
        ORDER BY user_id, event_id""")
    },

    // --- distribution ranks: percent_rank / cume_dist ---
    "q47_rank_distribution" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d)
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .filter(col("c_custkey") <= 200)
        .select("c_custkey", "pr", "cd")
        .orderBy("c_custkey")
    },

    // --- regexp family: extract / extract_all / replace ---
    "q48_regexp_family" -> { (s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z]+ing\\b"), lit(0))).as("n_ing"),
          regexp_extract(col("text"), "^(\\w+) (\\w+)", 2).as("second_word"),
          regexp_replace(substring(col("text"), 1, 40), "[aeiou]", "_").as("devoweled"))
        .orderBy("doc_id")
    },

    // --- robust statistics aggregates: exact median, sample stddev, corr ---
    "q49_stats_aggs" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(median(col("l_quantity")), 4).as("med_qty"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"))
        .orderBy("l_returnflag")
    },

    // --- keyed upsert (MERGE INTO semantics on plain parquet): updated
    //     rows win on key collision, inserts appended, untouched rows kept
    //     via anti join ---
    "q53_upsert_merge" -> { (s, d) =>
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      val upd = cust.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2))
        .withColumn("c_mktsegment", lit("UPDATED"))
      val ins = Tables.region(s, d).select(
        (col("r_regionkey").cast("long") + 900000).as("c_custkey"),
        concat(lit("NEW-"), col("r_name")).as("c_name"),
        lit(0).cast("int").as("c_nationkey"),
        lit(0.0).as("c_acctbal"),
        lit("NEWSEG").as("c_mktsegment"))
      graft.operators.Upsert.upsert(cust, upd.unionByName(ins), Seq("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("total_bal"))
        .orderBy("c_mktsegment")
    },

    // --- blocked fuzzy match: levenshtein pairs within a prefix block —
    //     the edit-distance member of the dedup family (blocking keeps it
    //     off the all-pairs cliff, same discipline as LSH/banding) ---
    "q55_fuzzy_match" -> { (s, d) =>
      val c = Tables.customer(s, d)
        .filter(col("c_custkey") <= 1500)
        .select(col("c_custkey"), col("c_name"),
          substring(col("c_name"), 1, 16).as("blk"))
      c.as("a").join(c.as("b"),
          col("a.blk") === col("b.blk") && col("a.c_custkey") < col("b.c_custkey"))
        .withColumn("dist", levenshtein(col("a.c_name"), col("b.c_name")))
        .filter(col("dist") <= 2)
        .groupBy("dist")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("dist")
    },

    // --- SCD type-2 history: each change closes the open version and
    //     appends a new one (valid_from/valid_to tracking) ---
    "q54_scd2_history" -> { (s, d) =>
      val current = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          lit("2020-01-01").as("valid_from"),
          lit(null).cast("string").as("valid_to"))
      val changes = Tables.customer(s, d)
        .filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), lit("MOVED").as("c_mktsegment"),
          lit("2024-06-01").as("chg_ts"))
      graft.operators.Scd2.applyChanges(current, changes, Seq("c_custkey"), "chg_ts")
        .groupBy("c_mktsegment", "valid_to")
        .agg(count(lit(1)).as("n"))
        .select(col("c_mktsegment"), coalesce(col("valid_to"), lit("open")).as("until"),
          col("n"))
        .orderBy("c_mktsegment", "until")
    },

    // --- batch sessionization: lag + gap flag + running sum, the batch
    //     twin of the streaming session_window (qs03) — same 30-minute gap
    //     rule, so the two paths are mutually checkable ---
    "q52_batch_sessionize" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts")
      val run = Window.partitionBy("user_id").orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"))
        .withColumn("gap_s",
          col("ts").cast("long") - lag(col("ts").cast("long"), 1).over(byUser))
        .withColumn("new_session",
          when(col("gap_s").isNull || col("gap_s") >= 1800, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(run))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_session_events"))
        .orderBy("user_id")
    },

    // --- bitwise aggregates + ANSI-safe arithmetic (try_divide returns
    //     null on /0 instead of failing the job under ANSI mode) ---
    "q51_bitwise_try" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          bit_and(col("l_orderkey")).as("key_band"),
          bit_or(col("l_orderkey")).as("key_bor"),
          bit_xor(col("l_orderkey")).as("key_bxor"),
          round(sum(try_divide(col("l_extendedprice"), col("l_quantity") - 30)), 2)
            .as("sum_safe_ratio"))
        .orderBy("l_returnflag")
    },

    // --- salted skew join: deterministic salt spreads a hot key over
    //     saltFactor reducers; result identical to the plain join ---
    "qk01_salted_join" -> { (s, d) =>
      val facts = Tables.orders(s, d)
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      graft.operators.SkewJoin.saltedJoin(facts, dim, "custkey", saltFactor = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("c_mktsegment")
    },

    // --- storage-partitioned reads (sources/KeyedLogSource): two dirs
    //     clustered by key report KeyGroupedPartitioning, so BOTH key
    //     aggregations and the join between them plan with ZERO exchanges
    //     — the connector analogue of bucketed tables (plan shape pinned
    //     in DataSourceSpec; here the end-to-end result goes through the
    //     oracle). Child session: key-grouped reads are opt-in via
    //     spark.sql.sources.v2.bucketing.enabled ---
    "qk02_storage_partitioned" -> { (s0, d) =>
      val s = isolatedSession(s0)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val facts = graft.core.TempDirs.create("graft_spj_f_")
      val dims = graft.core.TempDirs.create("graft_spj_d_")
      val docs = Tables.documents(s, d)
      docs.select(col("lang").as("key"), col("doc_id").as("seq"),
          col("n_chars").as("metric"))
        .write.format("graft.sources.KeyedLogSource")
        .option("clusterByKey", "true").mode("append").save(facts)
      docs.filter(col("doc_id") % 3 === 0)
        .select(col("lang").as("key"), col("doc_id").as("seq"),
          col("n_chars").as("metric"))
        .write.format("graft.sources.KeyedLogSource")
        .option("clusterByKey", "true").mode("append").save(dims)
      def load(dir: String) =
        s.read.format("graft.sources.KeyedLogSource").load(dir)
      load(facts).groupBy("key")
        .agg(sum("metric").as("total_chars"), count(lit(1)).as("n_docs"))
        .join(load(dims).groupBy("key")
          .agg(sum("metric").as("sample_chars")), Seq("key"))
        .orderBy("key")
    },

    // --- CROSS-FORMAT storage-partitioned join: a manifest table and a
    //     keyedlog table both declared PARTITIONED BY (bucket(8, ...))
    //     share the murmur3 bucket space (manifest: repartition placement;
    //     keyedlog: per-key file groups merged by bucket at scan time), so
    //     their join plans with ZERO exchanges across two different
    //     storage formats (plan pinned in BucketedTableSpec; the result
    //     goes through the oracle). Child session: SPJ confs are opt-in ---
    "qk03_cross_format_spj" -> { (s0, d) =>
      val s = isolatedSession(s0)
      graft.catalog.GraftCatalog.register(s, "graft_xf",
        graft.core.TempDirs.create("graft_xf_root_"))
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_xf.db")
      Tables.documents(s, d).createOrReplaceTempView("qk03_documents")
      s.sql("CREATE TABLE graft_xf.db.corpus (lang STRING, doc_id BIGINT, n_chars BIGINT) " +
        "USING manifest PARTITIONED BY (bucket(8, lang))")
      s.sql("CREATE TABLE graft_xf.db.activity (key STRING, seq BIGINT, metric BIGINT) " +
        "USING keyedlog PARTITIONED BY (bucket(8, key))")
      s.sql("INSERT INTO graft_xf.db.corpus SELECT lang, doc_id, n_chars FROM qk03_documents")
      s.sql("INSERT INTO graft_xf.db.activity " +
        "SELECT lang, doc_id, n_chars FROM qk03_documents WHERE doc_id % 3 = 0")
      s.sql("""SELECT c.lang, count(*) AS n_docs, sum(c.n_chars) AS total_chars,
          max(a.sample_chars) AS sample_chars
        FROM graft_xf.db.corpus c
        JOIN (SELECT key, sum(metric) AS sample_chars
              FROM graft_xf.db.activity GROUP BY key) a
          ON c.lang = a.key
        GROUP BY c.lang ORDER BY c.lang""")
    },

    // --- keyedlog CDC (sources/KeyedLogVersionLog): the commit journal
    //     gives the append-only log format the same incremental-read
    //     surface manifest tables have — each SQL INSERT (or streaming
    //     epoch) journals one version; start_version serves exactly the
    //     files later commits added; t.history lists the journal ---
    "qk04_keyedlog_cdc" -> { (s0, d) =>
      val s = isolatedSession(s0)
      graft.catalog.GraftCatalog.register(s, "graft_kc",
        graft.core.TempDirs.create("graft_kc_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_kc.db")
      Tables.documents(s, d).createOrReplaceTempView("qk04_documents")
      s.sql("CREATE TABLE graft_kc.db.activity (key STRING, seq BIGINT, metric BIGINT) " +
        "USING keyedlog")
      s.sql("INSERT INTO graft_kc.db.activity " +
        "SELECT lang, doc_id, n_chars FROM qk04_documents WHERE doc_id % 2 = 0") // journal v0
      s.sql("INSERT INTO graft_kc.db.activity " +
        "SELECT lang, doc_id, n_chars FROM qk04_documents WHERE doc_id % 2 = 1") // journal v1
      val versions = s.sql(
        "SELECT count(*) FROM graft_kc.db.activity.history").head().getLong(0)
      s.read.option("start_version", "0").table("graft_kc.db.activity")
        .groupBy("key")
        .agg(count(lit(1)).as("n_new"), sum("metric").as("new_chars"))
        .withColumn("journal_versions", lit(versions))
        .orderBy("key")
    },

    // --- keyedlog t.changes (catalog/KeyedLogChanges): the _change_type-
    //     tagged CDC feed over the commit journal — normal commits emit
    //     'insert' post-images; a compaction journals the whole rewritten
    //     set as ONE 'rewrite' (refresh/upsert) event superseding every
    //     earlier version in the window; a row-level UPDATE journals an
    //     rm/ad rewrite served as DELETE pre-images (from the swap's .rm-
    //     tombstones) + INSERT post-images, the manifest feed's pair
    //     contract at file granularity — and the replaced v3 insert still
    //     serves its pre-update image from the tombstone ---
    "qk05_keyedlog_changes" -> { (s0, d) =>
      val s = isolatedSession(s0)
      graft.catalog.GraftCatalog.register(s, "graft_kx",
        graft.core.TempDirs.create("graft_kx_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_kx.db")
      Tables.documents(s, d).createOrReplaceTempView("qk05_documents")
      // bucket-declared: every write clusters (one file per key), so the
      // UPDATE's matched-file set is exactly the 'de' files — the feed's
      // delete/insert pair content is deterministic at any partitioning
      s.sql("CREATE TABLE graft_kx.db.activity (key STRING, seq BIGINT, metric BIGINT) " +
        "USING keyedlog PARTITIONED BY (bucket(2, key))")
      s.sql("INSERT INTO graft_kx.db.activity " +
        "SELECT lang, doc_id, n_chars FROM qk05_documents WHERE doc_id % 3 = 0") // journal v0
      s.sql("INSERT INTO graft_kx.db.activity " +
        "SELECT lang, doc_id, n_chars FROM qk05_documents WHERE doc_id % 3 = 1") // journal v1
      s.sql("CALL graft_kx.system.compact('db.activity')")                       // journal v2 (rewrite)
      s.sql("INSERT INTO graft_kx.db.activity " +
        "SELECT lang, doc_id, n_chars FROM qk05_documents WHERE doc_id % 3 = 2") // journal v3
      s.sql("UPDATE graft_kx.db.activity SET metric = metric + 1000000 " +
        "WHERE key = 'de'")                                     // journal v4 (rm/ad rewrite)
      // window (0, head]: v1's insert is superseded by the v2 rewrite, so
      // the feed = rewrite rows (all of v0+v1, pre-update images via the
      // replaced de file's tombstone) + v3's insert rows (de file likewise
      // tombstone-served) + v4's delete pre-images and insert post-images
      s.read.option("start_version", "0").table("graft_kx.db.activity.changes")
        .groupBy(col("_change_type").as("change_type"), col("key"))
        .agg(count(lit(1)).as("n_rows"), sum("metric").as("sum_chars"))
        .orderBy("change_type", "key")
    },

    // --- planning-time key pruning (sources/KeyedLogSource): on a
    //     key-clustered dir every file name carries its key, so a pushed
    //     `key = v` plans ONE file group — the point lookup on a 100 TB
    //     clustered log opens one file, not the directory. The planned
    //     partition count rides the result (clusterByKey's declared
    //     distribution writes exactly one file per key, so 1 is
    //     structural); the aggregate proves the pruned scan answers
    //     exactly ---
    "qk06_key_pruned_lookup" -> { (s, d) =>
      import s.implicits._
      val dir = graft.core.TempDirs.create("graft_klookup_")
      Tables.documents(s, d)
        .select(col("lang").as("key"), col("doc_id").as("seq"),
          col("n_chars").as("metric"))
        .write.format("graft.sources.KeyedLogSource")
        .option("clusterByKey", "true").mode("append").save(dir)
      val lookup = s.read.format("graft.sources.KeyedLogSource").load(dir)
        .filter(col("key") === "en")
      val planned = lookup.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
      val agg = lookup.agg(count(lit(1)).as("n"),
        sum("metric").cast("long").as("c")).head()
      Seq((planned.toLong, agg.getLong(0), agg.getLong(1)))
        .toDF("files_planned", "n_docs", "total_chars")
    },

    // --- keyedlog METADATA row-level DELETE (KeyedLogTable.deleteWhere):
    //     a key-clustered layout holds one key per `-K=` file, so a key
    //     predicate deletes by DROPPING whole files — no read, no rewrite
    //     (the delete-by-partition fast path on the key dimension), the
    //     surviving set journaled as a rewrite. Structural booleans: only
    //     the matched key's files disappeared, every survivor untouched;
    //     the remaining per-key aggregate replays exactly ---
    "qk07_keyedlog_delete" -> { (s0, d) =>
      import org.apache.hadoop.fs.Path
      val s = isolatedSession(s0)
      import s.implicits._
      graft.catalog.GraftCatalog.register(s, "graft_kd",
        graft.core.TempDirs.create("graft_kd_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_kd.db")
      Tables.documents(s, d).createOrReplaceTempView("qk07_documents")
      s.sql("CREATE TABLE graft_kd.db.activity (key STRING, seq BIGINT, metric BIGINT) " +
        "USING keyedlog PARTITIONED BY (bucket(4, key))") // bucketed => every write clusters
      s.sql("INSERT INTO graft_kd.db.activity " +
        "SELECT lang, doc_id, n_chars FROM qk07_documents")
      val dir = s.sql("SHOW TBLPROPERTIES graft_kd.db.activity").collect()
        .find(_.getString(0) == "graft.location").get.getString(1)
      val fs = graft.core.LakeStorage.openFor(dir)
      def files(): Map[String, Long] = fs.listStatus(new Path(dir))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(st => st.getPath.getName -> st.getModificationTime).toMap
      val before = files()
      s.sql("DELETE FROM graft_kd.db.activity WHERE key = 'de'")
      val after = files()
      val dropped = before.keySet -- after.keySet
      val droppedOnlyDe = dropped.nonEmpty && dropped.forall(_.contains("-K=de"))
      // survivors byte-untouched (same names, same mtimes): the delete
      // was metadata-only, no rewrite anywhere
      val survivorsUntouched = after == before.view.filterKeys(!dropped(_)).toMap
      s.table("graft_kd.db.activity")
        .groupBy(col("key").as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("metric").cast("long").as("total_chars"))
        .withColumn("files_dropped_only_de", lit(droppedOnlyDe))
        .withColumn("survivors_untouched", lit(survivorsUntouched))
        .orderBy("lang")
    },

    // --- keyedlog row-level UPDATE + MERGE (KeyedLogRowLevelOperation):
    //     group-based copy-on-write at FILE granularity — Spark's runtime
    //     group filter evaluates the command's condition, hands the
    //     matched `_klfile` set back to the scan, and ONLY those files
    //     are rewritten (staged hidden, swapped at job commit, journaled
    //     as one rewrite entry). Structural booleans: a key-predicate
    //     UPDATE replaces exactly the matched key's files (bucket-
    //     declared table ⇒ rewrites stay `-K=`-clustered), every other
    //     file byte-untouched; the MERGE then upserts through the same
    //     machinery and the final per-key aggregate replays exactly ---
    "qk08_keyedlog_update" -> { (s0, d) =>
      import org.apache.hadoop.fs.Path
      val s = isolatedSession(s0)
      import s.implicits._
      graft.catalog.GraftCatalog.register(s, "graft_ku",
        graft.core.TempDirs.create("graft_ku_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ku.db")
      Tables.documents(s, d).createOrReplaceTempView("qk08_documents")
      s.sql("CREATE TABLE graft_ku.db.activity (key STRING, seq BIGINT, metric BIGINT) " +
        "USING keyedlog PARTITIONED BY (bucket(4, key))")
      s.sql("INSERT INTO graft_ku.db.activity " +
        "SELECT lang, doc_id, n_chars FROM qk08_documents")
      val dir = s.sql("SHOW TBLPROPERTIES graft_ku.db.activity").collect()
        .find(_.getString(0) == "graft.location").get.getString(1)
      val fs = graft.core.LakeStorage.openFor(dir)
      def files(): Map[String, Long] = fs.listStatus(new Path(dir))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(st => st.getPath.getName -> st.getModificationTime).toMap
      val before = files()
      s.sql("UPDATE graft_ku.db.activity SET metric = metric + 1000000 " +
        "WHERE key = 'en'")
      val after = files()
      val replaced = before.keySet -- after.keySet
      val added = after.keySet -- before.keySet
      // file granularity: only en files rewritten, replacements clustered
      val updateFileGranular = replaced.nonEmpty &&
        replaced.forall(_.contains("-K=en")) && added.nonEmpty &&
        added.forall(_.contains("-K=en"))
      // survivors byte-untouched (same names, same mtimes)
      val survivorsUntouched =
        after.view.filterKeys(!added(_)).toMap ==
          before.view.filterKeys(!replaced(_)).toMap
      s.sql("""SELECT lang AS key, doc_id AS seq, CAST(-1 AS BIGINT) AS metric
               FROM qk08_documents WHERE doc_id % 7 = 0
               UNION ALL
               SELECT 'xx' AS key, doc_id + 1000000 AS seq, CAST(5 AS BIGINT) AS metric
               FROM qk08_documents WHERE doc_id % 50 = 0""")
        .createOrReplaceTempView("qk08_src")
      // all THREE arm families: matched update, not-matched insert, and
      // the BY SOURCE arms a CDC replica needs to age/drop target rows
      // absent from the source (conditional DELETE + catch-all UPDATE)
      s.sql("""MERGE INTO graft_ku.db.activity t USING qk08_src s
               ON t.key = s.key AND t.seq = s.seq
               WHEN MATCHED THEN UPDATE SET metric = s.metric
               WHEN NOT MATCHED THEN INSERT *
               WHEN NOT MATCHED BY SOURCE AND t.key = 'de' THEN DELETE
               WHEN NOT MATCHED BY SOURCE AND t.key = 'fr' THEN UPDATE SET metric = 0""")
      s.table("graft_ku.db.activity")
        .groupBy(col("key").as("lang"))
        .agg(count(lit(1)).as("n_rows"),
          sum("metric").cast("long").as("total_metric"))
        .withColumn("update_file_granular", lit(updateFileGranular))
        .withColumn("survivors_untouched", lit(survivorsUntouched))
        .orderBy("lang")
    },

    // --- keyedlog VERSION AS OF time travel (KeyedLogScan asOf arm):
    //     the journal's live set at v, each name served from visible
    //     data or — when a later row-level swap / metadata DELETE
    //     replaced it — its `.rm-` tombstone copy (files are immutable
    //     once visible, so the tombstone IS the pre-image; retention =
    //     the vacuum orphan sweep). Four snapshots of one table replay
    //     exactly: pre-second-insert, pre-UPDATE (both entirely
    //     tombstone-backed for the later-touched keys), post-UPDATE
    //     pre-DELETE, and the live head ---
    "qk09_keyedlog_time_travel" -> { (s0, d) =>
      val s = isolatedSession(s0)
      graft.catalog.GraftCatalog.register(s, "graft_kt",
        graft.core.TempDirs.create("graft_kt_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_kt.db")
      Tables.documents(s, d).createOrReplaceTempView("qk09_documents")
      s.sql("CREATE TABLE graft_kt.db.activity (key STRING, seq BIGINT, metric BIGINT) " +
        "USING keyedlog PARTITIONED BY (bucket(2, key))")
      s.sql("INSERT INTO graft_kt.db.activity " +
        "SELECT lang, doc_id, n_chars FROM qk09_documents WHERE doc_id % 2 = 0") // v0
      s.sql("INSERT INTO graft_kt.db.activity " +
        "SELECT lang, doc_id, n_chars FROM qk09_documents WHERE doc_id % 2 = 1") // v1
      s.sql("UPDATE graft_kt.db.activity SET metric = metric + 1000000 " +
        "WHERE key = 'de'")                                                      // v2 (swap)
      s.sql("DELETE FROM graft_kt.db.activity WHERE key = 'fr'")                 // v3 (metadata)
      def snap(label: String, from: String) =
        s.sql(s"SELECT '$label' AS snap, key AS lang, count(*) AS n_docs, " +
          s"CAST(sum(metric) AS BIGINT) AS total_metric FROM $from GROUP BY key")
      snap("v0", "graft_kt.db.activity VERSION AS OF 0")
        .unionAll(snap("v1", "graft_kt.db.activity VERSION AS OF 1"))
        .unionAll(snap("v2", "graft_kt.db.activity VERSION AS OF 2"))
        .unionAll(snap("v9_live", "graft_kt.db.activity"))
        .orderBy("snap", "lang")
    },

    // --- keyedlog RESTORE (CALL rollback keyedlog arm): the live set is
    //     made equal to an old version's again as a NEW journal version,
    //     resurrecting replaced/dropped files from their .rm- tombstones.
    //     The gate restores across BOTH swap kinds (row-level UPDATE and
    //     metadata DELETE), proves the restored content bit-exact, and
    //     shows the pre-restore state stays time-travelable (history is
    //     never rewritten) ---
    "qk10_keyedlog_restore" -> { (s0, d) =>
      val s = isolatedSession(s0)
      graft.catalog.GraftCatalog.register(s, "graft_kr",
        graft.core.TempDirs.create("graft_kr_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_kr.db")
      Tables.documents(s, d).createOrReplaceTempView("qk10_documents")
      s.sql("CREATE TABLE graft_kr.db.activity (key STRING, seq BIGINT, metric BIGINT) " +
        "USING keyedlog PARTITIONED BY (bucket(2, key))")
      s.sql("INSERT INTO graft_kr.db.activity " +
        "SELECT lang, doc_id, n_chars FROM qk10_documents")                      // v0
      s.sql("UPDATE graft_kr.db.activity SET metric = metric + 1000000 " +
        "WHERE key = 'de'")                                                      // v1 (swap)
      s.sql("DELETE FROM graft_kr.db.activity WHERE key = 'fr'")                 // v2 (metadata)
      s.sql("CALL graft_kr.system.rollback('db.activity', 0)")                   // v3 = restore
      def snap(label: String, from: String) =
        s.sql(s"SELECT '$label' AS snap, key AS lang, count(*) AS n_docs, " +
          s"CAST(sum(metric) AS BIGINT) AS total_metric FROM $from GROUP BY key")
      // restored head = the v0 image; the damaged (v2) state remains
      // readable AS OF — a restore adds history, never rewrites it
      snap("restored", "graft_kr.db.activity")
        .unionAll(snap("pre_restore", "graft_kr.db.activity VERSION AS OF 2"))
        .orderBy("snap", "lang")
    },

    // --- keyedlog SCHEMA EVOLUTION (ALTER TABLE ... ADD COLUMNS on the
    //     keyed document store — GraftCatalog.alterKeyedLog): appended
    //     nullable STRING/BIGINT columns ride the line format as
    //     positional fields 4..n, so files written BEFORE the column
    //     existed read NULL for it (the manifest null-fill rule,
    //     expressed by the TSV format itself) and later writes carry the
    //     full width. The gate drifts the schema mid-table, then proves
    //     the extras survive BOTH rewrite paths — a row-level UPDATE and
    //     a full compaction — and that a tab inside a STRING extra cannot
    //     corrupt the framing (values are URL-encoded on the line) ---
    "qk11_keyedlog_add_columns" -> { (s0, d) =>
      val s = isolatedSession(s0)
      graft.catalog.GraftCatalog.register(s, "graft_ka",
        graft.core.TempDirs.create("graft_ka_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ka.db")
      Tables.documents(s, d).createOrReplaceTempView("qk11_documents")
      s.sql("CREATE TABLE graft_ka.db.docs (key STRING, seq BIGINT, " +
        "metric BIGINT) USING keyedlog")
      // pre-drift half: 3-column lines
      s.sql("INSERT INTO graft_ka.db.docs SELECT lang, doc_id, n_chars " +
        "FROM qk11_documents WHERE doc_id % 2 = 0")
      s.sql("ALTER TABLE graft_ka.db.docs ADD COLUMNS (src STRING, n_tokens BIGINT)")
      // post-drift half: full width, with an embedded TAB in the string
      // extra (the framing-hostile character the codec must survive)
      s.sql("INSERT INTO graft_ka.db.docs SELECT lang, doc_id, n_chars, " +
        "concat(source, chr(9), lang), n_chars div 5 " +
        "FROM qk11_documents WHERE doc_id % 2 = 1")
      // both rewrite paths must carry the extras through
      s.sql("UPDATE graft_ka.db.docs SET metric = metric + 1000000 " +
        "WHERE key = 'de'")
      s.sql("CALL graft_ka.system.compact('db.docs')")
      s.table("graft_ka.db.docs")
        .groupBy(col("key").as("lang"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("src")).as("n_with_src"),
          sum("n_tokens").cast("long").as("sum_tokens"),
          max("src").as("max_src"),
          sum("metric").cast("long").as("sum_metric"))
        .orderBy("lang")
    },

    // --- keyedlog STATS-SKIPPING (journal-carried file bounds): every
    //     write commit journals per-file [min,max] of the long-typed
    //     columns ("st" entries, accumulated at anchors so resolution
    //     stays O(AnchorInterval) reads), and the scan prunes files
    //     whose bounds cannot satisfy the pushed comparisons BEFORE
    //     split planning — the log-carried stats-skipping of the lake
    //     formats on the TSV document log, which has no footers to put
    //     bounds in. The first boolean proves real file skipping on a
    //     metric band; the second proves PRE-DRIFT files (written before
    //     an ADD COLUMNS) are pruned for comparisons on the new column —
    //     their stats entry simply has no key for it, and all-null
    //     matches no comparison ---
    "qk12_keyedlog_stats_pruning" -> { (s0, d) =>
      val s = isolatedSession(s0)
      graft.catalog.GraftCatalog.register(s, "graft_kst",
        graft.core.TempDirs.create("graft_kst_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_kst.db")
      Tables.documents(s, d).createOrReplaceTempView("qk12_documents")
      s.sql("CREATE TABLE graft_kst.db.docs (key STRING, seq BIGINT, " +
        "metric BIGINT) USING keyedlog")
      // three ingest batches with DISJOINT metric bands — an append
      // stream's natural arrival order, and why per-file bounds end up
      // tight enough to skip on
      s.sql("INSERT INTO graft_kst.db.docs SELECT lang, doc_id, n_chars " +
        "FROM qk12_documents WHERE n_chars < 200")
      s.sql("INSERT INTO graft_kst.db.docs SELECT lang, doc_id, n_chars " +
        "FROM qk12_documents WHERE n_chars >= 200 AND n_chars < 400")
      s.sql("INSERT INTO graft_kst.db.docs SELECT lang, doc_id, n_chars " +
        "FROM qk12_documents WHERE n_chars >= 400")
      s.sql("ALTER TABLE graft_kst.db.docs ADD COLUMNS (n_tokens BIGINT)")
      s.sql("INSERT INTO graft_kst.db.docs SELECT lang, doc_id, n_chars, " +
        "n_chars div 5 FROM qk12_documents WHERE doc_id % 7 = 0")
      // a plain filter scan plans one split per surviving file, so the
      // partition count IS the planned-file count
      def planned(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions
      val t = s.table("graft_kst.db.docs")
      val total = planned(t)
      val prunedBand = planned(t.filter(col("metric") >= 400L)) < total
      val prunedDrift = planned(t.filter(col("n_tokens") >= 0L)) < total
      t.filter(col("metric") >= 400L)
        .groupBy(col("key").as("lang"))
        .agg(count(lit(1)).as("n_rows"),
          sum("metric").cast("long").as("sum_metric"),
          sum("n_tokens").cast("long").as("sum_tokens"))
        .withColumn("pruned_band", lit(prunedBand))
        .withColumn("pruned_drift", lit(prunedDrift))
        .orderBy("lang")
    },

    // --- keyedlog stats BACKFILL (`CALL g.system.collect_stats` on a
    //     keyedlog table): tables written before stats existed become
    //     skippable WITHOUT rewriting a byte — one distributed text scan
    //     over exactly the stats-less files (positional fields parse
    //     without the format), one stats-only journal entry. The gate
    //     manufactures the pre-stats state by stripping the journal's
    //     "st" fields, proves nothing prunes, backfills, and proves the
    //     same filter now skips files — with the aggregate bit-exact
    //     throughout ---
    "qk13_keyedlog_stats_backfill" -> { (s0, d) =>
      val s = isolatedSession(s0)
      val rootDir = graft.core.TempDirs.create("graft_kbf_root_")
      graft.catalog.GraftCatalog.register(s, "graft_kbf", rootDir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_kbf.db")
      Tables.documents(s, d).createOrReplaceTempView("qk13_documents")
      s.sql("CREATE TABLE graft_kbf.db.docs (key STRING, seq BIGINT, " +
        "metric BIGINT) USING keyedlog")
      s.sql("INSERT INTO graft_kbf.db.docs SELECT lang, doc_id, n_chars " +
        "FROM qk13_documents WHERE n_chars < 200")
      s.sql("INSERT INTO graft_kbf.db.docs SELECT lang, doc_id, n_chars " +
        "FROM qk13_documents WHERE n_chars >= 200 AND n_chars < 400")
      s.sql("INSERT INTO graft_kbf.db.docs SELECT lang, doc_id, n_chars " +
        "FROM qk13_documents WHERE n_chars >= 400")
      // manufacture the pre-stats state: strip every journal "st" field
      graft.sources.KeyedLogVersionLog.entryPaths(s"$rootDir/db/docs",
          graft.core.LakeStorage.taskConf()).foreach { p =>
        val m = java.nio.file.Paths.get(p.toUri.getPath)
        val txt = new String(java.nio.file.Files.readAllBytes(m), "UTF-8")
        val j = org.json4s.jackson.JsonMethods.parse(txt)
          .removeField(_._1 == "st")
        java.nio.file.Files.write(m,
          org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(j)).getBytes("UTF-8"))
        ()
      }
      def planned(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions
      val t0 = s.table("graft_kbf.db.docs")
      val total = planned(t0)
      val noPruneBefore = planned(t0.filter(col("metric") >= 400L)) == total
      val backfilled = s.sql(
        "CALL graft_kbf.system.collect_stats('db.docs')").head().getLong(1)
      val t = s.table("graft_kbf.db.docs")
      val prunedAfter = planned(t.filter(col("metric") >= 400L)) < total
      t.filter(col("metric") >= 400L)
        .groupBy(col("key").as("lang"))
        .agg(count(lit(1)).as("n_rows"),
          sum("metric").cast("long").as("sum_metric"))
        .withColumn("no_prune_before", lit(noPruneBefore))
        .withColumn("pruned_after", lit(prunedAfter))
        .withColumn("backfilled_some", lit(backfilled > 0L))
        .orderBy("lang")
    },

    // --- keyedlog DEEP CLONE (the document store's DR / storage-tier
    //     migration): one consistent journal-resolved snapshot — taken
    //     AFTER a row-level rewrite, so the clone carries the live swap,
    //     never resurrected pre-images — is copy-verified (md5, staged
    //     renames, distributed above the size threshold) into the
    //     target's own root, journaled as its genesis WITH the source's
    //     column stats (copied bytes keep their skipping bounds), and
    //     published. The source's table AND directory are then removed
    //     outright; the clone keeps serving — full independence, the
    //     contract the booleans pin ---
    "qk14_keyedlog_deep_clone" -> { (s0, d) =>
      val s = isolatedSession(s0)
      val rootDir = graft.core.TempDirs.create("graft_kdc_root_")
      graft.catalog.GraftCatalog.register(s, "graft_kdc", rootDir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_kdc.db")
      Tables.documents(s, d).createOrReplaceTempView("qk14_documents")
      s.sql("CREATE TABLE graft_kdc.db.src (key STRING, seq BIGINT, " +
        "metric BIGINT) USING keyedlog")
      s.sql("INSERT INTO graft_kdc.db.src SELECT lang, doc_id, n_chars " +
        "FROM qk14_documents WHERE n_chars < 400")
      s.sql("INSERT INTO graft_kdc.db.src SELECT lang, doc_id, n_chars " +
        "FROM qk14_documents WHERE n_chars >= 400")
      s.sql("UPDATE graft_kdc.db.src SET metric = metric + 1000000 " +
        "WHERE key = 'de'")
      s.sql("CALL graft_kdc.system.clone('db.src', 'db.dst', deep => true)")
      // remove the source table AND its directory — the clone owes it nothing
      s.sql("DROP TABLE graft_kdc.db.src")
      val srcPath = new org.apache.hadoop.fs.Path(s"$rootDir/db/src")
      val fsRoot = graft.core.LakeStorage.openFor(rootDir)
      if (fsRoot.exists(srcPath)) { fsRoot.delete(srcPath, true); () }
      def planned(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions
      val t = s.table("graft_kdc.db.dst")
      // carried stats: the UPDATE raised band-2 files' UPPER bounds (de
      // rows now carry +1M) but their LOWER bounds stay >= 400, so a
      // low-band filter still skips every band-2 file on the clone
      val statsCarried =
        planned(t.filter(col("metric") < 200L)) < planned(t)
      t.groupBy(col("key").as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum("metric").cast("long").as("total_chars"))
        .withColumn("stats_carried", lit(statsCarried))
        .withColumn("source_gone", lit(!fsRoot.exists(srcPath)))
        .orderBy("lang")
    },

    // --- mergeable HLL sketches (Apache DataSketches via Spark 4 built-ins):
    //     build per-(flag, shipdate) PARTIAL sketches, then union-merge to
    //     per-flag distinct estimates — the pre-aggregated sketch-table
    //     pattern that lets a 100 TB corpus answer distinct-count queries
    //     from a tiny sketch table instead of rescanning raw data. Sketch
    //     bytes are implementation-seeded, so the gate row carries the
    //     EXACT distinct count bit-exactly plus an in-query boolean holding
    //     the merged estimate to 2% (lgConfigK=16 -> 0.4% RSE, a 5-sigma
    //     margin; the oracle replays TRUE, so a drifting estimate FAILS the
    //     hash gate). Quantitative accuracy also asserted in FunctionsSpec ---
    "q57_hll_sketch" -> { (s, d) =>
      // fanOut: both arms are heavy aggs over a 1-split local input;
      // HLL union is order-independent, countDistinct exact — results
      // unchanged under any partitioning
      val li = graft.core.Parallelism.fanOut(Tables.lineitem(s, d))
      val daily = li
        .groupBy(col("l_returnflag"), col("l_shipdate"))
        .agg(hll_sketch_agg(col("l_partkey"), 16).as("sk"))
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      daily.groupBy("l_returnflag")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
          count(lit(1)).as("n_partial_sketches"))
        .join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"), col("n_partial_sketches"),
          (abs(col("est") - col("exact_parts")) <=
            greatest(lit(2), col("exact_parts") * lit(0.02))).as("est_within_2pct"))
        .orderBy("l_returnflag")
    },

    // --- exact heavy hitters: per-partition Misra-Gries candidates (at
    //     most `capacity` rows leave each partition), then exact counts of
    //     candidates only — identical output to a full groupBy-count-filter
    //     but without shuffling every token occurrence. The MG guarantee
    //     (minFrac > 1/(capacity+1)) makes the result partition-invariant
    //     and therefore oracle-checkable despite the order-dependent
    //     candidate phase ---
    "q60_heavy_hitters" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("item"))
      graft.operators.HeavyHitters.exact(toks, "item", minFrac = 0.001, capacity = 4096)
        .withColumnRenamed("item", "token")
        .orderBy(desc("cnt"), asc("token"))
    },

    // --- count-min sketch (operators/CountMin): build the d x w counter
    //     table over the token stream (map-side partials collapse each
    //     partition to <= d*w cells before the shuffle), then answer the
    //     top-10 tokens' point-frequency queries from the BROADCAST sketch.
    //     Hash rows are disjoint md5 slices, so the DuckDB oracle replays
    //     the cells bit-exactly; CMS guarantees est >= true, surfaced as
    //     `overcount` ---
    "q61_count_min" -> { (s, d) =>
      val toks = graft.core.Parallelism.fanOut(Tables.documents(s, d))
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
      val cells = graft.operators.CountMin.sketch(toks, "token")
      val probes = toks.groupBy("token").agg(count(lit(1)).as("true_cnt"))
        .orderBy(desc("true_cnt"), asc("token")).limit(10)
      graft.operators.CountMin.estimate(cells, probes, "token")
        .withColumnRenamed("est", "est_cnt")
        .withColumn("overcount", col("est_cnt") - col("true_cnt"))
        .orderBy(desc("true_cnt"), asc("token"))
    },

    // --- ordered funnel analysis: first view -> first click AT-OR-AFTER
    //     that view -> first purchase at-or-after that click, per user;
    //     output is users surviving each stage. Three keyed aggregations
    //     co-partitioned on user_id (no window over the full event stream,
    //     no per-user collect) — the scalable funnel shape ---
    // --- mergeable QUANTILE sketches (operators/QuantileSketch —
    //     completes the sketch family next to HLL/theta/CMS/MG): partial
    //     fixed-grid counter sketches per (flag, shipdate) segment,
    //     union-merged per flag by exact integer addition, quantiles
    //     answered from the merged counters — the stored-sketch-table
    //     pattern that answers percentile queries without rescanning raw
    //     data. Grid width 128 = 2^17/1024 is an exact double, so every
    //     arithmetic step replays bit-identically in the oracle; the
    //     in-query boolean holds the sketch's error contract (quantile
    //     within one cell of the exact interpolated percentile) ---
    "q65_quantile_sketch" -> { (s, d) =>
      import graft.operators.QuantileSketch
      val lo = 0.0; val hi = 131072.0; val nb = 1024
      // fanOut: the binning pass and the exact-percentile evidence arm are
      // heavy single-task map/agg work on a 1-split local input; no-op at
      // cluster widths (guide §2 scale-adaptive partitioning)
      val li = graft.core.Parallelism.fanOut(Tables.lineitem(s, d))
      // ONE corpus pass builds the partial sketch table, pinned with
      // localCheckpoint — everything downstream (partial counts, merge,
      // cumulative rank walk, BOTH uses inside the quantile query) reads
      // the tiny sketch, never lineitem again (PlanShapeSpec proves the
      // query side plans zero parquet scans). The production shape
      // stores this table per ingest batch.
      val parts = QuantileSketch.partials(li, "l_extendedprice",
        Seq("l_returnflag", "l_shipdate"), lo, hi, nb).localCheckpoint()
      val nPartials = parts.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_partial_sketches"))
      val merged = QuantileSketch.merge(parts, Seq("l_returnflag"))
      val qs = Seq(0.25, 0.5, 0.75, 0.95, 0.99)
      val picked = QuantileSketch.quantiles(merged, Seq("l_returnflag"),
        qs, lo, hi, nb)
      // EVIDENCE arm (bench budget, round 15): ONE array-percentile
      // aggregate — a single value->count buffer computes all five
      // percentiles at finalization, vs five independent Percentile
      // buffers each hashing every lineitem row. Values are identical to
      // the per-q calls (same interpolation over the same counts), so the
      // oracle SQL's five quantile_cont calls still replay it bit-exactly.
      val exact = li.groupBy("l_returnflag").agg(
        expr("percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D, 0.95D, 0.99D))")
          .as("evals"))
        .select(col("l_returnflag"),
          posexplode(col("evals")).as(Seq("pos", "exact_val")))
        .withColumn("q",
          element_at(typedLit(Seq(0.25, 0.50, 0.75, 0.95, 0.99)), col("pos") + 1))
        .select(col("l_returnflag"), col("q"), col("exact_val"))
      picked.join(exact, Seq("l_returnflag", "q"))
        .join(nPartials, "l_returnflag")
        // envelope: the sketch is within one cell of the rank-ceil(qN)
        // ORDER STATISTIC (the precise contract, asserted in
        // FunctionsSpec); vs the INTERPOLATED percentile used here —
        // whose definition the two engines share bit-for-bit — an
        // inter-rank gap rides on top, so the gate's tripwire is the
        // two-cell envelope (1e-6 absorbs ulp drift)
        .withColumn("within_envelope",
          abs(col("sketch_val") - col("exact_val")) <= lit(256.0 + 1e-6))
        .select(col("l_returnflag"), col("q"), col("bucket"),
          col("sketch_val"), col("within_envelope"), col("n_partial_sketches"))
        .orderBy("l_returnflag", "q")
    },

    // --- STORED sketch table + incremental maintenance (q65's production
    //     posture, the qv14 pattern for quantiles): day-0 partials CTAS'd
    //     into a catalog manifest table, day-1 partials APPENDED (each
    //     ingest batch pays one pass over ITS rows — the corpus is never
    //     re-binned), quantiles answered from the STORED counters. The
    //     soundness invariant rides in-query: exact counter addition is
    //     associative, so the incrementally-grown table answers every
    //     quantile IDENTICALLY to a from-scratch rebuild over the whole
    //     corpus — the oracle replays the rebuild ---
    "q66_stored_sketch_table" -> { (s, d) =>
      import graft.operators.QuantileSketch
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.sk66")
      val lo = 0.0; val hi = 131072.0; val nb = 1024
      val li = graft.core.Parallelism.fanOut(Tables.lineitem(s, d))
      // ONE binning pass computes BOTH days' partials (round 16): the
      // day parity rides as an extra segment column, so the per-day
      // slices are row-identical to two separate partials() calls over
      // the filtered halves (the days partition the corpus), at half
      // the scan+shuffle. The two separate COMMITS — day-0 CTAS, day-1
      // append — are unchanged; that sequence is the gate's contract.
      val both = QuantileSketch.partials(
          li.withColumn("_day", col("l_orderkey") % 2),
          "l_extendedprice", Seq("_day", "l_returnflag", "l_shipdate"),
          lo, hi, nb)
        .localCheckpoint()
      both.filter(col("_day") === 0).drop("_day")
        .writeTo("graft_cat.db.sk66").create()         // day 0: CTAS
      both.filter(col("_day") === 1).drop("_day")
        .writeTo("graft_cat.db.sk66").append()          // day 1: append
      val stored = s.table("graft_cat.db.sk66")
      val merged = QuantileSketch.merge(stored, Seq("l_returnflag"))
      val qs = Seq(0.5, 0.95)
      val picked = QuantileSketch.quantiles(merged, Seq("l_returnflag"),
        qs, lo, hi, nb)
      // the invariant: stored-incremental ≡ one-shot rebuild, bucket for
      // bucket (associative exact addition — qv14's frozen-model rule)
      // EVIDENCE arm (bench budget, round 15): the rebuild bins the corpus
      // directly at (flag, bucket) granularity — counter addition is
      // associative, so collapsing the ~2.5k-shipdate segmentation into
      // the grouping itself yields the SAME merged counters as building
      // per-(flag, shipdate) partials and merging them, at a fraction of
      // the shuffle (3 flags x 1024 buckets vs 2.5k segments x buckets).
      // partials(segmentCols = keyCols) IS the merged sketch.
      val rebuilt = QuantileSketch.quantiles(
        QuantileSketch.partials(li, "l_extendedprice",
          Seq("l_returnflag"), lo, hi, nb)
          .localCheckpoint(), // quantiles() consumes its input in two
                              // plan branches — pin the rebuild like
                              // q65 pins its partials, or each branch
                              // re-scans lineitem
        Seq("l_returnflag"), qs, lo, hi, nb)
        .select(col("l_returnflag"), col("q"), col("bucket").as("rb"))
      val nStored = stored.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_stored_partials"))
      picked.join(rebuilt, Seq("l_returnflag", "q"))
        .join(nStored, "l_returnflag")
        .select(col("l_returnflag"), col("q"), col("bucket"), col("sketch_val"),
          (col("bucket") === col("rb")).as("incremental_equals_rebuild"),
          col("n_stored_partials"))
        .orderBy("l_returnflag", "q")
    },

    "qa01_funnel" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") >= col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") >= col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      v.select(lit("1_view").as("stage"), col("user_id"))
        .unionByName(c.select(lit("2_click").as("stage"), col("user_id")))
        .unionByName(p.select(lit("3_purchase").as("stage"), col("user_id")))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
        .orderBy("stage")
    },

    // --- weekly retention cohorts: cohort = first active ISO week, then
    //     distinct (user, week) activity joined back to the cohort —
    //     two keyed aggregations + one equi-join co-partitioned on
    //     user_id, no window over the event stream ---
    "qa02_retention" -> { (s, d) =>
      val weekly = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct()
      val cohort = weekly.groupBy("user_id").agg(min("wk").as("cohort_week"))
      weekly.join(cohort, "user_id")
        .withColumn("week_n", (datediff(col("wk"), col("cohort_week")) / 7).cast("int"))
        .groupBy("cohort_week", "week_n")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "week_n")
    },

    // --- time-series RESAMPLE onto a continuous day spine + LOCF fill
    //     (the densify/gap-fill pass a metrics or feature pipeline runs
    //     before windowed training): per-user day spine derived by
    //     sequence() from the user's own [min, max] span (one keyed agg —
    //     never a global calendar cross join), left-joined back to the
    //     daily aggregate, gaps carried forward by last(ignoreNulls).
    //     Spine size ∝ Σ user spans, the join stays co-partitioned on
    //     user_id ---
    "qa04_resample_locf" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).filter(col("user_id") < 20)
      val daily = ev
        .groupBy(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("day_value"))
      val span = daily.groupBy("user_id").agg(min("day").as("lo"), max("day").as("hi"))
      val spine = span.select(col("user_id"),
        explode(sequence(col("lo"), col("hi"))).as("day"))
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("day_value"), ignoreNulls = true)
            .over(Window.partitionBy("user_id").orderBy("day"))
            .as("filled_value"))
        .orderBy("user_id", "day")
    },

    // --- link-graph rank scoring (PageRank-shaped document importance —
    //     the quality/weighting signal web-scale training pipelines
    //     derive from a link graph): a deterministic 3-out-regular graph
    //     over documents, damping 0.85, THREE power iterations in EXACT
    //     integer micro-rank arithmetic (contribution = rank DIV
    //     outdegree per edge, new rank = 150000 + (850·Σ) DIV 1000 —
    //     integer division per edge then sum, associative, so the fold
    //     order can't drift between engines). Scale shape = the CC
    //     pattern: per iteration one equi-join rank⋈edges + one keyed
    //     aggregation, edges derived by expression (never materialized),
    //     top-k = TakeOrderedAndProject ---
    "qa03_link_rank" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 7 + 1) % n,
          (col("doc_id") * 13 + 3) % n,
          (col("doc_id") * 29 + 7) % n)).as("dst"))
      var rank = docs.select(col("doc_id").as("v"), lit(1000000L).as("r"))
      (1 to 3).foreach { _ =>
        val contrib = edges.join(rank, col("src") === col("v"))
          .groupBy(col("dst").as("v2"))
          .agg(sum(expr("r div 3")).as("s"))
        rank = docs.select(col("doc_id").as("v"))
          .join(contrib, col("v") === col("v2"), "left")
          .select(col("v"),
            (lit(150000L) + expr("(850 * coalesce(s, 0L)) div 1000")).as("r"))
      }
      rank.select(col("v").as("doc_id"), col("r").as("rank_micro"))
        .orderBy(col("rank_micro").desc, col("doc_id")).limit(20)
    },

    // --- theta sketches: approximate DISTINCT SET OPERATIONS (union /
    //     intersection across segments — the audience-overlap pattern; HLL
    //     can only union). lgNomEntries=16 ON BOTH the per-group sketches
    //     AND the union (theta_union's own lgMaxK defaults to 12 and would
    //     silently downsample exact inputs) keeps everything in EXACT mode
    //     up to ~64k distinct keys per pair, so at gate scale (sf0.01:
    //     ~2k parts, sf0.1: ~20k) the estimates are exactly the true
    //     counts and the query is DuckDB-oracle-checkable; beyond the
    //     nominal size it degrades gracefully to ~1-2% estimation error
    //     (the 100 TB mode — FunctionsSpec bounds it) ---
    "q58_theta_setops" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("li_theta")
      s.sql("""
        WITH sk AS (SELECT l_returnflag AS flag,
                      theta_sketch_agg(l_partkey, 16) AS sk
                    FROM li_theta GROUP BY l_returnflag)
        SELECT a.flag AS flag_a, b.flag AS flag_b,
          theta_sketch_estimate(theta_union(a.sk, b.sk, 16)) AS union_parts,
          theta_sketch_estimate(theta_intersection(a.sk, b.sk)) AS inter_parts
        FROM sk a JOIN sk b ON a.flag < b.flag
        ORDER BY flag_a, flag_b""")
    },

    // --- interval join through the SQL front door, auto-rewritten by the
    //     RangeJoinRewrite optimizer rule into a bucketed equi-join.
    //     The rule stays installed for the session (the returned plan is
    //     optimized lazily, after this function returns); that is safe
    //     here because it only fires on inner joins with ZERO equi
    //     conjuncts and a long-typed point-in-interval condition — audited:
    //     no other registry query has that shape ---
    "q45_range_join_rule" -> { (s, d) =>
      graft.plans.RangeJoinRewrite.install(s, binSize = 600L)
      Tables.events(s, d)
        .select(col("user_id"), unix_timestamp(col("ts")).as("sec"))
        .createOrReplaceTempView("q45_ev")
      s.sql("""
        WITH w AS (SELECT user_id AS wuser, min(sec) AS lo, min(sec) + 600 AS hi
                   FROM q45_ev GROUP BY user_id)
        SELECT w.wuser AS user_id, count(*) AS n_in_window
        FROM q45_ev e JOIN w ON e.sec >= w.lo AND e.sec < w.hi
        GROUP BY w.wuser
        ORDER BY user_id""")
    }
  )

  override val oracle: Map[String, String] = Map(
    "q61_count_min" ->
      """WITH tok AS (
           SELECT t FROM (SELECT unnest(string_split(text, ' ')) AS t
                          FROM documents) WHERE t <> ''),
         hr AS (SELECT unnest([0, 1, 2, 3]) AS r),
         cells AS (
           SELECT hr.r,
             CAST('0x' || substr(md5(t), 1 + 8 * hr.r, 8) AS BIGINT) % 1024 AS b,
             count(*) AS c
           FROM tok, hr GROUP BY 1, 2),
         tc AS (SELECT t, count(*) AS true_cnt FROM tok GROUP BY t),
         probes AS (SELECT t, true_cnt FROM tc
                    ORDER BY true_cnt DESC, t LIMIT 10),
         pb AS (SELECT p.t, p.true_cnt, hr.r,
                  CAST('0x' || substr(md5(p.t), 1 + 8 * hr.r, 8) AS BIGINT) % 1024 AS b
                FROM probes p, hr),
         est AS (SELECT pb.t, pb.true_cnt, min(cells.c) AS est_cnt
                 FROM pb JOIN cells ON pb.r = cells.r AND pb.b = cells.b
                 GROUP BY 1, 2)
         SELECT t AS token, true_cnt, est_cnt, est_cnt - true_cnt AS overcount
         FROM est ORDER BY true_cnt DESC, token""",

    // the whole sketch pipeline (bucket assignment, counter merge, rank
    // pick) replays in exact grid arithmetic; the envelope boolean is
    // TRUE in both engines (each computes its own exact percentile)
    "q65_quantile_sketch" ->
      """WITH p AS (
           SELECT l_returnflag AS flag, l_shipdate AS seg,
             CAST(least(greatest(floor(CAST(l_extendedprice AS DOUBLE) / 128.0), 0), 1023) AS BIGINT) AS bucket,
             count(*) AS cnt
           FROM lineitem GROUP BY 1, 2, 3),
         np AS (SELECT flag, count(*) AS n_partial_sketches FROM p GROUP BY 1),
         m AS (SELECT flag, bucket, CAST(sum(cnt) AS BIGINT) AS cnt FROM p GROUP BY 1, 2),
         tot AS (SELECT flag, CAST(sum(cnt) AS DOUBLE) AS n FROM m GROUP BY 1),
         cum AS (SELECT flag, bucket,
                   CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY bucket) AS DOUBLE) AS cum
                 FROM m),
         qs AS (SELECT CAST(q AS DOUBLE) AS q
                FROM (VALUES (0.25),(0.50),(0.75),(0.95),(0.99)) t(q)),
         pick AS (SELECT c.flag, q.q, min(c.bucket) AS bucket
                  FROM cum c JOIN tot t ON c.flag = t.flag
                  CROSS JOIN qs q
                  WHERE c.cum >= ceil(q.q * t.n)
                  GROUP BY 1, 2),
         ex AS (SELECT l_returnflag AS flag,
                  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS e25,
                  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.50) AS e50,
                  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) AS e75,
                  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS e95,
                  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99) AS e99
                FROM lineitem GROUP BY 1),
         exl AS (SELECT flag, q.q,
                   CASE q.q WHEN 0.25 THEN e25 WHEN 0.50 THEN e50
                            WHEN 0.75 THEN e75 WHEN 0.95 THEN e95
                            ELSE e99 END AS exact_val
                 FROM ex CROSS JOIN qs q)
         SELECT pick.flag AS l_returnflag, pick.q AS q, pick.bucket,
           CAST((pick.bucket + 1) * 128.0 AS DOUBLE) AS sketch_val,
           abs((pick.bucket + 1) * 128.0 - exl.exact_val) <= 256.000001 AS within_envelope,
           np.n_partial_sketches
         FROM pick
         JOIN exl ON pick.flag = exl.flag AND pick.q = exl.q
         JOIN np ON pick.flag = np.flag
         ORDER BY l_returnflag, pick.q""",

    // stored table = day-0 partial cells + day-1 partial cells (a grid
    // cell present in both halves is two stored rows; merge sums them);
    // quantile answers replay from the WHOLE corpus binned once — the
    // associativity invariant the equality boolean carries
    "q66_stored_sketch_table" ->
      """WITH p AS (
           SELECT l_returnflag AS flag,
             CAST(least(greatest(floor(CAST(l_extendedprice AS DOUBLE) / 128.0), 0), 1023) AS BIGINT) AS bucket,
             count(*) AS cnt
           FROM lineitem GROUP BY 1, 2),
         halves AS (
           SELECT l_returnflag AS flag, l_shipdate AS seg, l_orderkey % 2 AS half,
             CAST(least(greatest(floor(CAST(l_extendedprice AS DOUBLE) / 128.0), 0), 1023) AS BIGINT) AS bucket
           FROM lineitem GROUP BY 1, 2, 3, 4),
         np AS (SELECT flag, count(*) AS n_stored_partials FROM halves GROUP BY 1),
         tot AS (SELECT flag, CAST(sum(cnt) AS DOUBLE) AS n FROM p GROUP BY 1),
         cum AS (SELECT flag, bucket,
                   CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY bucket) AS DOUBLE) AS cum
                 FROM p),
         qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.50),(0.95)) t(q)),
         pick AS (SELECT c.flag, q.q, min(c.bucket) AS bucket
                  FROM cum c JOIN tot t ON c.flag = t.flag
                  CROSS JOIN qs q
                  WHERE c.cum >= ceil(q.q * t.n)
                  GROUP BY 1, 2)
         SELECT pick.flag AS l_returnflag, pick.q AS q, pick.bucket,
           CAST((pick.bucket + 1) * 128.0 AS DOUBLE) AS sketch_val,
           TRUE AS incremental_equals_rebuild,
           np.n_stored_partials
         FROM pick JOIN np ON pick.flag = np.flag
         ORDER BY l_returnflag, pick.q""",

    "qa01_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                    FROM events),
         v AS (SELECT user_id, min(ts) AS t_view FROM e
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS t_click FROM e JOIN v USING (user_id)
               WHERE event_type = 'click' AND e.ts >= v.t_view GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM e JOIN c USING (user_id)
               WHERE event_type = 'purchase' AND e.ts >= c.t_click GROUP BY e.user_id)
         SELECT stage, count(*) AS n_users FROM (
           SELECT '1_view' AS stage, user_id FROM v
           UNION ALL SELECT '2_click', user_id FROM c
           UNION ALL SELECT '3_purchase', user_id FROM p)
         GROUP BY stage ORDER BY stage""",

    // journal v0 = the even-doc insert, v1 = the odd-doc insert; the
    // start_version=0 window is exactly the second insert's rows
    "qk04_keyedlog_cdc" ->
      """SELECT lang AS key, count(*) AS n_new,
           CAST(sum(n_chars) AS BIGINT) AS new_chars,
           CAST(2 AS BIGINT) AS journal_versions
         FROM documents WHERE doc_id % 2 = 1
         GROUP BY lang ORDER BY key""",

    // the rewrite event replays everything committed before the
    // compaction (doc_id % 3 in (0, 1)) at its PRE-update image (the
    // replaced de file serves from its tombstone); the later insert is
    // % 3 = 2 (de portion likewise pre-update); the row-level UPDATE
    // adds delete pre-images + insert post-images of ALL de rows
    "qk05_keyedlog_changes" ->
      """SELECT change_type, key, n_rows, sum_chars FROM (
           SELECT 'insert' AS change_type, lang AS key, count(*) AS n_rows,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
           FROM documents WHERE doc_id % 3 = 2 AND lang <> 'de' GROUP BY lang
           UNION ALL
           SELECT 'insert', 'de',
             (SELECT count(*) FROM documents WHERE doc_id % 3 = 2 AND lang = 'de')
               + (SELECT count(*) FROM documents WHERE lang = 'de'),
             CAST((SELECT sum(n_chars) FROM documents
                   WHERE doc_id % 3 = 2 AND lang = 'de')
               + (SELECT sum(n_chars) + 1000000 * count(*) FROM documents
                  WHERE lang = 'de') AS BIGINT)
           UNION ALL
           SELECT 'delete', 'de',
             (SELECT count(*) FROM documents WHERE lang = 'de'),
             CAST((SELECT sum(n_chars) FROM documents WHERE lang = 'de') AS BIGINT)
           UNION ALL
           SELECT 'rewrite' AS change_type, lang AS key, count(*) AS n_rows,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
           FROM documents WHERE doc_id % 3 < 2 GROUP BY lang
         ) ORDER BY change_type, key""",

    // sketch bytes are engine-specific: the gate checks the exact distinct
    // count and partial-sketch count bit-exactly, and the merged HLL
    // estimate via the Spark-side 2% bound (TRUE here)
    "q57_hll_sketch" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
           count(DISTINCT l_shipdate) AS n_partial_sketches,
           TRUE AS est_within_2pct
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // exact-mode envelope: valid while per-pair distinct l_partkey <= 2^16
    // (holds at every gate SF; see the q58 comment)
    "q58_theta_setops" ->
      """WITH s AS (SELECT DISTINCT l_returnflag AS flag, l_partkey AS pk
                    FROM lineitem),
         flags AS (SELECT DISTINCT flag FROM s)
         SELECT a.flag AS flag_a, b.flag AS flag_b,
           CAST((SELECT count(DISTINCT pk) FROM s
                 WHERE flag = a.flag OR flag = b.flag) AS BIGINT) AS union_parts,
           CAST((SELECT count(*) FROM s x JOIN s y
                 ON x.pk = y.pk AND x.flag = a.flag AND y.flag = b.flag)
                AS BIGINT) AS inter_parts
         FROM flags a JOIN flags b ON a.flag < b.flag
         ORDER BY flag_a, flag_b""",

    // exact by construction (MG is only the candidate phase), so the naive
    // groupBy-count-filter IS the oracle; threshold = ceil(minFrac * n)
    // computed in double on both sides
    "q60_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
                       FROM documents)
         SELECT token, CAST(count(*) AS BIGINT) AS cnt
         FROM toks
         GROUP BY token
         HAVING count(*) >= ceil(0.001 * (SELECT count(*) FROM toks))
         ORDER BY cnt DESC, token""",

    // each snapshot replays as plain filters/arithmetic over documents:
    // v0 = first insert only, v1 = both inserts pre-update, v2 = de
    // updated, live = de updated and fr dropped
    "qk09_keyedlog_time_travel" ->
      """SELECT snap, lang, n_docs, total_metric FROM (
           SELECT 'v0' AS snap, lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_metric
           FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
           UNION ALL
           SELECT 'v1', lang, count(*), CAST(sum(n_chars) AS BIGINT)
           FROM documents GROUP BY lang
           UNION ALL
           SELECT 'v2', lang, count(*),
             CAST(sum(n_chars)
               + CASE WHEN lang = 'de' THEN 1000000 * count(*) ELSE 0 END AS BIGINT)
           FROM documents GROUP BY lang
           UNION ALL
           SELECT 'v9_live', lang, count(*),
             CAST(sum(n_chars)
               + CASE WHEN lang = 'de' THEN 1000000 * count(*) ELSE 0 END AS BIGINT)
           FROM documents WHERE lang <> 'fr' GROUP BY lang
         ) ORDER BY snap, lang""",

    // restored head = the original insert; the pre-restore snapshot is
    // the updated-de / dropped-fr state
    "qk10_keyedlog_restore" ->
      """SELECT snap, lang, n_docs, total_metric FROM (
           SELECT 'restored' AS snap, lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_metric
           FROM documents GROUP BY lang
           UNION ALL
           SELECT 'pre_restore', lang, count(*),
             CAST(sum(n_chars)
               + CASE WHEN lang = 'de' THEN 1000000 * count(*) ELSE 0 END AS BIGINT)
           FROM documents WHERE lang <> 'fr' GROUP BY lang
         ) ORDER BY snap, lang""",

    // pre-drift rows read NULL for the added columns (count/sum skip
    // them); post-drift rows carry the full width through the UPDATE and
    // the compaction; the embedded chr(9) tab replays byte-identically
    "qk11_keyedlog_add_columns" ->
      """SELECT lang, count(*) AS n_rows,
           count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_with_src,
           CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars // 5 END) AS BIGINT)
             AS sum_tokens,
           max(CASE WHEN doc_id % 2 = 1
                 THEN concat(source, chr(9), lang) END) AS max_src,
           CAST(sum(n_chars) + CASE WHEN lang = 'de'
             THEN 1000000 * count(*) ELSE 0 END AS BIGINT) AS sum_metric
         FROM documents GROUP BY lang ORDER BY lang""",

    // the table holds all documents (three disjoint metric bands) plus a
    // doc_id%7 slice re-inserted post-drift with n_tokens; the filtered
    // aggregate replays over the same union, and the two file-skipping
    // facts ride the booleans
    "qk12_keyedlog_stats_pruning" ->
      """SELECT lang, count(*) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS sum_metric,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           TRUE AS pruned_band, TRUE AS pruned_drift
         FROM (
           SELECT lang, n_chars, NULL AS n_tokens FROM documents
           UNION ALL
           SELECT lang, n_chars, n_chars // 5 FROM documents WHERE doc_id % 7 = 0
         ) WHERE n_chars >= 400 GROUP BY lang ORDER BY lang""",

    // the backfill never changes data, so the filtered aggregate replays
    // directly over documents; the before/after skipping facts and the
    // backfill count ride the booleans
    "qk13_keyedlog_stats_backfill" ->
      """SELECT lang, count(*) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS sum_metric,
           TRUE AS no_prune_before, TRUE AS pruned_after,
           TRUE AS backfilled_some
         FROM documents WHERE n_chars >= 400 GROUP BY lang ORDER BY lang""",

    // the clone is a verified byte-copy of the post-UPDATE live set, so
    // it replays as documents with the 'de' bump folded in; the
    // stats-carry and independence facts ride the booleans
    "qk14_keyedlog_deep_clone" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) + CASE WHEN lang = 'de'
             THEN 1000000 * count(*) ELSE 0 END AS BIGINT) AS total_chars,
           TRUE AS stats_carried, TRUE AS source_gone
         FROM documents GROUP BY lang ORDER BY lang""",

    // per-user day spine via generate_series; LOCF = last_value IGNORE
    // NULLS over the spine (day is unique per user, so the default RANGE
    // frame equals ROWS)
    "qa04_resample_locf" ->
      """WITH ev AS (SELECT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day, value
           FROM events WHERE user_id < 20),
         daily AS (SELECT user_id, day, count(*) AS n_events,
             round(sum(value), 2) AS day_value
           FROM ev GROUP BY user_id, day),
         span AS (SELECT user_id, min(day) AS lo, max(day) AS hi
                  FROM daily GROUP BY user_id),
         spine AS (SELECT user_id,
             CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
               CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
           FROM span)
         SELECT s.user_id, s.day,
           CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events,
           last_value(d.day_value IGNORE NULLS)
             OVER (PARTITION BY s.user_id ORDER BY s.day) AS filled_value
         FROM spine s LEFT JOIN daily d
           ON s.user_id = d.user_id AND s.day = d.day
         ORDER BY s.user_id, s.day""",

    // exact integer micro-rank replay: per-edge integer division then
    // sum (associative), so three unrolled iterations match bit-exactly
    "qa03_link_rank" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         e AS (SELECT doc_id AS src,
                 unnest([(doc_id * 7 + 1) % nn.n,
                         (doc_id * 13 + 3) % nn.n,
                         (doc_id * 29 + 7) % nn.n]) AS dst
               FROM documents, nn),
         r0 AS (SELECT doc_id AS v, CAST(1000000 AS BIGINT) AS r FROM documents),
         s1 AS (SELECT dst AS v, sum(r // 3) AS s FROM e JOIN r0 ON e.src = r0.v GROUP BY dst),
         r1 AS (SELECT d.doc_id AS v, 150000 + (850 * coalesce(s.s, 0)) // 1000 AS r
                FROM documents d LEFT JOIN s1 s ON d.doc_id = s.v),
         s2 AS (SELECT dst AS v, sum(r // 3) AS s FROM e JOIN r1 ON e.src = r1.v GROUP BY dst),
         r2 AS (SELECT d.doc_id AS v, 150000 + (850 * coalesce(s.s, 0)) // 1000 AS r
                FROM documents d LEFT JOIN s2 s ON d.doc_id = s.v),
         s3 AS (SELECT dst AS v, sum(r // 3) AS s FROM e JOIN r2 ON e.src = r2.v GROUP BY dst),
         r3 AS (SELECT d.doc_id AS v, 150000 + (850 * coalesce(s.s, 0)) // 1000 AS r
                FROM documents d LEFT JOIN s3 s ON d.doc_id = s.v)
         SELECT v AS doc_id, CAST(r AS BIGINT) AS rank_micro
         FROM r3 ORDER BY rank_micro DESC, doc_id LIMIT 20""",

    // both engines truncate weeks to ISO Monday; day diff / 7 in integer
    "qa02_retention" ->
      """WITH weekly AS (SELECT DISTINCT user_id,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
           FROM events),
         cohort AS (SELECT user_id, min(wk) AS cohort_week
                    FROM weekly GROUP BY user_id)
         SELECT cohort_week,
           CAST(date_diff('day', cohort_week, wk) / 7 AS INTEGER) AS week_n,
           CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
         FROM weekly w JOIN cohort c ON w.user_id = c.user_id
         GROUP BY 1, 2 ORDER BY cohort_week, week_n""",

    "q39_scalar_subquery" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
         FROM orders
         WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders)
         ORDER BY o_orderkey""",

    "q40_in_subquery" ->
      """SELECT c_custkey, c_name
         FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
           AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice < 2000)
         ORDER BY c_custkey""",

    "q41_correlated_count" ->
      """SELECT o_orderkey,
           (SELECT count(*) FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 30) AS n_big_items
         FROM orders o
         WHERE o_orderkey < 2000
         ORDER BY o_orderkey""",

    "q42_lateral_topk" ->
      """SELECT c.c_custkey, o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                  WHERE o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
         WHERE c.c_custkey < 100
         ORDER BY c_custkey, o_orderkey""",

    "q43_unpivot" ->
      """SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val
         FROM part WHERE p_partkey <= 200
         UNION ALL
         SELECT p_partkey, 'retailprice', round(p_retailprice, 2)
         FROM part WHERE p_partkey <= 200
         ORDER BY p_partkey, metric""",

    // same lead window, same (ts, event_id) tie-break
    "qa06_event_transitions" ->
      """SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT event_type AS from_type,
                 lead(event_type, 1) OVER (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
               FROM events)
         WHERE to_type IS NOT NULL
         GROUP BY from_type, to_type
         ORDER BY from_type, to_type""",

    // recursion replayed verbatim: DuckDB's WITH RECURSIVE iterates the
    // same frontier join to the same fixpoint (integer div both sides)
    "q63_recursive_cte" ->
      """WITH RECURSIVE tree(k, depth) AS (
           SELECT CAST(1 AS BIGINT) AS k, 0 AS depth
           UNION ALL
           SELECT c.c_custkey, t.depth + 1
           FROM customer c JOIN tree t ON (c.c_custkey // 2) = t.k
           WHERE t.depth < 30
         )
         SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
           min(k) AS min_key, max(k) AS max_key
         FROM tree GROUP BY depth ORDER BY depth""",

    // per-column metrics replayed as one grouped-ALL aggregate per column
    "qa05_column_profile" ->
      """SELECT * FROM (
           SELECT 'doc_id' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
             CAST(min(doc_id) AS VARCHAR) AS min_val, CAST(max(doc_id) AS VARCHAR) AS max_val,
             CAST(CAST(quantile_cont(CAST(doc_id AS DOUBLE), 0.5) AS DECIMAL(20,1)) AS VARCHAR) AS p50_val
           FROM documents
           UNION ALL
           SELECT 'lang', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT lang) AS BIGINT), min(lang), max(lang),
             CAST(NULL AS VARCHAR)
           FROM documents
           UNION ALL
           SELECT 'source', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT source) AS BIGINT), min(source), max(source),
             CAST(NULL AS VARCHAR)
           FROM documents
           UNION ALL
           SELECT 'n_chars', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT n_chars) AS BIGINT),
             CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR),
             CAST(CAST(quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS DECIMAL(20,1)) AS VARCHAR)
           FROM documents
         ) ORDER BY column_name""",

    // exact NDVs replay bit-exactly; the HLL estimates are engine-seeded,
    // so their 5% bound rides the in-query boolean (TRUE here — drift
    // fails the hash gate), the q57 pattern
    "qa07_column_profile_approx" ->
      """SELECT column_name, n_rows, n_distinct_exact, TRUE AS est_within_5pct
         FROM (
           SELECT 'doc_id' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_exact
           FROM documents
           UNION ALL
           SELECT 'lang', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT lang) AS BIGINT) FROM documents
           UNION ALL
           SELECT 'source', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT source) AS BIGINT) FROM documents
           UNION ALL
           SELECT 'n_chars', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT n_chars) AS BIGINT) FROM documents
         ) ORDER BY column_name""",

    // pivot with an explicit value list = conditional aggregation
    "q62_pivot" ->
      """SELECT source,
           CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS en_docs,
           CAST(count(*) FILTER (WHERE lang = 'de') AS BIGINT) AS de_docs,
           CAST(count(*) FILTER (WHERE lang = 'fr') AS BIGINT) AS fr_docs
         FROM documents GROUP BY source ORDER BY source""",

    "q44_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q46_ignore_nulls" ->
      """SELECT event_id, user_id,
           round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS last_purchase
         FROM events
         WHERE user_id < 20
         ORDER BY user_id, event_id""",

    "q47_rank_distribution" ->
      """SELECT c_custkey, pr, cd FROM (
           SELECT c_custkey,
             round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey), 6) AS pr,
             round(cume_dist() OVER (ORDER BY c_acctbal, c_custkey), 6) AS cd
           FROM customer)
         WHERE c_custkey <= 200 ORDER BY c_custkey""",

    "q48_regexp_family" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+ing\b')) AS INTEGER) AS n_ing,
           regexp_extract(text, '^(\w+) (\w+)', 2) AS second_word,
           regexp_replace(substr(text, 1, 40), '[aeiou]', '_', 'g') AS devoweled
         FROM documents WHERE doc_id < 100 ORDER BY doc_id""",

    "q49_stats_aggs" ->
      """SELECT l_returnflag,
           round(median(l_quantity), 4) AS med_qty,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q55_fuzzy_match" ->
      """WITH c AS (SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk
                    FROM customer WHERE c_custkey <= 1500)
         SELECT CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist,
           count(*) AS n_pairs
         FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 2
         GROUP BY 1 ORDER BY 1""",

    "q54_scd2_history" ->
      """WITH closed AS (
           SELECT c_mktsegment, '2024-06-01' AS until, count(*) AS n
           FROM customer WHERE c_custkey % 5 = 0 GROUP BY c_mktsegment),
         untouched AS (
           SELECT c_mktsegment, 'open' AS until, count(*) AS n
           FROM customer WHERE c_custkey % 5 <> 0 GROUP BY c_mktsegment),
         moved AS (
           SELECT 'MOVED' AS c_mktsegment, 'open' AS until, count(*) AS n
           FROM customer WHERE c_custkey % 5 = 0)
         SELECT c_mktsegment, until, n FROM (
           SELECT * FROM closed UNION ALL
           SELECT * FROM untouched UNION ALL
           SELECT * FROM moved)
         ORDER BY c_mktsegment, until""",

    "q53_upsert_merge" ->
      """WITH upd AS (
           SELECT c_custkey, c_name, c_nationkey,
             round(c_acctbal + 1000, 2) AS c_acctbal, 'UPDATED' AS c_mktsegment
           FROM customer WHERE c_custkey % 7 = 0),
         ins AS (
           SELECT CAST(r_regionkey AS BIGINT) + 900000 AS c_custkey,
             'NEW-' || r_name AS c_name, CAST(0 AS INTEGER) AS c_nationkey,
             CAST(0.0 AS DOUBLE) AS c_acctbal, 'NEWSEG' AS c_mktsegment
           FROM region),
         updates AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
         merged AS (
           SELECT * FROM updates
           UNION ALL
           SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey))
         SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS total_bal
         FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q52_batch_sessionize" ->
      """WITH e AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS tsx,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
           FROM events),
         g AS (
           SELECT user_id, tsx, sec,
             CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w >= 1800
                  THEN 1 ELSE 0 END AS new_session
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY tsx)),
         sess AS (
           SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY tsx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM g),
         per AS (SELECT user_id, session_id, count(*) AS n_events
                 FROM sess GROUP BY user_id, session_id)
         SELECT user_id, count(*) AS n_sessions,
           max(n_events) AS max_session_events
         FROM per GROUP BY user_id ORDER BY user_id""",

    "q51_bitwise_try" ->
      """SELECT l_returnflag,
           bit_and(l_orderkey) AS key_band,
           bit_or(l_orderkey) AS key_bor,
           bit_xor(l_orderkey) AS key_bxor,
           round(sum(CASE WHEN l_quantity = 30 THEN NULL
                          ELSE l_extendedprice / (l_quantity - 30) END), 2) AS sum_safe_ratio
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "qk01_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "qk03_cross_format_spj" ->
      """WITH a AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS sample_chars
             FROM documents WHERE doc_id % 3 = 0 GROUP BY lang)
         SELECT c.lang, count(*) AS n_docs,
           CAST(sum(c.n_chars) AS BIGINT) AS total_chars,
           max(a.sample_chars) AS sample_chars
         FROM documents c JOIN a ON c.lang = a.lang
         GROUP BY c.lang ORDER BY c.lang""",

    "qk02_storage_partitioned" ->
      """WITH f AS (SELECT lang AS key, CAST(sum(n_chars) AS BIGINT) AS total_chars,
             count(*) AS n_docs FROM documents GROUP BY 1),
         smp AS (SELECT lang AS key, CAST(sum(n_chars) AS BIGINT) AS sample_chars
             FROM documents WHERE doc_id % 3 = 0 GROUP BY 1)
         SELECT f.key AS key, f.total_chars, f.n_docs, smp.sample_chars
         FROM f JOIN smp ON f.key = smp.key ORDER BY key""",

    // one file per key (clusterByKey distribution) ⇒ the en-lookup plans
    // exactly one partition, a structural constant the oracle replays
    "qk06_key_pruned_lookup" ->
      """SELECT CAST(1 AS BIGINT) AS files_planned,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents WHERE lang = 'en'""",

    // the structural booleans are Spark-side filesystem facts (only the
    // de-keyed files disappeared; survivors byte-untouched); the
    // remaining per-key aggregate replays over documents
    "qk07_keyedlog_delete" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           true AS files_dropped_only_de, true AS survivors_untouched
         FROM documents WHERE lang <> 'de'
         GROUP BY lang ORDER BY lang""",

    // the structural booleans are Spark-side filesystem facts (only the
    // en-keyed files rewrote under the key-predicate UPDATE; survivors
    // byte-untouched); the UPDATE+MERGE composition replays over documents
    "qk08_keyedlog_update" ->
      """WITH base AS (SELECT lang AS key, doc_id AS seq,
             n_chars + CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS metric
           FROM documents),
         src AS (SELECT lang AS key, doc_id AS seq, -1 AS metric
                 FROM documents WHERE doc_id % 7 = 0
                 UNION ALL
                 SELECT 'xx' AS key, doc_id + 1000000 AS seq, 5 AS metric
                 FROM documents WHERE doc_id % 50 = 0),
         merged AS (
           SELECT b.key, b.seq,
             CASE WHEN s.key IS NOT NULL THEN s.metric
                  WHEN b.key = 'fr' THEN 0
                  ELSE b.metric END AS metric
           FROM base b LEFT JOIN src s ON b.key = s.key AND b.seq = s.seq
           WHERE s.key IS NOT NULL OR b.key <> 'de'
           UNION ALL
           SELECT s.key, s.seq, s.metric FROM src s
           WHERE NOT EXISTS (SELECT 1 FROM base b
                             WHERE b.key = s.key AND b.seq = s.seq))
         SELECT key AS lang, count(*) AS n_rows,
           CAST(sum(metric) AS BIGINT) AS total_metric,
           true AS update_file_granular, true AS survivors_untouched
         FROM merged GROUP BY key ORDER BY lang""",

    "q45_range_join_rule" ->
      """WITH e AS (SELECT user_id,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
           FROM events),
         w AS (SELECT user_id AS wuser, min(sec) AS lo, min(sec) + 600 AS hi
               FROM e GROUP BY user_id)
         SELECT w.wuser AS user_id, count(*) AS n_in_window
         FROM e JOIN w ON e.sec >= w.lo AND e.sec < w.hi
         GROUP BY w.wuser
         ORDER BY user_id"""
  )
}
