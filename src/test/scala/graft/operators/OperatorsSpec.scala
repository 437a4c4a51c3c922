package graft.operators

import java.sql.Timestamp

import graft.core.{JobCensus, SparkJobs}
import graft.queries.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator-level specs: crafted-input semantics for as-of/range joins and
  * the dedup family properties the DuckDB oracle cannot check (hash-seeded
  * LSH/SimHash recall). */
class OperatorsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val sf = "/root/testdata/sf0.001"

  test("asOf: matches latest right <= left, equal-ts matches, ties by id") {
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 09:00:00")), // before any right row
      (3L, 20L, ts("2024-01-01 12:00:00"))
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 09:30:00"), 100L, 1.0),
      (10L, ts("2024-01-01 10:00:00"), 101L, 2.0), // equal ts -> matches
      (10L, ts("2024-01-01 10:00:00"), 102L, 3.0), // tie: higher id wins
      (20L, ts("2024-01-01 11:00:00"), 103L, 4.0)
    ).toDF("user_id", "rts", "rid", "rvalue")
    val got = AsOfJoin.asOf(left, right, "user_id", "ts", "rts",
        Seq("rvalue"), rightTieBreak = Some("rid"))
      .select("event_id", "asof_rvalue").as[(Long, Option[Double])]
      .collect().toMap
    assert(got(1L) === Some(3.0)) // equal-ts, highest rid
    assert(got(2L) === None)      // nothing precedes
    assert(got(3L) === Some(4.0))
  }

  test("asOf match is atomic: null field in the latest right row stays null") {
    val left = Seq((1L, 10L, ts("2024-01-01 12:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 10:00:00"), 100L, Some(5.0)),
      (10L, ts("2024-01-01 11:00:00"), 101L, Option.empty[Double]) // latest, null value
    ).toDF("user_id", "rts", "rid", "rvalue")
    val row = AsOfJoin.asOf(left, right, "user_id", "ts", "rts",
        Seq("rts", "rvalue"), Some("rid"))
      .select("asof_rts", "asof_rvalue").head()
    assert(row.getTimestamp(0) === ts("2024-01-01 11:00:00"))
    assert(row.isNullAt(1), "must NOT stitch rvalue=5.0 from the older row")
  }

  test("range join: [t, t+win) boundary semantics across bucket edges") {
    val l = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("l_id", "l_ts")
    val r = Seq(
      (10L, ts("2024-01-01 09:59:59")), // before -> excluded
      (11L, ts("2024-01-01 10:00:00")), // inclusive start
      (12L, ts("2024-01-01 10:04:30")), // next bucket, inside
      (13L, ts("2024-01-01 10:05:00")), // exclusive end
      (14L, ts("2024-01-01 10:07:00"))  // after -> excluded
    ).toDF("r_id", "r_ts")
    val got = RangeJoin.timeWindowJoin(l, r, "l_ts", "r_ts", 300L)
      .select("r_id").as[Long].collect().sorted
    assert(got === Array(11L, 12L))
  }

  test("substring dedup: cross-doc spans found, offsets exact, within-doc repeats scoped") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),  // holds a..h at offset 0
      (2L, "x a b c d e f g h z"),  // holds a..h at offset 1
      (3L, "p q r s t u v w"),      // 8 unique tokens, duplicated nowhere
      (4L, "m m m m m m m m m")     // within-doc repeat: "m"x8 at offsets 0 and 1
    ).toDF("doc_id", "text")
    val dup = Dedup.duplicatedSpans(docs, "doc_id", "text", n = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(dup === Set(("a b c d e f g h", 2L, 2L)),
      "only the cross-doc span qualifies at minDocs=2")
    // minDocs=1 surfaces the within-doc repeat too (n_docs=1, n_occ=2)
    val within = Dedup.duplicatedSpans(docs, "doc_id", "text", 8, minDocs = 1)
      .filter(col("span") === "m m m m m m m m").head()
    assert(within.getLong(1) === 1L && within.getLong(2) === 2L)
    // the offset feed pins each duplicated occurrence to its token start
    val offs = Dedup.duplicatedSpanOffsets(docs, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(offs === Set((1L, 0), (2L, 1)))
  }

  test("span removal: keep-first masks non-canonical occurrences, unions overlaps") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),  // canonical copy of a..h (doc 1, start 0)
      (2L, "x a b c d e f g h z"),  // non-canonical -> tokens 1..8 masked
      (3L, "p q r s t u v w")       // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) === ("a b c d e f g h i j", 0), "canonical doc untouched")
    assert(out(2L) === ("x z", 8), "masked span tokens removed, rest joined")
    assert(out(3L) === ("p q r s t u v w", 0))
    // overlapping duplicated spans union their masks
    val docs2 = Seq(
      (1L, "a b c d e f g h i j"),  // canonical for both a..h and c..j
      (2L, "a b c d e f g h i j k") // both spans non-canonical: tokens 0..9 masked
    ).toDF("doc_id", "text")
    val out2 = Dedup.removeDuplicatedSpans(docs2, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out2(1L)._2 === 0)
    assert(out2(2L) === ("k", 10), s"overlapping masks must union: ${out2(2L)}")
  }

  test("connected components: long-chain adversarial input (linear-rounds bound)") {
    import spark.implicits._
    // A path graph is the worst case for min-label propagation: the
    // smallest label walks ONE hop per iteration, so a component of
    // diameter d needs ~d rounds — the documented linear-rounds bound.
    val chain = (1 until 30).map(i => (i.toLong, i + 1L)).toDF("d1", "d2")
    // maxIter below the diameter: the component SPLITS into multiple
    // cluster ids — the documented failure mode (warn + split, no error)
    val truncated = Dedup.connectedComponents(chain, maxIter = 10)
      .select("cluster_id").distinct().count()
    assert(truncated > 1L,
      "maxIter below the diameter must leave the chain split (documented mode)")
    // maxIter >= diameter: one component, labeled by its minimum id
    val full = Dedup.connectedComponents(chain, maxIter = 35)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
    assert(full.length === 30)
    assert(full.forall(_._2 == 1L), s"chain must collapse to min-label 1: ${full.take(5).toSeq}")
    // two disjoint chains stay distinct components
    val two = chain.union(Seq((101L, 102L), (102L, 103L)).toDF("d1", "d2"))
    val comps = Dedup.connectedComponents(two, maxIter = 35)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
    assert(comps.filter(_._1 >= 101L).forall(_._2 == 101L))
    assert(comps.filter(_._1 <= 30L).forall(_._2 == 1L))
  }

  test("range join: auto bucket width = sqrt(win/density), clamped; overrides honored") {
    val base = ts("2024-01-01 00:00:00").getTime
    def mk(n: Int, stepMs: Long) = (0 until n)
      .map(i => (i.toLong, new java.sql.Timestamp(base + i * stepMs)))
      .toDF("r_id", "r_ts")
    // 1000 rows over 9990 s -> density ~0.1/s -> w* = sqrt(c*win/d) with
    // the calibrated explode-cost ratio c = 2.25
    val r = mk(1000, 10_000L)
    val w = RangeJoin.autoBucketSeconds(r, "r_ts", 600L)
    assert(w === math.sqrt(2.25 * 600.0 * 9990.0 / 1000.0).round)
    // 100x denser -> ~10x narrower bucket (w shrinks as 1/sqrt(density))
    val wd = RangeJoin.autoBucketSeconds(mk(1000, 100L), "r_ts", 600L)
    assert(wd === math.sqrt(2.25 * 600.0 * 99.9 / 1000.0).round && wd < w)
    // sparse side clamps at the window width (the legacy fixed width)
    val sparse = Seq((1L, new java.sql.Timestamp(base)),
      (2L, new java.sql.Timestamp(base + 100_000_000L))).toDF("r_id", "r_ts")
    assert(RangeJoin.autoBucketSeconds(sparse, "r_ts", 600L) === 600L)
    // degenerate inputs: empty / single instant -> window width
    assert(RangeJoin.autoBucketSeconds(r.limit(0), "r_ts", 600L) === 600L)
    assert(RangeJoin.autoBucketSeconds(r.limit(1), "r_ts", 600L) === 600L)
  }

  test("range join: auto and explicit bucket widths are result-identical") {
    val rnd = new scala.util.Random(7)
    val base = ts("2024-01-01 00:00:00").getTime
    val l = (1 to 200).map(i => (i.toLong,
      new java.sql.Timestamp(base + rnd.nextInt(3600_000)))).toDF("l_id", "l_ts")
    val r = (1 to 200).map(i => (i.toLong,
      new java.sql.Timestamp(base + rnd.nextInt(3600_000)))).toDF("r_id", "r_ts")
    def run(bucket: Option[Long]) =
      RangeJoin.timeWindowJoin(l, r, "l_ts", "r_ts", 251L, bucketSeconds = bucket)
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    val auto = run(None)
    assert(auto.nonEmpty)
    for (b <- Seq(1L, 17L, 251L)) assert(run(Some(b)) === auto, s"bucket=$b diverges")
  }

  test("LSH candidates contain every exact-Jaccard pair (recall check)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh === exact)
  }

  test("fused batch acceptance ≡ composed minhashLshPairs + AgainstIndex + lshIndex") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    val base = docs.filter(col("doc_id") % 5 === 4)
    // plant guaranteed work for BOTH rejection arms: exact copies of two
    // corpus docs (must be caught by the stored-index probe) and exact
    // copies of two batch docs (must be caught by the intra-batch pass)
    val crossDup = corpus.orderBy("doc_id").limit(2)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val intraDup = base.orderBy("doc_id").limit(2)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val batch = base.unionByName(crossDup).unionByName(intraDup).localCheckpoint()
    val idx = Dedup.lshIndex(corpus, "doc_id", "text", 3).localCheckpoint()
    // the composition the fused operator replaces (the round-15 qp05 body)
    val intra = Dedup.minhashLshPairs(batch, "doc_id", "text", 3, 0.8)
      .select(col("d2").as("doc_id")).distinct()
    val kept = batch.join(intra, Seq("doc_id"), "left_anti")
    val cont = Dedup.minhashLshPairsAgainstIndex(corpus, idx, kept,
        "doc_id", "text", 3, 0.8)
      .select(col("delta_id").as("doc_id")).distinct()
    val acceptedRef = kept.join(cont, Seq("doc_id"), "left_anti").localCheckpoint()
    val indexRef = Dedup.lshIndex(acceptedRef, "doc_id", "text", 3)
    val (accepted, indexRows) = Dedup.acceptBatchAgainstIndex(
      corpus, idx, batch, "doc_id", "text", 3, 0.8)
    assert(intra.count() > 0, "planted intra-batch dups must be caught")
    assert(cont.count() > 0, "planted corpus dups must be caught by the index probe")
    assert(accepted.collect().toSet === acceptedRef.collect().toSet)
    assert(indexRows.collect().toSet === indexRef.collect().toSet)
  }

  test("stored-index dedup: same pairs as one-shot; corpus never re-shingled") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    val delta = docs.filter(col("doc_id") % 5 === 4)
    val idxDir = "file://" + java.nio.file.Files
      .createTempDirectory("graft_lshidx_spec_").toString
    graft.core.ManifestTable.write(
      Dedup.lshIndex(corpus, "doc_id", "text", 3), idxDir)
    val idx = graft.core.ManifestTable.read(spark, idxDir)
    val viaIndex = Dedup.minhashLshPairsAgainstIndex(
      corpus, idx, delta, "doc_id", "text", 3, 0.8)
    val oneShot = Dedup.minhashLshPairsAgainst(
      corpus, delta, "doc_id", "text", 3, 0.8)
    assert(viaIndex.collect().toSet === oneShot.collect().toSet)
    // plan proof over the plans the default call runs (its eager
    // localCheckpoint, with the persisted delta arrays and candidates
    // inlined): with an in-memory delta, every minhash signature
    // aggregation must sit over the delta (LocalRelation) — if the corpus
    // were re-shingled for banding, a 64-hash Aggregate whose subtree
    // scans documents.parquet would appear.
    val deltaLocal = Seq((900001L, "spark join filter window batch stream"))
      .toDF("doc_id", "text")
    val (_, plans) = SparkJobs.plans(spark)(Dedup.minhashLshPairsAgainstIndex(
      corpus, idx, deltaLocal, "doc_id", "text", 3, 0.8))
    val sigAggNodes = plans.flatMap(_.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.aggregateExpressions.map(_.toString)
            .count(_.contains("min(xxhash64")) >= 64 => a
    })
    assert(sigAggNodes.nonEmpty, "signature aggregation missing entirely")
    def scansFile(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                  marker: String): Boolean =
      p.collectLeaves().exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(marker))
            case _ => false
          }
        case _ => false
      }
    val corpusSigAggs = sigAggNodes.filter(scansFile(_, "documents.parquet"))
    assert(corpusSigAggs.isEmpty,
      "the corpus was re-shingled for banding — the stored index must be the only source")
    // and the index is read from its stored parquet files, not recomputed
    assert(plans.exists(scansFile(_, "graft_lshidx_spec_")),
      "plan does not scan the stored index")
  }

  test("dedup operators: Spark jobs per call are pinned (sf0.001)") {
    // Each call's jobs: its eager persist/localCheckpoint work plus one
    // collect of the result. A count that falls updates its pin; a rise
    // is a regression.
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    val delta = docs.filter(col("doc_id") % 5 === 4)
    val idx = Dedup.lshIndex(corpus, "doc_id", "text", 3).localCheckpoint()
    def jobs(call: => DataFrame): Int = SparkJobs.counted(spark)(call.collect())._2
    val got = Seq(
      "ngramJaccardPairs" -> jobs(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)),
      "ngramJaccardPairs capped" -> jobs(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3,
        0.8, maxShingleDocFreq = Some(50))),
      "minhashLshPairs" -> jobs(Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8)),
      "minhashLshPairsAgainst" -> jobs(Dedup.minhashLshPairsAgainst(corpus, delta,
        "doc_id", "text", 3, 0.8)),
      "minhashLshPairsAgainstIndex" -> jobs(Dedup.minhashLshPairsAgainstIndex(corpus, idx,
        delta, "doc_id", "text", 3, 0.8)),
      "acceptBatchAgainstIndex" -> {
        // its phases run under their own operators.dedup.* labels
        val census = JobCensus.of(spark.sparkContext)
        JobCensus.drain(spark.sparkContext)
        val before = census.counts
        val own = SparkJobs.counted(spark) {
          val (accepted, indexRows) = Dedup.acceptBatchAgainstIndex(corpus, idx, delta,
            "doc_id", "text", 3, 0.8)
          (accepted.collect(), indexRows.collect())
        }._2
        val phases = (census.counts - before).labels
          .filter(_._1.startsWith("operators.dedup."))
        own + phases.values.sum.toInt
      },
      "simhashPairs" -> jobs(Dedup.simhashPairs(docs, "doc_id", "text")),
      "duplicatedSpanOffsets" -> jobs(Dedup.duplicatedSpanOffsets(docs, "doc_id", "text", 8)))
    assert(got === Seq(
      "ngramJaccardPairs" -> 11,
      "ngramJaccardPairs capped" -> 16,
      "minhashLshPairs" -> 26,
      "minhashLshPairsAgainst" -> 23,
      "minhashLshPairsAgainstIndex" -> 21,
      "acceptBatchAgainstIndex" -> 57,
      "simhashPairs" -> 6,
      "duplicatedSpanOffsets" -> 8))
  }

  test("stop-shingle cap never invents pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8,
        maxShingleDocFreq = Some(50))
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(uncapped))
  }

  test("kmeans converges to the true clusters from rough init") {
    import spark.implicits._
    // two well-separated clusters in 4-d; init centroids deliberately off
    val vecs = (
      (0 until 20).map(i => (i.toLong, Array(10f + i % 3, 10f, 0f, 0f))) ++
      (20 until 50).map(i => (i.toLong, Array(-10f, -10f - i % 3, 0f, 0f)))
    ).toDF("id", "vec")
    val init = Seq(
      (0L, Array(1.0, 1.0, 0.0, 0.0)),
      (1L, Array(-1.0, 0.0, 0.0, 0.0))).toDF("cluster", "centroid")
    val out = Similarity.kmeans(vecs, "id", "vec", dim = 4, init, iters = 3)
      .select($"cluster", $"n").as[(Long, Long)].collect().toMap
    assert(out === Map(0L -> 20L, 1L -> 30L),
      s"k-means must separate the two blobs: $out")
  }

  test("bloom decontamination has no false negatives vs exact overlap") {
    import spark.implicits._
    val docs = Tables_docs
    val train = docs.filter(col("doc_id") % 2 === 0)
    val eval = docs.filter(col("doc_id") % 2 === 1)
    val exact = Dedup.decontaminate(train, eval, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.bloomDecontaminate(train, eval, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(exact.subsetOf(bloom),
      s"bloom missed contaminated docs: ${exact -- bloom}")
    // tiny filter -> saturated bits -> deliberate false positives exist,
    // and they are deterministic (same output across partitionings)
    val b2 = Dedup.bloomDecontaminate(train.repartition(7), eval, "doc_id", "text",
      n = 3).select("doc_id").as[Long].collect().toSet
    assert(b2 === bloom)
  }

  private def Tables_docs =
    graft.core.Tables.documents(spark, "/root/testdata/sf0.001")

  test("simhash: identical docs at distance 0; pairs are id-ordered") {
    val docs = Seq(
      (1L, "spark join filter window batch stream"),
      (2L, "spark join filter window batch stream"), // identical
      (3L, "completely different words entirely here now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .select("d1", "d2", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.toSeq === Seq((1L, 2L, 0)))
  }

  test("asOf tolerance: stale matches null out, boundary-age matches survive") {
    import java.sql.Timestamp
    val left = Seq(
      (1L, 10L, Timestamp.valueOf("2024-01-01 10:00:00")),  // match 5 min old
      (2L, 10L, Timestamp.valueOf("2024-01-01 11:00:00")),  // match 65 min old
      (3L, 10L, Timestamp.valueOf("2024-01-01 10:05:00")))  // exactly at tolerance
      .toDF("event_id", "user_id", "ts")
    val right = Seq((10L, Timestamp.valueOf("2024-01-01 09:55:00"), 7L, 1.5))
      .toDF("user_id", "rts", "rid", "rvalue")
    val got = AsOfJoin.asOf(left, right, "user_id", "ts", "rts",
        Seq("rvalue"), Some("rid"), toleranceSeconds = Some(600L))
      .select("event_id", "asof_rvalue")
      .as[(Long, Option[Double])].collect().toMap
    assert(got === Map(1L -> Some(1.5), 2L -> None, 3L -> Some(1.5)))
  }

  test("asOf tolerance is full microsecond precision, not truncated seconds") {
    // right row at 09:59:59.999999; left rows 1.000001 s and exactly 1 s
    // later. Under truncated-seconds arithmetic both ages collapse to <= 1 s
    // and both match; at micros precision the first is 1000002 us > 1 s.
    val left = Seq(
      (1L, 10L, Timestamp.valueOf("2024-01-01 10:00:01.000001")), // 1.000002 s old
      (2L, 10L, Timestamp.valueOf("2024-01-01 10:00:00.999999"))) // exactly 1 s old
      .toDF("event_id", "user_id", "ts")
    val right = Seq((10L, Timestamp.valueOf("2024-01-01 09:59:59.999999"), 7L, 2.5))
      .toDF("user_id", "rts", "rid", "rvalue")
    val got = AsOfJoin.asOf(left, right, "user_id", "ts", "rts",
        Seq("rvalue"), Some("rid"), toleranceSeconds = Some(1L))
      .select("event_id", "asof_rvalue")
      .as[(Long, Option[Double])].collect().toMap
    assert(got === Map(1L -> None, 2L -> Some(2.5)))
  }

  test("asOf tolerance on LongType epoch-second time columns uses long arithmetic") {
    // regression: the micros-precision path hard-required TimestampType,
    // silently breaking callers with epoch-second long columns
    val left = Seq(
      (1L, 10L, 1000L),  // match 300 s old
      (2L, 10L, 4000L),  // match 3300 s old -> stale
      (3L, 10L, 1300L))  // exactly at tolerance
      .toDF("event_id", "user_id", "ts")
    val right = Seq((10L, 700L, 7L, 1.5)).toDF("user_id", "rts", "rid", "rvalue")
    val got = AsOfJoin.asOf(left, right, "user_id", "ts", "rts",
        Seq("rvalue"), Some("rid"), toleranceSeconds = Some(600L))
      .select("event_id", "asof_rvalue")
      .as[(Long, Option[Double])].collect().toMap
    assert(got === Map(1L -> Some(1.5), 2L -> None, 3L -> Some(1.5)))
  }

  test("asOf tolerance on an unsupported time type rejects with a clear error") {
    val left = Seq((1L, 10L, "2024-01-01")).toDF("event_id", "user_id", "ts")
    val right = Seq((10L, "2023-12-31", 7L, 1.5)).toDF("user_id", "rts", "rid", "rvalue")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asOf(left, right, "user_id", "ts", "rts",
        Seq("rvalue"), Some("rid"), toleranceSeconds = Some(600L))
    }
    assert(e.getMessage.contains("TimestampType or integral"))
  }

  test("connected components: labels propagate along chains, not just edges") {
    // path 1-2-3-4 plus isolated pair 8-9: min label must travel 3 hops
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L)).toDF("d1", "d2")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("connected components: empty pair set yields empty labeling") {
    val pairs = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(Dedup.connectedComponents(pairs).count() === 0)
  }

  test("brute-force top-k: rank 1 of a corpus vector is itself") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val top1 = Similarity.bruteForceTopK(queries, corpus, 1)
      .select("q_id", "id").as[(Long, Long)].collect().toMap
    assert(top1 === Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("IVF with nprobe=K equals brute force") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.centroids(
      emb.select(col("label"), col("embedding")), "label", "embedding", 64)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val brute = Similarity.bruteForceTopK(queries, corpus, 5)
      .select("q_id", "rank", "id").as[(Long, Int, Long)].collect().toSet
    val ivfAll = Similarity.ivfTopK(queries, corpus, cents, 5, nprobe = 10)
      .select("q_id", "rank", "id").as[(Long, Int, Long)].collect().toSet
    assert(ivfAll === brute)
  }

  test("misra-gries: guarantee holds on adversarial local streams") {
    // heavy item arrives FIRST, then a flood of distinct items forces
    // maximal decrements — the worst case for counter eviction
    val heavy = Seq.fill(200)("hh")
    val noise = (1 to 1800).map(i => s"n$i")
    val stream = heavy ++ noise // heavy freq 0.1 of n=2000
    for (cap <- Seq(15, 63)) { // both >> 1/0.1 guarantee boundary
      val kept = HeavyHitters.misraGries(stream.iterator, cap).toSet
      assert(kept.contains("hh"), s"MG(cap=$cap) evicted a 10% item")
      assert(kept.size <= cap)
    }
  }

  test("exact heavy hitters == naive groupBy-count-filter on skewed data") {
    // zipf-ish: item i appears 1000/i times; threshold fraction picks a
    // stable prefix regardless of partitioning
    val rows = (1 to 50).flatMap(i => Seq.fill(1000 / i)(s"w$i"))
    val df = spark.createDataset(
      scala.util.Random.shuffle(rows))(org.apache.spark.sql.Encoders.STRING)
      .repartition(7).toDF("item")
    val n = rows.size
    val minFrac = 0.01
    val got = HeavyHitters.exact(df, "item", minFrac, capacity = 256)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val threshold = math.ceil(minFrac * n).toLong
    val want = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= threshold).toSet
    assert(got === want)
  }

  test("heavy hitters rejects a threshold below the MG guarantee") {
    val df = Seq("a", "b").toDF("item")
    intercept[IllegalArgumentException] {
      HeavyHitters.exact(df, "item", minFrac = 0.0001, capacity = 100)
    }
  }

  test("seeded hyperplanes: deterministic, data-free, roughly centered") {
    val h1 = Similarity.seededHyperplanes(spark, numPlanes = 8, dim = 64).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    val h2 = Similarity.seededHyperplanes(spark, numPlanes = 8, dim = 64).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    assert(h1.toSeq === h2.toSeq, "same seed must give identical planes")
    val vals = h1.flatMap(_._2)
    assert(vals.length === 8 * 64)
    assert(vals.forall(v => v >= -1.5 && v < 1.5))
    val mean = vals.sum / vals.length
    assert(math.abs(mean) < 0.1, s"plane components should center near 0, mean=$mean")
    // every plane distinct (no degenerate LCG collapse)
    assert(h1.map(_._2).distinct.length === 8)
  }

  test("embedding cosine pairs respect the required blocking column") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), "a"), (2L, Array(1.0f, 0.01f), "a"),
      (3L, Array(1.0f, 0.0f), "b")) // identical to 1 but in another block
      .toDF("id", "vec", "blk")
    val pairs = Dedup.embeddingCosinePairs(vecs, "id", "vec", 0.9, blockCol = "blk")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)), "cross-block pairs must not be compared")
  }

  test("assignNearest edge semantics: empty centroids -> zero rows; null vector keeps its row") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1f, 0f)),
      (2L, null.asInstanceOf[Array[Float]]))
      .toDF("id", "vec")
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("cluster", "centroid")
    // null-vector rows KEEP their row (all scores null -> the nan-safe
    // tiebreak lands on the smallest cluster id, same as the crossJoin
    // formulation) — silently dropping them would lose corpus rows
    val out = graft.operators.Similarity
      .assignNearest(vecs, "id", "vec", cents)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1)
    assert(out === Array((1L, 0L), (2L, 0L)))
    // an EMPTY centroid set assigns nothing at all
    val empty = cents.filter(col("cluster") < 0)
    assert(graft.operators.Similarity
      .assignNearest(vecs, "id", "vec", empty).count() === 0L)
  }

  test("semanticDedup: within-cluster greedy keep-lowest-id, chains over-drop, empty cents -> empty") {
    import spark.implicits._
    // cluster u (near (1,0)): 1~2 (dup), 4 far from both -> kept
    // cluster v (near (0,1)): chain 5~6, 6~7 but 5!~7 -> greedy drops BOTH
    // 6 and 7 (documented over-drop: any smaller-id neighbor >= tau)
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0.05f)), (4L, Array(0.6f, 0.42f)),
      (5L, Array(0f, 1f)), (6L, Array(0.2f, 0.98f)), (7L, Array(0.4f, 0.92f)))
      .toDF("id", "vec")
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("cluster", "centroid")
    // cos(1,2)=.9988 drops 2; cos(1,4)=.819, cos(2,4)=.847 keep 4;
    // cos(5,6)=.9798 drops 6; cos(6,7)=.9783 drops 7 even though
    // cos(5,7)=.917 < tau — 7's only close smaller-id neighbor (6) was
    // itself dropped: the documented greedy chain over-drop
    val out = Dedup.semanticDedup(vecs, "id", "vec", cents, threshold = 0.97)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(out === Array(
      (1L, 0L, true), (2L, 0L, false), (4L, 0L, true),
      (5L, 1L, true), (6L, 1L, false), (7L, 1L, false)))
    // empty centroid set -> zero rows (assignNearest folded-row contract)
    val empty = cents.filter(col("cluster") < 0)
    assert(Dedup.semanticDedup(vecs, "id", "vec", empty, 0.9).count() === 0L)
  }

  test("pqEncode/pqTopK: codes are sorted-codebook indexes, ADC distances exact on crafted vectors") {
    import spark.implicits._
    // dim=4, m=2 -> codebooks per 2-dim subspace from 2 centroids:
    //   sub0: idx0=(1,0) idx1=(0,1);  sub1: idx0=(0,1) idx1=(1,0)
    val cents = Seq(
      (0L, Array(1f, 0f, 0f, 1f)),
      (1L, Array(0f, 1f, 1f, 0f))).toDF("cluster", "centroid")
    val corpus = Seq(
      (1L, Array(1f, 0f, 1f, 0f)),       // codes [0,1]
      (2L, Array(0f, 1f, 0f, 1f)),       // codes [1,0]
      (3L, Array(0.9f, 0.1f, 0.1f, 0.9f)), // codes [0,0]
      (4L, Array(0.5f, 0.5f, 0.5f, 0.5f))) // equidistant -> smallest idx [0,0]
      .toDF("id", "vec")
    val enc = Similarity.pqEncode(corpus, "id", "vec", cents, m = 2, dim = 4)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList)).sortBy(_._1)
    assert(enc === Array(
      (1L, List(0, 1)), (2L, List(1, 0)), (3L, List(0, 0)), (4L, List(0, 0))))
    // ADC vs query (1,0,0,1) = centroid 0: LUT sub0=[0,2], sub1=[0,2]
    // approx: id1 0+2=2, id2 2+0=2, id3 0, id4 0 -> rank by (approx, id)
    val queries = Seq((9L, Array(1f, 0f, 0f, 1f))).toDF("q_id", "q_vec")
    val got = Similarity.pqTopK(queries, corpus, cents, m = 2, dim = 4, k = 4)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.sortBy(_._1) === Array(
      (1, 3L, 0.0), (2, 4L, 0.0), (3, 1L, 2.0), (4, 2L, 2.0)))
    // empty centroid set -> no codebooks -> zero rows, not a crash
    assert(Similarity.pqEncode(corpus, "id", "vec",
      cents.filter(col("cluster") < 0), m = 2, dim = 4).count() === 0L)
  }

  test("ivfPqTopK: unprobed clusters never surface; probing them adds their ADC ranks") {
    import spark.implicits._
    // same crafted geometry as the pqTopK case: coarse AND pq centroids
    //   cluster 0 = (1,0,0,1), cluster 1 = (0,1,1,0)
    val cents = Seq(
      (0L, Array(1f, 0f, 0f, 1f)),
      (1L, Array(0f, 1f, 1f, 0f))).toDF("cluster", "centroid")
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f, 1f)),         // cluster 0, codes [0,0]
      (2L, Array(0f, 1f, 1f, 0f)),         // cluster 1, codes [1,1]
      (3L, Array(0.9f, 0.1f, 0.1f, 0.9f))) // cluster 0, codes [0,0]
      .toDF("id", "vec")
    val queries = Seq((9L, Array(1f, 0f, 0f, 1f))).toDF("q_id", "q_vec")
    def run(nprobe: Int) =
      Similarity.ivfPqTopK(queries, corpus, cents, cents,
          m = 2, dim = 4, k = 3, nprobe = nprobe)
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1)
    // nprobe=1 probes only cluster 0: id2 is EXCLUDED even though k has
    // room for it — the IVF restriction, not the ADC ranking, cuts it
    assert(run(1) === Array((1, 1L, 0.0), (2, 3L, 0.0)))
    // nprobe=2 re-admits cluster 1: id2 ranks by its ADC distance
    // (LUT sub0[1] + sub1[1] = 2 + 2 = 4)
    assert(run(2) === Array((1, 1L, 0.0), (2, 3L, 0.0), (3, 2L, 4.0)))
  }

  test("ivfSqTopK: unprobed clusters never surface; probing re-admits at dequantized rank") {
    import spark.implicits._
    // same crafted geometry as the IVFPQ case — two well-separated
    // clusters; SQ codes reconstruct the corners of the bounds box
    // exactly (min/max values quantize losslessly), so the dequantized
    // cosines are the exact ones
    val cents = Seq(
      (0L, Array(1f, 0f, 0f, 1f)),
      (1L, Array(0f, 1f, 1f, 0f))).toDF("cluster", "centroid")
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f, 1f)),   // cluster 0
      (2L, Array(0f, 1f, 1f, 0f)),   // cluster 1
      (3L, Array(1f, 0f, 0f, 1f)))   // cluster 0, dup of 1
      .toDF("id", "vec")
    val bounds = Similarity.sqBounds(corpus.select(col("vec")), "vec")
      .localCheckpoint()
    val queries = Seq((9L, Array(1f, 0f, 0f, 1f))).toDF("q_id", "q_vec")
    def run(nprobe: Int) =
      Similarity.ivfSqTopK(queries, corpus, cents, bounds, k = 3, nprobe = nprobe)
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1)
    // nprobe=1 probes only cluster 0: id2 is EXCLUDED even with room at k
    assert(run(1) === Array((1, 1L, 1.0), (2, 3L, 1.0)))
    // nprobe=2 re-admits cluster 1 at its dequantized cosine (orthogonal)
    assert(run(2) === Array((1, 1L, 1.0), (2, 3L, 1.0), (3, 2L, 0.0)))
  }

  test("real image codec: PNG encode/decode round trip, resize re-decodes to planned dims") {
    // encode → decode recovers the generative parameters exactly (lossless)
    val bytes = Multimodal.ImageCodec.encodePng(40, 20, 10, 200, 77)
    val dec = Multimodal.ImageCodec.decode(7L, bytes)
    assert((dec.media_id, dec.width, dec.height) === ((7L, 40, 20)))
    assert((dec.mean_r, dec.mean_g, dec.mean_b) === ((10.0, 200.0, 77.0)))
    // real raster resize: output container re-decodes to the target dims,
    // and a solid fill survives bilinear scaling with identical means
    val small = Multimodal.ImageCodec.decode(7L,
      Multimodal.ImageCodec.resizePng(bytes, 24, 12))
    assert((small.width, small.height) === ((24, 12)))
    assert((small.mean_r, small.mean_g, small.mean_b) === ((10.0, 200.0, 77.0)))
    // garbage bytes are a loud error, not a silent zero-row
    intercept[IllegalArgumentException] {
      Multimodal.ImageCodec.decode(1L, "not a png".getBytes("UTF-8"))
    }
    // the distributed path agrees with the local codec
    import spark.implicits._
    val ids = spark.range(5).toDF("doc_id")
    val out = Multimodal.decodeImages(spark,
      Multimodal.generateImages(spark, ids, "doc_id")).collect().sortBy(_.media_id)
    assert(out.length === 5)
    out.foreach { r =>
      assert(r.width === 16 + (r.media_id % 32).toInt)
      assert(r.height === 16 + ((r.media_id / 3) % 24).toInt)
      assert(r.mean_r === (r.media_id % 256).toDouble)
    }
  }

  test("decode stub is deterministic and dimension-bounded") {
    val media = Seq(
      Multimodal.MediaRow(1L, "hello world frame data".getBytes("UTF-8"), "text/plain"),
      Multimodal.MediaRow(2L, Array.emptyByteArray, "text/plain"))
    val ds = spark.createDataset(media)
    val out = Multimodal.decodeAll(spark, ds).collect().sortBy(_.media_id)
    assert(out.length === 2)
    assert(out(0) === Multimodal.DecodeStub.decode(media.head)) // deterministic
    assert(out.forall(d => d.width >= 1 && d.width <= 1024))
    assert(out(1).mean_byte === 0.0)
  }

  /** Structured vectors for the range-search tests (the SHARED qv08
    * formula — spike at label*6 plus bounded noise): tight clusters, so
    * pruning has real work. */
  private def rangeFixture = {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val sv = graft.queries.VectorQueries.rangeSynthVec
    val base = emb.select(col("vec_id"), col("label"), sv.as("v"))
    val cents = Similarity.centroids(
      base.select(col("label"), col("v").cast("array<float>").as("v")),
      "label", "v", 64)
    val queries = base.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"))
    val corpus = base.select(col("vec_id").as("id"), col("v").as("vec"))
    (queries, corpus, cents)
  }

  test("range search equals brute force AND actually prunes clusters") {
    val (queries, corpus, cents) = rangeFixture
    val tau = 0.6
    val got = Similarity.rangeSearch(queries, corpus, cents, tau)
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val brute = corpus.crossJoin(broadcast(queries))
      .withColumn("cosine", round(
        graft.functions.VectorFunctions.cosineSimilarity(col("q_vec"), col("vec")), 6))
      .filter(col("cosine") >= tau)
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    assert(got === brute)
    assert(got.nonEmpty) // each query at least finds itself
    // the bound must have EXCLUDED clusters: admitted << |queries| * K
    val assigned = Similarity.assignNearest(corpus, "id", "vec", cents)
    val nClusters = cents.count()
    val admitted = Similarity.rangeAdmitted(queries,
      Similarity.clusterRadii(assigned, cents), tau).count()
    assert(admitted < queries.count() * nClusters,
      s"no pruning: $admitted probes for ${queries.count()} x $nClusters")
    assert(admitted <= queries.count() * 3) // tight clusters: ~1 each
  }

  test("range search on loose clusters stays exact (bound admits everything)") {
    // the raw embeddings are isotropic: label clusters are loose, the
    // sound bound can prune nothing — exactness must hold regardless
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.centroids(
      emb.select(col("label"), col("embedding")), "label", "embedding", 64)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val tau = 0.25
    val got = Similarity.rangeSearch(queries, corpus, cents, tau)
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val brute = corpus.crossJoin(broadcast(queries))
      .withColumn("cosine", round(
        graft.functions.VectorFunctions.cosineSimilarity(col("q_vec"), col("vec")), 6))
      .filter(col("cosine") >= tau)
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    assert(got === brute)
  }

  test("scalar quantization: codes in 0..255, dequantization error <= step/2, constant dims -> 0") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // append a CONSTANT dimension to exercise the step=0 arm
    val corpus = emb.select(col("vec_id").as("id"),
      concat(col("embedding").cast("array<double>"), array(lit(7.5))).as("vec"))
    val bounds = Similarity.sqBounds(corpus, "vec").collect().head
    val mins = bounds.getSeq[Double](0)
    val steps = bounds.getSeq[Double](1)
    assert(mins.length == 65 && steps.length == 65)
    assert(steps.last == 0.0) // constant dim
    val enc = Similarity.sqEncode(corpus, "id", "vec", Similarity.sqBounds(corpus, "vec"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val raw = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    raw.foreach { case (id, v) =>
      val codes = enc(id)
      codes.foreach(c => assert(c >= 0 && c <= 255))
      assert(codes.last == 0) // constant dim encodes to 0
      v.indices.dropRight(1).foreach { j =>
        val dq = mins(j) + steps(j) * codes(j)
        assert(math.abs(dq - v(j)) <= steps(j) / 2 + 1e-12,
          s"dequant error beyond half-step at id=$id dim=$j")
      }
    }
  }

  test("range search at a near-1 tau finds exactly the duplicate orbit") {
    // the noise term has period 13 in vec_id: same-label vectors with
    // vec_id ≡ q (mod 13) are EXACT duplicates (cosine 1.0) — at a
    // tau above every non-duplicate cosine the result is precisely the
    // self+duplicate orbit, and it still matches brute force
    val (queries, corpus, cents) = rangeFixture
    val got = Similarity.rangeSearch(queries, corpus, cents, tau = 0.9999)
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    assert(Set((0L, 0L), (1L, 1L), (2L, 2L)).subsetOf(got)) // self always in
    val brute = corpus.crossJoin(broadcast(queries))
      .withColumn("cosine", round(
        graft.functions.VectorFunctions.cosineSimilarity(col("q_vec"), col("vec")), 6))
      .filter(col("cosine") >= 0.9999)
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    assert(got === brute)
  }
}
