package graft.queries

import graft.core.Tables
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY.md §2 Part B):
  * brute-force cosine top-k (exact baseline) and IVF-pruned ANN (scale
  * path). Both DuckDB-checked — the IVF oracle recomputes label centroids
  * with a generated 64-term element-wise average and replays the same
  * assignment/probe/search logic in SQL.
  */
object VectorQueries extends QueryModule {

  private[queries] val dim = 64
  private val k = 10
  private val nprobe = 2
  // PQ layout shared by the qv06/qv07 Spark calls AND their oracle SQL —
  // one set of constants, no silent drift between the two engines
  private val pqM = 8
  private val pqSub = dim / 8
  private val pqK = 5

  /** DuckDB CTE fragment regenerating [[Similarity.seededHyperplanes]] as
    * `h(h_id, hv DOUBLE[])` — same MINSTD LCG + Irwin-Hall(3) formula,
    * exact integer steps + one IEEE division, so the planes match Spark's
    * bit-for-bit with no data dependency. */
  private[queries] def seededPlanesCte(numPlanes: Int, dim: Int): String =
    s"""_hp AS (SELECT p, j,
            ((p*131071 + j*524287 + 9369319) % 2147483647) * 48271 % 2147483647 AS s1
          FROM generate_series(0, ${numPlanes - 1}) t(p),
               generate_series(0, ${dim - 1}) u(j)),
        _hp2 AS (SELECT p, j, s1,
            s1*48271%2147483647 AS s2,
            s1*48271%2147483647*48271%2147483647 AS s3
          FROM _hp),
        h AS (SELECT CAST(p AS INTEGER) AS h_id,
            list(CAST(s1+s2+s3 AS DOUBLE)/2147483647.0 - 1.5 ORDER BY j) AS hv
          FROM _hp2 GROUP BY p)"""

  override val queries: Map[String, Q] = Map(
    // --- exact brute-force top-k (map-only: broadcast queries, scan corpus
    //     once, per-query top-k window) ---
    "qv01_cosine_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteForceTopK(queries, corpus, k)
        .orderBy("q_id", "rank")
    },

    // --- IVF ANN: label-mean centroids (typed VectorMean Aggregator),
    //     nearest-centroid assignment, nprobe-cluster exact search ---
    "qv02_ivf_ann" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.centroids(
        emb.select(col("label"), col("embedding")), "label", "embedding", dim)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfTopK(queries, corpus, cents, k = 5, nprobe = nprobe)
        .orderBy("q_id", "rank")
    },

    // --- FILTERED (hybrid) ANN (Similarity.ivfTopKFiltered): tenant-/
    //     label-scoped vector search over the SAME shared IVF index —
    //     the assignment carries the corpus metadata, the probe fold
    //     carries the query's, and the predicate (candidate label =
    //     query label) prunes AFTER the probe join, BEFORE the bounded
    //     heap; differently-filtered batches never rebuild the index ---
    "qv11_filtered_ann" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.centroids(
        emb.select(col("label"), col("embedding")), "label", "embedding", dim)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label"))
      Similarity.ivfTopKFiltered(queries, corpus, cents, k = 5, nprobe = nprobe,
          corpusMeta = Seq("label"), queryMeta = Seq("q_label"),
          keep = col("label") === col("q_label"))
        .orderBy("q_id", "rank")
    },

    // --- ANN recall@k evaluation (the index-quality measurement every
    //     approximate search deployment runs before trusting an index):
    //     exact top-10 (bounded-heap brute force) vs IVF top-10 over the
    //     SAME corpus scan lineage, per-query hit count via a left semi-
    //     shaped join on (q_id, id), recall = hits/k. Deterministic
    //     because both rankings tie-break (round(cos,6) desc, id) ---
    "qv12_ann_recall" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.centroids(
        emb.select(col("label"), col("embedding")), "label", "embedding", dim)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val exact = Similarity.bruteForceTopK(queries, corpus, k)
        .select(col("q_id"), col("id"))
      val approx = Similarity.ivfTopK(queries, corpus, cents, k = k, nprobe = nprobe)
        .select(col("q_id").as("aq"), col("id").as("aid"))
      exact.join(approx,
          exact("q_id") === approx("aq") && exact("id") === approx("aid"), "left")
        .groupBy("q_id")
        .agg(sum(col("aid").isNotNull.cast("long")).as("n_hits"))
        .select(col("q_id"), col("n_hits"),
          round(col("n_hits") / k.toDouble, 2).as("recall"))
        .orderBy("q_id")
    },

    // --- INCREMENTAL index maintenance (the 100 TB steady state: the
    //     IVF index is built ONCE — centroids frozen — and each day's
    //     arrivals are assignNearest-ed map-only and APPENDED; nothing is
    //     rebuilt. Assignment is a pure function of the frozen centroids,
    //     so the grown index is bit-identical to a full rebuild — which
    //     is exactly what the oracle replays. Search via ivfTopKIndexed
    //     pays only the probe join against the stored assignment ---
    "qv14_incremental_index" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val base = emb.filter(col("vec_id") % 10 =!= 0) // day-0 corpus
      val batch = emb.filter(col("vec_id") % 10 === 0) // the new arrivals
      val cents = Similarity.centroids(
        base.select(col("label"), col("embedding")), "label", "embedding", dim)
        .localCheckpoint() // the FROZEN stored model
      val baseIdx = Similarity.assignNearest(
        base.select(col("vec_id").as("id"), col("embedding").as("vec")),
        "id", "vec", cents)
      val delta = Similarity.assignNearest(
        batch.select(col("vec_id").as("id"), col("embedding").as("vec")),
        "id", "vec", cents)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.ivfTopKIndexed(queries, baseIdx.unionAll(delta), cents,
          k = 5, nprobe = nprobe)
        .orderBy("q_id", "rank")
    },

    // --- TWO-STAGE retrieval (the production serving shape: a compressed
    //     first stage shortlists k'=30 by approximate distance over the
    //     int8 SQ index — 4× less I/O than raw vectors — then an EXACT
    //     rerank touches only the |Q|×k' shortlisted raw vectors and
    //     keeps top-5. At 100 TB the corpus is only ever scanned as
    //     codes; full-precision reads are bounded by the shortlist) ---
    "qv13_two_stage" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val bounds = Similarity.sqBounds(corpus, "vec").localCheckpoint()
      val index = Similarity.sqEncode(corpus, "id", "vec", bounds)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val shortlist = Similarity.sqTopK(queries, index, bounds, k = 30)
        .select(col("q_id"), col("id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cosine").desc, col("id"))
      shortlist.join(corpus, "id").join(broadcast(queries), Seq("q_id"))
        .withColumn("cosine",
          round(graft.functions.VectorFunctions.cosineSimilarity(col("q_vec"), col("vec")), 6))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 5)
        .select("q_id", "rank", "id", "cosine")
        .orderBy("q_id", "rank")
    },

    // --- sign-LSH bucketed ANN: 8 seeded pseudo-Gaussian hyperplanes ->
    //     256 buckets (data-independent cuts, replayed by the oracle from
    //     the same integer-LCG formula); probe = equi-join on bucket,
    //     exact cosine rank within bucket ---
    "qv04_lsh_ann" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val hyper = Similarity.seededHyperplanes(s, numPlanes = 8, dim = dim)
      val buckets = Similarity.signLshBuckets(
        emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding", hyper)
      val withB = emb.join(buckets, "vec_id")
      val q = withB.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"), col("bucket"))
      val c = withB.select(col("vec_id").as("id"), col("embedding").as("vec"), col("bucket"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cosine").desc, col("id"))
      c.join(broadcast(q), Seq("bucket"))
        .withColumn("cosine",
          round(graft.functions.VectorFunctions.cosineSimilarity(col("q_vec"), col("vec")), 6))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select("q_id", "rank", "id", "cosine")
        .orderBy("q_id", "rank")
    },

    // --- k-means (Lloyd) refinement: label centroids as deterministic
    //     init, 2 re-assign/re-average iterations. Assignment is the
    //     broadcast-centroid-array argmax HOF (a pure map over the corpus,
    //     zero corpus Exchange per iteration);
    //     the update shuffles only K x dim partial sums per partition.
    //     Fixed init + fixed iterations = a deterministic dataflow the
    //     DuckDB oracle replays in SQL ---
    "qv05_kmeans" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val init = Similarity.centroids(
        emb.select(col("label"), col("embedding")), "label", "embedding", dim)
      Similarity.kmeans(
          emb.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", dim, init, iters = 2)
        .select(col("cluster"), col("n"),
          round(graft.functions.VectorFunctions.l2Norm(col("centroid")), 6)
            .as("centroid_norm"))
        .orderBy("cluster")
    },

    // --- product-quantization ANN: label-mean codebooks per 8-dim
    //     subspace, corpus PQ-encoded (map-only, 8 codes/vector ≈ 32×
    //     compression), ADC scan sums per-query LUT entries — the encoded
    //     corpus path never touches a raw vector ---
    "qv06_pq_ann" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.centroids(
        emb.select(col("label"), col("embedding")), "label", "embedding", dim)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.pqTopK(queries, corpus, cents, m = pqM, dim = dim, k = pqK)
        .orderBy("q_id", "rank")
    },

    // --- IVF+PQ ANN (the FAISS IVFPQ shape, no residual re-centering):
    //     the stored index is (coarse cluster, id, 8 PQ codes) built in
    //     ONE corpus pass of two broadcast maps; a query ADC-scans only
    //     its nprobe probed clusters' codes — the two scale levers
    //     (cluster pruning × 32× code compression) composed ---
    "qv07_ivfpq_ann" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.centroids(
        emb.select(col("label"), col("embedding")), "label", "embedding", dim)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfPqTopK(queries, corpus, cents, cents,
          m = pqM, dim = dim, k = pqK, nprobe = nprobe)
        .orderBy("q_id", "rank")
    },

    // --- EXACT cosine range search (all pairs at cosine >= tau) with
    //     SOUND IVF cluster pruning: the spherical triangle-inequality
    //     bound (kept in cosine/sqrt form — no acos in the plan) admits a
    //     cluster only when a member COULD reach tau, so whole clusters
    //     are skipped while the result set still equals brute force
    //     bit-for-bit (which is exactly what the oracle runs). Structured
    //     vectors derived from (vec_id, label) make the clusters tight
    //     (~0.88 min member-centroid cosine) so ~9 of 10 clusters prune
    //     per query at tau=0.6 ---
    "qv08_range_search" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val base = emb.select(col("vec_id"), col("label"), rangeSynthVec.as("v"))
      val cents = Similarity.centroids(
        base.select(col("label"), col("v").cast("array<float>").as("v")),
        "label", "v", dim)
      val queries = base.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("q_vec"))
      val corpus = base.select(col("vec_id").as("id"), col("v").as("vec"))
      Similarity.rangeSearch(queries, corpus, cents, tau = rangeTau)
        .orderBy("q_id", "id")
    },

    // --- scalar (int8) quantization ANN: per-dimension corpus bounds ->
    //     0..255 codes (~4x compression, the cheap rung below PQ's 32x);
    //     encode is a pure map (bounds ride one broadcast row), the scan
    //     dequantizes codes on the fly and ranks by approximate cosine
    //     through the bounded heap ---
    "qv09_sq_ann" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      // the calibration row is part of the stored index: materialize it
      // once (both encode and the query path consume it)
      val bounds = Similarity.sqBounds(corpus, "vec").localCheckpoint()
      val index = Similarity.sqEncode(corpus, "id", "vec", bounds)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.sqTopK(queries, index, bounds, k = pqK)
        .orderBy("q_id", "rank")
    },

    // --- IVF + scalar quantization composed (the qv07 shape with SQ
    //     codes): stored index = (coarse cluster, id, int8 codes) in ONE
    //     corpus pass of two broadcast maps; a query scans only its
    //     nprobe probed clusters' codes, dequantized once per index row
    //     below the probe join — cluster pruning × ~4× compression, the
    //     recall rung between raw-vector IVF and 32× IVFPQ ---
    "qv10_ivfsq_ann" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.centroids(
        emb.select(col("label"), col("embedding")), "label", "embedding", dim)
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val bounds = Similarity.sqBounds(corpus, "vec").localCheckpoint()
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.ivfSqTopK(queries, corpus, cents, bounds,
          k = pqK, nprobe = nprobe)
        .orderBy("q_id", "rank")
    },

    // --- END-TO-END vector serving pipeline (the retrieval capstone:
    //     day-0 the frozen model — coarse centroids + SQ calibration — is
    //     learned on the base slice and the (cluster, id, codes) index is
    //     stored as a CATALOG TABLE via atomic CTAS; day-1 arrivals are
    //     assigned+encoded map-only against the FROZEN model and appended
    //     (INSERT, a manifest version — never a rebuild); serving reads
    //     the STORED codes, shortlists k'=30 through the probe fold, and
    //     exact-reranks only the shortlist to top-3. Compresses storage
    //     4×, bounds full-precision reads by |Q|×k', and survives
    //     batch-at-a-time growth with zero index downtime ---
    "qp07_vector_serving" -> { (s, d) =>
      if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty)
        graft.catalog.GraftCatalog.register(s, "graft_cat",
          graft.core.TempDirs.create("graft_cat_root_"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      s.sql("DROP TABLE IF EXISTS graft_cat.db.vec_index")
      val emb = Tables.embeddings(s, d)
      val base = emb.filter(col("vec_id") % 10 =!= 0)
      val batch = emb.filter(col("vec_id") % 10 === 0)
      val baseCorpus = base.select(col("vec_id").as("id"), col("embedding").as("vec"))
      // the frozen model: both halves derive from day 0 ONLY
      val cents = Similarity.centroids(
        base.select(col("label"), col("embedding")), "label", "embedding", dim)
        .localCheckpoint()
      val bounds = Similarity.sqBounds(baseCorpus, "vec").localCheckpoint()
      Similarity.sqEncode(
          Similarity.assignNearest(baseCorpus, "id", "vec", cents),
          "id", "vec", bounds, keep = Seq("cluster"))
        .writeTo("graft_cat.db.vec_index").create() // day-0 index (CTAS)
      Similarity.sqEncode(
          Similarity.assignNearest(
            batch.select(col("vec_id").as("id"), col("embedding").as("vec")),
            "id", "vec", cents),
          "id", "vec", bounds, keep = Seq("cluster"))
        .writeTo("graft_cat.db.vec_index").append() // day-1 increment
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val shortlist = Similarity.ivfSqTopKIndexed(queries,
          s.table("graft_cat.db.vec_index"), cents, bounds, k = 30,
          nprobe = nprobe)
        .select(col("q_id"), col("id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cosine").desc, col("id"))
      shortlist
        .join(emb.select(col("vec_id").as("id"), col("embedding").as("vec")), "id")
        .join(broadcast(queries), Seq("q_id"))
        .withColumn("cosine",
          round(graft.functions.VectorFunctions.cosineSimilarity(col("q_vec"), col("vec")), 6))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select("q_id", "rank", "id", "cosine")
        .orderBy("q_id", "rank")
    },

    // --- per-cluster vector stats (centroid norms via the Aggregator) ---
    "qv03_centroid_norms" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.centroids(
        emb.select(col("label"), col("embedding")), "label", "embedding", dim)
      cents.select(
          col("cluster").as("label"),
          round(graft.functions.VectorFunctions.l2Norm(col("centroid")), 6).as("centroid_norm"))
        .orderBy("label")
    }
  )

  /** The SQ calibration + encode + dequantize model as a DuckDB CTE
    * fragment — ONE definition shared by qv09 and qv10 (`e` = the
    * double-cast corpus, `b` = per-dim mins/steps, `enc` = clamped int8
    * codes, `dq` = dequantized vectors). */
  private def sqModelCte: String = sqModelCteOn("")

  /** Same model, calibration restricted by `boundsWhere` (qp07's frozen
    * day-0 bounds) — codes CLAMP, so out-of-calibration values from later
    * batches saturate identically in both engines. */
  private def sqModelCteOn(boundsWhere: String): String = {
    val mins = (1 to dim).map(j => s"min(CAST(embedding[$j] AS DOUBLE))")
      .mkString("[", ", ", "]")
    val steps = (1 to dim).map(j =>
      s"(max(CAST(embedding[$j] AS DOUBLE)) - min(CAST(embedding[$j] AS DOUBLE))) / 255.0")
      .mkString("[", ", ", "]")
    s"""b AS (SELECT $mins AS mins, $steps AS steps FROM embeddings $boundsWhere),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          enc AS (SELECT e.vec_id,
                    list_transform(generate_series(1, $dim), j ->
                      CASE WHEN b.steps[j] = 0 THEN 0
                           ELSE least(255, greatest(0,
                             CAST(round((e.v[j] - b.mins[j]) / b.steps[j])
                                  AS INTEGER))) END) AS codes
                  FROM e CROSS JOIN b),
          dq AS (SELECT enc.vec_id,
                   list_transform(generate_series(1, $dim), j ->
                     b.mins[j] + b.steps[j] * codes[j]) AS dv
                 FROM enc CROSS JOIN b)"""
  }

  /** qv08's threshold, shared by the Spark call and the oracle SQL. */
  private val rangeTau = 0.6

  /** qv08's structured vectors: a unit spike at dimension `label*6` plus
    * bounded integer-derived noise — exact integer arithmetic and one IEEE
    * division, so the oracle replays the vectors bit-for-bit; same-label
    * vectors cluster tightly, which gives the IVF range-search bound
    * something real to prune (the raw `embedding` column is isotropic —
    * no cluster structure, nothing any sound bound could skip).
    * THE definition — the OperatorsSpec fixture references it, so
    * formula tweaks can never desynchronize it from
    * the oracle CTE below (which must be edited in lockstep). Note the
    * noise has period 13 in vec_id: same-label vectors 13 apart are
    * EXACT duplicates (cosine 1.0) — tests rely on that orbit. */
  private[graft] def rangeSynthVec: org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(dim - 1)), j =>
      when(j === col("label") * 6, lit(1.0)).otherwise(lit(0.0)) +
        ((col("vec_id") * 31 + j * 17) % 13 - 6).cast("double") / lit(60.0))

  /** DuckDB CTE regenerating [[rangeSynthVec]] as `sv(vec_id, v DOUBLE[])`. */
  private def rangeSynthCte: String =
    s"""sv AS (SELECT vec_id,
          list_transform(generate_series(0, ${dim - 1}), j ->
            (CASE WHEN j = label*6 THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END) +
            CAST((vec_id*31 + j*17) % 13 - 6 AS DOUBLE) / 60.0) AS v
        FROM embeddings)"""

  /** DuckDB centroid: element-wise mean as an explicit 64-term list. */
  private[queries] val centroidList: String =
    (1 to dim).map(i => s"sum(CAST(embedding[$i] AS DOUBLE))/count(*)").mkString("[", ", ", "]")

  private[queries] val centroidCte =
    s"cent AS (SELECT label AS cluster, $centroidList AS centroid FROM embeddings GROUP BY label)"

  override val oracle: Map[String, String] = Map(
    "qv01_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                     FROM embeddings WHERE vec_id < 5),
          c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
          SELECT q_id, CAST(rank AS INTEGER) AS rank, id, cosine FROM (
            SELECT q_id, id,
              round(list_cosine_similarity(qv, v), 6) AS cosine,
              row_number() OVER (PARTITION BY q_id
                ORDER BY round(list_cosine_similarity(qv, v), 6) DESC, id) AS rank
            FROM q CROSS JOIN c)
          WHERE rank <= $k ORDER BY q_id, rank""",

    "qv02_ivf_ann" ->
      s"""WITH $centroidCte,
          assigned AS (
            SELECT id, v, cluster FROM (
              SELECT c.vec_id AS id, CAST(c.embedding AS DOUBLE[]) AS v, ct.cluster,
                row_number() OVER (PARTITION BY c.vec_id
                  ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM embeddings c CROSS JOIN cent ct)
            WHERE rn = 1),
          probes AS (
            SELECT q_id, qv, cluster FROM (
              SELECT q.vec_id AS q_id, CAST(q.embedding AS DOUBLE[]) AS qv, ct.cluster,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM embeddings q CROSS JOIN cent ct
              WHERE q.vec_id < 5)
            WHERE rn <= $nprobe)
          SELECT q_id, CAST(rank AS INTEGER) AS rank, id, cosine FROM (
            SELECT p.q_id, a.id,
              round(list_cosine_similarity(p.qv, a.v), 6) AS cosine,
              row_number() OVER (PARTITION BY p.q_id
                ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC, a.id) AS rank
            FROM probes p JOIN assigned a ON p.cluster = a.cluster)
          WHERE rank <= 5 ORDER BY q_id, rank""",

    // qv02's probe composition + the label equality on candidates —
    // same recall contract, filter applied inside the probed clusters
    "qv11_filtered_ann" ->
      s"""WITH $centroidCte,
          assigned AS (
            SELECT id, v, label, cluster FROM (
              SELECT c.vec_id AS id, CAST(c.embedding AS DOUBLE[]) AS v,
                c.label, ct.cluster,
                row_number() OVER (PARTITION BY c.vec_id
                  ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM embeddings c CROSS JOIN cent ct)
            WHERE rn = 1),
          probes AS (
            SELECT q_id, qv, q_label, cluster FROM (
              SELECT q.vec_id AS q_id, CAST(q.embedding AS DOUBLE[]) AS qv,
                q.label AS q_label, ct.cluster,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM embeddings q CROSS JOIN cent ct
              WHERE q.vec_id < 5)
            WHERE rn <= $nprobe)
          SELECT q_id, CAST(rank AS INTEGER) AS rank, id, cosine FROM (
            SELECT p.q_id, a.id,
              round(list_cosine_similarity(p.qv, a.v), 6) AS cosine,
              row_number() OVER (PARTITION BY p.q_id
                ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC, a.id) AS rank
            FROM probes p JOIN assigned a ON p.cluster = a.cluster
            WHERE a.label = p.q_label)
          WHERE rank <= 5 ORDER BY q_id, rank""",

    // exact (qv01-shaped) and IVF (qv02-shaped) top-10 composed; recall =
    // per-query overlap / k — both rankings share the deterministic
    // (round(cos,6) DESC, id) tie-break, so the overlap is engine-stable
    "qv12_ann_recall" ->
      s"""WITH $centroidCte,
          qs AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id < 20),
          corpus AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
          exact AS (
            SELECT q_id, id FROM (
              SELECT q.q_id, c.id,
                row_number() OVER (PARTITION BY q.q_id
                  ORDER BY round(list_cosine_similarity(q.qv, c.v), 6) DESC, c.id) AS rank
              FROM qs q CROSS JOIN corpus c)
            WHERE rank <= $k),
          assigned AS (
            SELECT id, v, cluster FROM (
              SELECT c.id, c.v, ct.cluster,
                row_number() OVER (PARTITION BY c.id
                  ORDER BY list_cosine_similarity(c.v, ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM corpus c CROSS JOIN cent ct)
            WHERE rn = 1),
          probes AS (
            SELECT q_id, qv, cluster FROM (
              SELECT q.q_id, q.qv, ct.cluster,
                row_number() OVER (PARTITION BY q.q_id
                  ORDER BY list_cosine_similarity(q.qv, ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM qs q CROSS JOIN cent ct)
            WHERE rn <= $nprobe),
          approx AS (
            SELECT q_id, id FROM (
              SELECT p.q_id, a.id,
                row_number() OVER (PARTITION BY p.q_id
                  ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC, a.id) AS rank
              FROM probes p JOIN assigned a ON p.cluster = a.cluster)
            WHERE rank <= $k)
          SELECT e.q_id,
            CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
            round(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) / ($k * 1.0), 2) AS recall
          FROM exact e LEFT JOIN approx a ON e.q_id = a.q_id AND e.id = a.id
          GROUP BY e.q_id ORDER BY e.q_id""",

    "qv04_lsh_ann" ->
      s"""WITH ${seededPlanesCte(numPlanes = 8, dim = 64)},
          b AS (SELECT e.vec_id,
                  CAST(sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), h.hv) > 0
                                THEN CAST(power(2, h.h_id) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
                FROM embeddings e CROSS JOIN h GROUP BY e.vec_id),
          wb AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, b.bucket
                 FROM embeddings e JOIN b ON e.vec_id = b.vec_id)
          SELECT q_id, CAST(rank AS INTEGER) AS rank, id, cosine FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS id,
              round(list_cosine_similarity(q.v, c.v), 6) AS cosine,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
            FROM wb q JOIN wb c ON q.bucket = c.bucket
            WHERE q.vec_id < 5)
          WHERE rank <= 3 ORDER BY q_id, rank""",

    "qv06_pq_ann" ->
      s"""WITH $centroidCte,
          books AS (
            SELECT mi, cluster,
              row_number() OVER (PARTITION BY mi ORDER BY cluster) - 1 AS idx,
              list_transform(generate_series(1, $pqSub), j -> centroid[mi*$pqSub + j]) AS cw
            FROM cent CROSS JOIN generate_series(0, ${pqM - 1}) t(mi)),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          enc AS (SELECT vec_id, mi, idx AS code FROM (
              SELECT e.vec_id, b.mi, b.idx,
                row_number() OVER (PARTITION BY e.vec_id, b.mi
                  ORDER BY list_aggregate(list_transform(generate_series(1, $pqSub),
                    j -> (e.v[b.mi*$pqSub+j] - b.cw[j]) * (e.v[b.mi*$pqSub+j] - b.cw[j])),
                    'sum') ASC, b.idx ASC) AS rn
              FROM e CROSS JOIN books b) WHERE rn = 1),
          lut AS (SELECT q.vec_id AS q_id, b.mi, b.idx,
                list_aggregate(list_transform(generate_series(1, $pqSub),
                  j -> (q.v[b.mi*$pqSub+j] - b.cw[j]) * (q.v[b.mi*$pqSub+j] - b.cw[j])),
                  'sum') AS ld
              FROM e q CROSS JOIN books b WHERE q.vec_id < 5),
          d AS (SELECT l.q_id, c.vec_id AS id,
                round(list_aggregate(list(l.ld ORDER BY l.mi), 'sum'), 6) AS approx
              FROM enc c JOIN lut l ON c.mi = l.mi AND c.code = l.idx
              GROUP BY 1, 2)
          SELECT q_id, CAST(rank AS INTEGER) AS rank, id, approx FROM (
            SELECT q_id, id, approx,
              row_number() OVER (PARTITION BY q_id
                ORDER BY approx ASC, id) AS rank FROM d)
          WHERE rank <= $pqK ORDER BY q_id, rank""",

    "qv07_ivfpq_ann" ->
      s"""WITH $centroidCte,
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          assigned AS (
            SELECT vec_id, cluster FROM (
              SELECT e.vec_id, ct.cluster,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY list_cosine_similarity(e.v, ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM e CROSS JOIN cent ct)
            WHERE rn = 1),
          probes AS (
            SELECT q_id, cluster FROM (
              SELECT q.vec_id AS q_id, ct.cluster,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.v, ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM e q CROSS JOIN cent ct
              WHERE q.vec_id < 5)
            WHERE rn <= $nprobe),
          books AS (
            SELECT mi, cluster,
              row_number() OVER (PARTITION BY mi ORDER BY cluster) - 1 AS idx,
              list_transform(generate_series(1, $pqSub), j -> centroid[mi*$pqSub + j]) AS cw
            FROM cent CROSS JOIN generate_series(0, ${pqM - 1}) t(mi)),
          enc AS (SELECT vec_id, mi, idx AS code FROM (
              SELECT e.vec_id, b.mi, b.idx,
                row_number() OVER (PARTITION BY e.vec_id, b.mi
                  ORDER BY list_aggregate(list_transform(generate_series(1, $pqSub),
                    j -> (e.v[b.mi*$pqSub+j] - b.cw[j]) * (e.v[b.mi*$pqSub+j] - b.cw[j])),
                    'sum') ASC, b.idx ASC) AS rn
              FROM e CROSS JOIN books b) WHERE rn = 1),
          lut AS (SELECT q.vec_id AS q_id, b.mi, b.idx,
                list_aggregate(list_transform(generate_series(1, $pqSub),
                  j -> (q.v[b.mi*$pqSub+j] - b.cw[j]) * (q.v[b.mi*$pqSub+j] - b.cw[j])),
                  'sum') AS ld
              FROM e q CROSS JOIN books b WHERE q.vec_id < 5),
          pairs AS (SELECT p.q_id, a.vec_id AS id
                    FROM probes p JOIN assigned a ON p.cluster = a.cluster),
          d AS (SELECT l.q_id, c.vec_id AS id,
                round(list_aggregate(list(l.ld ORDER BY l.mi), 'sum'), 6) AS approx
              FROM enc c
              JOIN lut l ON c.mi = l.mi AND c.code = l.idx
              JOIN pairs pr ON pr.q_id = l.q_id AND pr.id = c.vec_id
              GROUP BY 1, 2)
          SELECT q_id, CAST(rank AS INTEGER) AS rank, id, approx FROM (
            SELECT q_id, id, approx,
              row_number() OVER (PARTITION BY q_id
                ORDER BY approx ASC, id) AS rank FROM d)
          WHERE rank <= $pqK ORDER BY q_id, rank""",

    // day-0 model (centroids + bounds from the 90% slice), whole corpus
    // encoded against it, shortlist 30 by dequantized cosine, exact
    // rerank top-3 — the stored-table detour changes nothing the replay
    // can see
    "qp07_vector_serving" ->
      s"""WITH ${sqModelCteOn("WHERE vec_id % 10 <> 0")},
          cent AS (
            SELECT label AS cluster, $centroidList AS centroid
            FROM embeddings WHERE vec_id % 10 <> 0 GROUP BY label),
          assigned AS (
            SELECT vec_id, cluster FROM (
              SELECT e2.vec_id, ct.cluster,
                row_number() OVER (PARTITION BY e2.vec_id
                  ORDER BY list_cosine_similarity(e2.v, ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM e e2 CROSS JOIN cent ct)
            WHERE rn = 1),
          probes AS (
            SELECT q_id, qv, cluster FROM (
              SELECT q.vec_id AS q_id, q.v AS qv, ct.cluster,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.v, ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM e q CROSS JOIN cent ct
              WHERE q.vec_id < 5)
            WHERE rn <= $nprobe),
          shortlist AS (
            SELECT q_id, id FROM (
              SELECT p.q_id, a.vec_id AS id,
                row_number() OVER (PARTITION BY p.q_id
                  ORDER BY round(list_cosine_similarity(p.qv, d.dv), 6) DESC,
                           a.vec_id) AS rk
              FROM probes p JOIN assigned a ON p.cluster = a.cluster
                            JOIN dq d ON d.vec_id = a.vec_id)
            WHERE rk <= 30)
          SELECT q_id, CAST(rank AS INTEGER) AS rank, id, cosine FROM (
            SELECT s.q_id, s.id,
              round(list_cosine_similarity(qe.v, ce.v), 6) AS cosine,
              row_number() OVER (PARTITION BY s.q_id
                ORDER BY round(list_cosine_similarity(qe.v, ce.v), 6) DESC, s.id) AS rank
            FROM shortlist s JOIN e qe ON qe.vec_id = s.q_id
                             JOIN e ce ON ce.vec_id = s.id)
          WHERE rank <= 3 ORDER BY q_id, rank""",

    // the full-rebuild replay IS the incremental result: centroids from
    // the base slice only, the WHOLE corpus assigned against them
    "qv14_incremental_index" ->
      s"""WITH cent AS (
            SELECT label AS cluster, $centroidList AS centroid
            FROM embeddings WHERE vec_id % 10 <> 0 GROUP BY label),
          assigned AS (
            SELECT id, v, cluster FROM (
              SELECT c.vec_id AS id, CAST(c.embedding AS DOUBLE[]) AS v, ct.cluster,
                row_number() OVER (PARTITION BY c.vec_id
                  ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM embeddings c CROSS JOIN cent ct)
            WHERE rn = 1),
          probes AS (
            SELECT q_id, qv, cluster FROM (
              SELECT q.vec_id AS q_id, CAST(q.embedding AS DOUBLE[]) AS qv, ct.cluster,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM embeddings q CROSS JOIN cent ct
              WHERE q.vec_id < 5)
            WHERE rn <= $nprobe)
          SELECT q_id, CAST(rank AS INTEGER) AS rank, id, cosine FROM (
            SELECT p.q_id, a.id,
              round(list_cosine_similarity(p.qv, a.v), 6) AS cosine,
              row_number() OVER (PARTITION BY p.q_id
                ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC, a.id) AS rank
            FROM probes p JOIN assigned a ON p.cluster = a.cluster)
          WHERE rank <= 5 ORDER BY q_id, rank""",

    // stage 1 = qv09's dequantized ranking widened to k'=30; stage 2 =
    // exact cosine over only the shortlisted (q_id, id) pairs, top-5
    "qv13_two_stage" ->
      s"""WITH $sqModelCte,
          shortlist AS (
            SELECT q_id, id FROM (
              SELECT q.vec_id AS q_id, c.vec_id AS id,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.dv), 6) DESC,
                           c.vec_id) AS rk
              FROM embeddings q CROSS JOIN dq c WHERE q.vec_id < 5)
            WHERE rk <= 30)
          SELECT q_id, CAST(rank AS INTEGER) AS rank, id, cosine FROM (
            SELECT s.q_id, s.id,
              round(list_cosine_similarity(qe.v, ce.v), 6) AS cosine,
              row_number() OVER (PARTITION BY s.q_id
                ORDER BY round(list_cosine_similarity(qe.v, ce.v), 6) DESC, s.id) AS rank
            FROM shortlist s JOIN e qe ON qe.vec_id = s.q_id
                             JOIN e ce ON ce.vec_id = s.id)
          WHERE rank <= 5 ORDER BY q_id, rank""",

    // replays calibration/codes/dequantization/ranks dimension by dimension
    "qv09_sq_ann" ->
      s"""WITH $sqModelCte
          SELECT q_id, CAST(rank AS INTEGER) AS rank, id, approx FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS id,
              round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.dv), 6) AS approx,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.dv), 6) DESC,
                         c.vec_id) AS rank
            FROM embeddings q CROSS JOIN dq c WHERE q.vec_id < 5)
          WHERE rank <= $pqK ORDER BY q_id, rank""",

    // composes qv02's assignment/probes with qv09's quantization model:
    // candidates restricted to probed clusters, dequantized ranks
    "qv10_ivfsq_ann" ->
      s"""WITH $centroidCte, $sqModelCte,
          assigned AS (
            SELECT vec_id, cluster FROM (
              SELECT e.vec_id, ct.cluster,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY list_cosine_similarity(e.v, ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM e CROSS JOIN cent ct)
            WHERE rn = 1),
          probes AS (
            SELECT q_id, cluster FROM (
              SELECT q.vec_id AS q_id, ct.cluster,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.v, ct.centroid) DESC,
                           ct.cluster) AS rn
              FROM e q CROSS JOIN cent ct
              WHERE q.vec_id < 5)
            WHERE rn <= $nprobe),
          cand AS (SELECT p.q_id, a.vec_id AS id
                   FROM probes p JOIN assigned a ON p.cluster = a.cluster)
          SELECT q_id, CAST(rank AS INTEGER) AS rank, id, approx FROM (
            SELECT c.q_id, c.id,
              round(list_cosine_similarity(q.v, d.dv), 6) AS approx,
              row_number() OVER (PARTITION BY c.q_id
                ORDER BY round(list_cosine_similarity(q.v, d.dv), 6) DESC,
                         c.id) AS rank
            FROM cand c
            JOIN e q ON q.vec_id = c.q_id
            JOIN dq d ON d.vec_id = c.id)
          WHERE rank <= $pqK ORDER BY q_id, rank""",

    // brute force IS the oracle: sound pruning must not change the result
    "qv08_range_search" ->
      s"""WITH $rangeSynthCte
          SELECT q.vec_id AS q_id, c.vec_id AS id,
            round(list_cosine_similarity(q.v, c.v), 6) AS cosine
          FROM sv q CROSS JOIN sv c
          WHERE q.vec_id < 5
            AND round(list_cosine_similarity(q.v, c.v), 6) >= $rangeTau
          ORDER BY q_id, id""",

    "qv03_centroid_norms" ->
      s"""WITH $centroidCte
          SELECT cluster AS label,
            round(sqrt(list_aggregate(list_transform(centroid, x -> x*x), 'sum')), 6) AS centroid_norm
          FROM cent ORDER BY label""",

    "qv05_kmeans" -> {
      val meanList = (1 to dim).map(i => s"sum(v[$i])/count(*)").mkString("[", ", ", "]")
      def assign(cent: String) =
        s"""SELECT vec_id, v, cluster FROM (
              SELECT e.vec_id, e.v, c.cluster,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY list_cosine_similarity(e.v, c.centroid) DESC, c.cluster) AS rn
              FROM e CROSS JOIN $cent c) WHERE rn = 1"""
      s"""WITH $centroidCte,
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          a1 AS (${assign("cent")}),
          cent1 AS (SELECT cluster, $meanList AS centroid FROM a1 GROUP BY cluster),
          a2 AS (${assign("cent1")}),
          cent2 AS (SELECT cluster, count(*) AS n, $meanList AS centroid
                    FROM a2 GROUP BY cluster)
          SELECT CAST(cluster AS BIGINT) AS cluster, n,
            round(sqrt(list_aggregate(list_transform(centroid, x -> x*x), 'sum')), 6)
              AS centroid_norm
          FROM cent2 ORDER BY cluster"""
    }
  )
}
