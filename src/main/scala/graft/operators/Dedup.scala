package graft.operators

import graft.core.JobCensus
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for the LLM-data-pipeline surface (SURVEY.md §2
  * Part B "Dedup"): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB posture):
  *  - The only all-pairs computation anywhere is *within LSH candidate
  *    buckets* (or blocked partitions) — never across the full corpus.
  *  - Shingle self-joins support a `maxShingleDocFreq` stop-shingle cap:
  *    a shingle occurring in >F docs contributes F² candidate rows, so at
  *    scale frequent (uninformative) shingles are dropped before the join —
  *    the standard skew guard for this workload.
  *  - All hashing is Spark's codegen'd xxhash64/md5 — no UDFs, no
  *    per-row JVM allocation beyond the arrays themselves.
  *  - The LSH/Jaccard family shares one signature kernel
  *    ([[signatureBands]]) and one exact verify ([[verifyJaccard]]).
  *
  * Materialization: the pair and span operators persist the intermediates
  * they consume more than once for the duration of the call, compute their
  * (small) result eagerly via localCheckpoint, and release every cache
  * before returning — no cached-block accumulation in a long-lived
  * session (AQE materializes stages one at a time, so the first consumer
  * fills a cache for the rest). The caveat: localCheckpoint blocks are
  * executor-local and unreplicated, so on executor loss the truncated
  * lineage cannot recompute them; rerun the operator.
  */
object Dedup {

  /** Exact dedup by key columns: keep the lowest id per group.
    * (`dropDuplicates` semantics but with a deterministic survivor.) */
  def exactByKey(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Per-doc DISTINCT shingle arrays: (doc_id, _shs) — the pre-explosion
    * form of [[shingleSet]] (optimization round 16). Lets consumers read
    * each doc's shingle-set SIZE as the array length instead of a
    * counting aggregation.
    *
    * HAZARD (measured this round, 4-8x): only explode `_shs` when this
    * frame is PERSISTED first. `explode` of a plain array ATTRIBUTE
    * makes InferFiltersFromGenerate add `size(_shs) > 0 AND
    * isnotnull(_shs)` below the Generate, and predicate pushdown then
    * substitutes the alias through the projections — the whole
    * shingles(split(text)) expression re-evaluates as a Filter at the
    * SCAN (with split() re-run per element_at reference) before the
    * projection computes it again. A persisted frame caps the pushdown
    * at the InMemoryRelation, where the filter reads the cached array —
    * cheap. Lazy consumers must explode the EXPRESSION inline
    * ([[shingleSet]]), which the inference rule leaves alone. */
  private def shingleArrays(docs: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame =
    // Project the token array into its own column first: inlining
    // `tokens()` into the shingle HOF makes Catalyst re-evaluate the regex
    // split at every reference (when/size/transform) — ~10x slower.
    // fanOut: tokenization + shingling is the heavy map stage of every
    // dedup operator — spread a narrow input (single-file scan,
    // micro-batch) across the session's cores; no-op on wide inputs.
    // Round-robin, NOT hash-by-doc_id: keying the fan-out by doc_id
    // makes the downstream per-doc aggregations exchange-free, but every
    // post-aggregation stage then inherits the full uncoalesced width
    // (REPARTITION_BY_NUM is AQE-coalesce-exempt), which more than
    // doubled the suite's task count on micro-batch inputs (measured
    // round 16: qd03 181 -> 440 tasks). The aggregation exchanges AQE
    // can coalesce are the cheaper shape.
    graft.core.Parallelism.fanOut(docs)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), shingles(col("_toks"), n).as("_shs"))

  /** Distinct word-n-gram shingle sets, one row per (doc, shingle).
    * The explode consumes the shingle EXPRESSION inline — see the
    * [[shingleArrays]] hazard note; do not "simplify" this into an
    * explode of the array column. */
  def shingleSet(docs: DataFrame, idCol: String, textCol: String, n: Int,
                 maxShingleDocFreq: Option[Int] = None): DataFrame = {
    val sh = graft.core.Parallelism.fanOut(docs)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), explode(shingles(col("_toks"), n)).as("s"))
    maxShingleDocFreq.fold(sh) { cap =>
      // stop-shingle skew guard: drop shingles shared by too many docs.
      // Broadcast the FREQUENT set (df > cap) and anti-join: frequent
      // shingles are heavy hitters — few by definition (at most n_rows/cap)
      // — so the broadcast stays small at any corpus size, whereas the kept
      // set is essentially the whole shingle vocabulary and could never be
      // broadcast at 100 TB.
      val frequent = sh.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") > cap)
      sh.join(broadcast(frequent.select("s")), Seq("s"), "left_anti")
    }
  }

  /** Exact SUBSTRING-level dedup: n-token spans duplicated ACROSS the
    * corpus — the training-data hygiene pass doc-level dedup misses
    * (boilerplate headers, license blocks, quoted paragraphs shared by
    * otherwise-distinct documents). The reference treatment builds a
    * suffix array on one machine (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"); the Spark-native shape
    * is one n-gram explosion (the same pass the Jaccard/LSH family
    * already runs) hash-partitioned by span text: O(total tokens) rows
    * through ONE shuffle, no suffix array, no all-pairs — the scaling
    * class of the rest of this family. Returns one row per span seen in
    * >= `minDocs` distinct docs: (span, n_docs, n_occurrences).
    *
    * Span REMOVAL is a policy (keep-first, mask, drop-doc) and overlap
    * resolution belongs to the caller: [[duplicatedSpanOffsets]] yields
    * per-document token offsets of every duplicated span to drive any of
    * them. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, minDocs: Int = 2): DataFrame =
    graft.core.Parallelism.fanOut(docs) // heavy n-gram explosion below
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .where(size(col("_toks")) >= n)
      .select(col("doc_id"), explode(ngrams(col("_toks"), n)).as("span"))
      .groupBy("span")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .where(col("n_docs") >= minDocs)

  /** Per-document 0-based token offsets of every duplicated span (see
    * [[duplicatedSpans]]): (doc_id, start_token, span). The join keys on
    * the span text — both sides shuffle-partition on its hash; the
    * duplicated-span side is NOT assumed broadcastable (at corpus scale
    * it can be a large fraction of the shingle vocabulary).
    *
    * The n-gram occurrence table feeds BOTH the duplicate detection and
    * the offset probe: it is persisted for the duration of the call and
    * the (much smaller, duplication-bounded) result is snapshotted via
    * localCheckpoint before the cache is released — one explosion instead
    * of two (see the materialization note on [[Dedup]]). */
  def duplicatedSpanOffsets(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, minDocs: Int = 2): DataFrame = {
    val occ = graft.core.Parallelism.fanOut(docs) // heavy n-gram explosion
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .where(size(col("_toks")) >= n)
      .select(col("doc_id"),
        posexplode(ngrams(col("_toks"), n)).as(Seq("start_token", "span")))
      .persist()
    try {
      val dup = occ.groupBy("span")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .where(col("n_docs") >= minDocs).select("span")
      occ.join(dup, Seq("span")).select("doc_id", "start_token", "span").localCheckpoint()
    } finally occ.unpersist()
  }

  /** KEEP-FIRST removal over duplicated spans: every occurrence of a
    * duplicated n-token span EXCEPT the canonical one — the lowest
    * (doc_id, start_token) — has its token range masked, and each
    * document's text is rebuilt from the surviving tokens (overlapping
    * masks union naturally; the doc keeping the canonical copy is
    * untouched for that span). Returns every input doc as
    * (doc_id, clean_text, n_tokens_removed).
    *
    * Scale shape: detection ([[duplicatedSpanOffsets]]) + one min_by per
    * span + one groupBy(doc) to gather mask starts + a left join back to
    * the docs — all hash-partitioned shuffles on span/doc_id; the
    * per-doc rebuild is a codegen array-HOF pipeline, no UDFs. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, minDocs: Int = 2): DataFrame = {
    val offs = duplicatedSpanOffsets(docs, idCol, textCol, n, minDocs)
    val canon = offs.groupBy("span")
      .agg(min(struct(col("doc_id"), col("start_token"))).as("c"))
    val maskStarts = offs.join(canon, Seq("span"))
      .where(!(col("doc_id") === col("c.doc_id") &&
        col("start_token") === col("c.start_token")))
      .groupBy("doc_id")
      .agg(collect_set(col("start_token")).as("mask_starts"))
    graft.core.Parallelism.fanOut(docs) // per-doc HOF rebuild below; the
      // broadcast join keeps the docs side's own (possibly 1-partition) width
      .select(col(idCol).as("doc_id"), col(textCol).as("_text"),
        tokens(col(textCol)).as("_toks"))
      .join(maskStarts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("mask_starts").isNull, col("_text")).otherwise(
          array_join(
            // keep token i unless a masked occurrence covers it
            filter(
              zip_with(col("_toks"),
                sequence(lit(0), size(col("_toks")) - 1),
                (t, i) => struct(t.as("t"), i.as("i"))),
              p => !exists(col("mask_starts"),
                m => p.getField("i") >= m && p.getField("i") < m + lit(n)))
              .getField("t"),
            " ")).as("clean_text"),
        when(col("mask_starts").isNull, lit(0)).otherwise(
          size(filter(
            sequence(lit(0), size(col("_toks")) - 1),
            i => exists(col("mask_starts"),
              m => i >= m && i < m + lit(n)))))
          .as("n_tokens_removed"))
  }

  /** Exact n-gram Jaccard similarity for every pair sharing >= 1 shingle.
    * jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|).
    *
    * The shingle table feeds three operators (sizes, both self-join
    * sides) and is persisted for the call; the above-threshold pairs are
    * localCheckpoint'ed (see the materialization note on [[Dedup]]). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxShingleDocFreq: Option[Int] = None): DataFrame = {
    // the doc-frequency cap filters EXPLODED rows, so capped set sizes are
    // counted post-filter; uncapped sizes are the persisted arrays' lengths
    val cached = (if (maxShingleDocFreq.isDefined)
      shingleSet(docs, idCol, textCol, n, maxShingleDocFreq)
    else shingleArrays(docs, idCol, textCol, n)).persist()
    val side = if (maxShingleDocFreq.isDefined) countedSide(cached) else arraySide(cached)
    try verifyJaccard(side, side, None, threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))
      .localCheckpoint()
    finally cached.unpersist()
  }

  /** MinHash + banded LSH near-dup detection, verified with EXACT Jaccard.
    *
    * Pipeline (every stage whole-stage-codegen'd, no array lambdas):
    *  1. signatures and band buckets ([[signatureBands]]);
    *  2. candidates: equi-join on (band, bucket) — never all-pairs;
    *  3. exact verify ([[verifyJaccard]]) *restricted to candidate docs*
    *     (broadcast the candidate set), so the expensive exact step is
    *     proportional to candidates, not the corpus.
    *
    * At threshold t=0.8 with 16x4 bands the per-pair miss probability is
    * (1-t^4)^16 < 3e-4, and < 4e-8 for the t>=0.9 pairs this detects in
    * practice. The shingle arrays and bands are persisted for the call and
    * the pairs localCheckpoint'ed (see the materialization note on
    * [[Dedup]]).
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, threshold: Double,
                      numBands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    // the arrays feed the signature agg and the verify; both sides of the
    // band self-join consume the bands
    val arr = shingleArrays(docs, idCol, textCol, n).persist()
    try {
      val bands = signatureBands(arraySide(arr).sh, numBands, rowsPerBand).persist()
      try intraBatchPairs(arr, bands, threshold)(
        _.select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard")).localCheckpoint())
      finally bands.unpersist()
    } finally arr.unpersist()
  }

  /** The persistable LSH index of a corpus: one (doc_id, band, bucket) row
    * per document per band — the same signature/banding algebra as
    * [[minhashLshPairs]]. A production pipeline computes this ONCE, writes
    * it as a [[graft.core.ManifestTable]] version, and has every
    * incremental batch probe the stored index
    * ([[minhashLshPairsAgainstIndex]]): the corpus text is re-read only
    * for verification candidates, never re-shingled wholesale. */
  def lshIndex(docs: DataFrame, idCol: String, textCol: String, n: Int,
               numBands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    signatureBands(shingleSet(docs, idCol, textCol, n), numBands, rowsPerBand)

  /** Incremental (delta-vs-corpus) MinHash LSH dedup: near-dup pairs
    * BETWEEN a new batch and an existing corpus, with exact-Jaccard
    * verification — the production shape for continuously-ingested
    * training data, where the corpus signature index is computed once
    * (and in steady state read from storage) and each delta only hashes
    * itself:
    *
    *  - candidates come from an equi-join of the delta's (band, bucket)
    *    rows against the corpus index — cost scales with the DELTA, not
    *    the corpus;
    *  - the exact verify re-shingles only candidate docs from each side
    *    (broadcast candidate-id semi-joins), so the corpus text is
    *    touched only for docs that might match.
    *
    * Returns (corpus_id, delta_id, jaccard >= threshold). Intra-delta
    * duplicates are [[minhashLshPairs]] on the delta alone; id spaces must
    * be disjoint. Same banding/recall contract as [[minhashLshPairs]].
    */
  def minhashLshPairsAgainst(corpus: DataFrame, delta: DataFrame,
                             idCol: String, textCol: String,
                             n: Int, threshold: Double,
                             numBands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    // one-shot form: compute the corpus index inline. Steady state
    // persists lshIndex(...) once (e.g. a ManifestTable version) and calls
    // minhashLshPairsAgainstIndex so no batch ever re-shingles the corpus.
    minhashLshPairsAgainstIndex(corpus,
      lshIndex(corpus, idCol, textCol, n, numBands, rowsPerBand), delta,
      idCol, textCol, n, threshold, numBands, rowsPerBand)

  /** [[minhashLshPairsAgainst]] against a PRE-BUILT corpus index (the
    * stored-index steady state): candidates come from the delta's bands
    * probing `corpusIndex` — the corpus is never re-shingled for banding —
    * and the exact-Jaccard verify re-shingles only CANDIDATE docs from
    * each side (the candidate-id semi-join runs against the raw docs
    * BEFORE tokenization, so the work is proportional to candidates, not
    * corpus size). `corpusIndex` must be (doc_id, band, bucket) built by
    * [[lshIndex]] with the same (n, numBands, rowsPerBand). The delta
    * shingle arrays are persisted for the call and the pairs
    * localCheckpoint'ed (see the materialization note on [[Dedup]]). */
  def minhashLshPairsAgainstIndex(corpus: DataFrame, corpusIndex: DataFrame,
                                  delta: DataFrame,
                                  idCol: String, textCol: String,
                                  n: Int, threshold: Double,
                                  numBands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    // the delta shingle arrays feed banding, verify and sizes
    val deltaArr = shingleArrays(delta, idCol, textCol, n).persist()
    try pairsAgainstIndex(corpus, corpusIndex, deltaArr,
        signatureBands(arraySide(deltaArr).sh, numBands, rowsPerBand),
        idCol, textCol, n, threshold)(
      _.select(col("d1").as("corpus_id"), col("d2").as("delta_id"),
        round(col("jaccard"), 4).as("jaccard")).localCheckpoint())
    finally deltaArr.unpersist()
  }

  /** FUSED micro-batch acceptance for the streaming incremental-dedup
    * pipeline (optimization round 16): intra-batch near-dup drop +
    * stored-index decontamination + index rows for the survivors, all
    * derived from ONE tokenize/shingle/signature pass over the batch.
    *
    * Row-identical (oracle-checked) to the composition it replaces:
    * {{{
    *   intra    = minhashLshPairs(batch).select(d2).distinct
    *   kept     = batch ANTI intra
    *   cont     = minhashLshPairsAgainstIndex(corpus, corpusIndex, kept)
    *                .select(delta_id).distinct
    *   accepted = kept ANTI cont
    *   index    = lshIndex(accepted)
    * }}}
    * which tokenized + shingled + signature-aggregated the SAME batch
    * text three times (batch, kept ⊆ batch, accepted ⊆ kept). A doc's
    * (band, bucket) rows are a deterministic function of its own text —
    * independent of the rest of the frame — so the batch's band table,
    * computed once and cached, serves as (a) both sides of the intra
    * self-join, (b) the delta probe of the stored index after an
    * anti-join on the intra-dup ids, and (c) the survivors' index rows
    * after an anti-join on all rejected ids. Signatures are min() over
    * shingle hashes, so distinct-array vs exploded-row inputs agree by
    * construction; the exact-Jaccard verify arms reuse the cached
    * shingle arrays exactly like the operators they replace.
    *
    * Returns (accepted batch rows, their (doc_id, band, bucket) index
    * rows), both materialized via localCheckpoint with every internal
    * cache released before return (see the materialization note on
    * [[Dedup]]). `batch` is consumed twice (shingling + the final
    * anti-join) — callers on a non-trivial source should persist it, as a
    * foreachBatch body does anyway. */
  def acceptBatchAgainstIndex(corpus: DataFrame, corpusIndex: DataFrame,
                              batch: DataFrame,
                              idCol: String, textCol: String,
                              n: Int, threshold: Double,
                              numBands: Int = 16, rowsPerBand: Int = 4): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val arr = shingleArrays(batch, idCol, textCol, n).persist()
    try {
      // one signature aggregation for the whole batch (the only heavy
      // agg in the call; the composition ran it three times)
      val bands = signatureBands(arraySide(arr).sh, numBands, rowsPerBand).persist()
      try {
        val dupIds = JobCensus.labeled(spark, "operators.dedup.intra_drop") {
          intraBatchPairs(arr, bands, threshold)(
            _.select(col("d2").as("doc_id")).distinct().localCheckpoint())
        }
        // the delta's bands are the batch's bands minus the intra dups
        val contaminated = JobCensus.labeled(spark, "operators.dedup.index_probe") {
          pairsAgainstIndex(corpus, corpusIndex, arr,
              bands.join(dupIds, Seq("doc_id"), "left_anti"), idCol, textCol, n, threshold)(
            _.select(col("d2").as("doc_id")).distinct().localCheckpoint())
        }
        // --- survivors + their index rows, straight off the cached bands ---
        JobCensus.labeled(spark, "operators.dedup.accept_rows") {
          val rejected = dupIds.unionByName(contaminated).localCheckpoint()
          val accepted = batch.join(rejected.select(col("doc_id").as(idCol)),
            Seq(idCol), "left_anti").localCheckpoint()
          val indexRows = bands.join(rejected, Seq("doc_id"), "left_anti")
            .localCheckpoint()
          (accepted, indexRows)
        }
      } finally bands.unpersist()
    } finally arr.unpersist()
  }

  /** (doc_id, band, bucket) LSH rows of a distinct (doc_id, s) shingle
    * table — the one signature/banding kernel of the MinHash family:
    *  1. signatures: ONE hash-aggregate pass over the shingle rows
    *     computing the 64 seeded minima as flat columns — Spark's partial
    *     aggregation makes this map-side combined;
    *  2. band buckets: bucket_b = xxhash64(h_{b*r}, ..., h_{b*r+r-1}, b)
    *     straight over the signature columns (no slicing/arrays). */
  private def signatureBands(sh: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame = {
    // The variable-length shingle string is hashed ONCE to a long; the
    // seeded family members then hash the fixed 12-byte (long, seed) pair
    // — ~2x less hashing work per row than 64 string hashes, same family
    // quality (xxhash64 over a hash is still uniform), and the LSH recall
    // argument is seed-agnostic: the exact-Jaccard verify fixes the output.
    val hashAggs = (0 until numBands * rowsPerBand)
      .map(i => min(xxhash64(col("_h"), lit(i))).as(s"h$i"))
    val sig = sh.withColumn("_h", xxhash64(col("s")))
      .groupBy("doc_id").agg(hashAggs.head, hashAggs.tail: _*)
    val bucketCols = (0 until numBands).map { b =>
      xxhash64(((b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i")) :+
        lit(b)): _*)
    }
    sig.select(col("doc_id"), posexplode(array(bucketCols: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Distinct (d1, d2) doc pairs colliding in some (band, bucket) of `x`
    * and `y`; a table banded against itself (`x eq y`) keeps d1 < d2. */
  private def bandCandidates(x: DataFrame, y: DataFrame): DataFrame = {
    val collide = col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
    x.as("x").join(y.as("y"),
        if (x eq y) collide && col("x.doc_id") < col("y.doc_id") else collide)
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  /** One input of [[verifyJaccard]]: (doc_id, s) shingle rows and
    * (doc_id, n_sh) shingle-set sizes. */
  private final case class Side(sh: DataFrame, sizes: DataFrame)

  /** A side over PERSISTED shingle arrays ([[shingleArrays]], possibly
    * semi-joined): explodes the cached `_shs` and reads the sizes as
    * array lengths — no counting aggregation. Only over a persisted frame:
    * see the [[shingleArrays]] hazard note. */
  private def arraySide(arr: DataFrame): Side = Side(
    arr.select(col("doc_id"), explode(col("_shs")).as("s")),
    arr.select(col("doc_id"), size(col("_shs")).cast("long").as("n_sh")))

  /** A side over inline-exploded shingle rows ([[shingleSet]]): the sizes
    * are counted. */
  private def countedSide(sh: DataFrame): Side =
    Side(sh, sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh")))

  /** The one exact-Jaccard verify: (d1, d2, jaccard >= threshold) with d1
    * from side `a` and d2 from side `b` — a shingle-intersection join
    * (a side verified against itself, `a eq b`, keeps d1 < d2), restricted
    * to the (d1, d2) `candidates` when given, then the two size joins. */
  private def verifyJaccard(a: Side, b: Side, candidates: Option[DataFrame],
                            threshold: Double): DataFrame = {
    val shared = col("a.s") === col("b.s")
    val inter = a.sh.as("a").join(b.sh.as("b"),
        if (a eq b) shared && col("a.doc_id") < col("b.doc_id") else shared)
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    candidates.fold(inter)(_.join(inter, Seq("d1", "d2")))
      .join(a.sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(b.sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("s1.n_sh") + col("s2.n_sh") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Verified near-dup pairs inside one batch: its persisted shingle
    * arrays `arr` and band table `bands`. The band self-join's pairs feed
    * both the candidate-doc derivation and the final join, so they are
    * persisted while `finish` materializes its projection of the pairs.
    * (Un-persisted, each reference re-planned and with AQE re-executed
    * the band self-join: 51 -> 36 jobs on the qd03 gate, round 16.) */
  private def intraBatchPairs[T](arr: DataFrame, bands: DataFrame, threshold: Double)(
      finish: DataFrame => T): T = {
    val candidates = bandCandidates(bands, bands).persist()
    try {
      // no distinct: candDocs only feeds a broadcast SEMI-join, whose
      // hashed relation dedups keys on build (round 16)
      val candDocs = candidates.select(col("d1").as("doc_id"))
        .union(candidates.select(col("d2")))
      val side = arraySide(arr.join(broadcast(candDocs), Seq("doc_id"), "left_semi"))
      finish(verifyJaccard(side, side, Some(candidates), threshold))
    } finally candidates.unpersist()
  }

  /** Verified (d1 = corpus doc, d2 = delta doc) pairs of a delta — its
    * persisted shingle arrays `deltaArr` and band rows `deltaBands` —
    * probing a stored `corpusIndex`. The candidates are persisted while
    * `finish` materializes its projection. The corpus text is touched
    * only for candidate docs: the RAW docs are semi-joined first and
    * shingled after, so the full corpus is never re-tokenized; that side
    * is NOT persisted, so its explode stays inline ([[shingleSet]]). */
  private def pairsAgainstIndex[T](corpus: DataFrame, corpusIndex: DataFrame,
                                   deltaArr: DataFrame, deltaBands: DataFrame,
                                   idCol: String, textCol: String, n: Int,
                                   threshold: Double)(finish: DataFrame => T): T = {
    val candidates = bandCandidates(corpusIndex, deltaBands).persist()
    try {
      val corpusCand = corpus.join(broadcast(candidates.select(col("d1").as(idCol))),
        Seq(idCol), "left_semi")
      val deltaCand = deltaArr.join(broadcast(candidates.select(col("d2").as("doc_id"))),
        Seq("doc_id"), "left_semi")
      finish(verifyJaccard(countedSide(shingleSet(corpusCand, idCol, textCol, n)),
        arraySide(deltaCand), Some(candidates), threshold))
    } finally candidates.unpersist()
  }

  /** Connected components over a near-dup pair list — the clustering step
    * that turns pairwise matches into dedup groups with a canonical
    * survivor (the minimum doc id doubles as the cluster id).
    *
    * Min-label propagation (the Pregel/GraphX pattern on DataFrames): each
    * node starts labeled with itself; every iteration each node takes the
    * minimum of its own and its neighbors' labels; converged when no label
    * changes. Iterations needed = the longest shortest-path inside any
    * component — for near-dup clusters (small cliques/chains) a handful.
    * Each iteration is one distributed join+agg; the iterate is
    * localCheckpoint'ed so the plan does not deepen exponentially across
    * iterations (the standard requirement of iterative DataFrame
    * algorithms).
    *
    * Input pairs (d1, d2) are undirected; only docs appearing in some pair
    * are labeled (singletons are their own trivial cluster — union them in
    * from the corpus if needed).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // The pair graph is small by construction (near-dup pairs << corpus),
    // but each iteration is a shuffling job: scope the shuffle partition
    // count down for the loop so per-iteration fixed cost doesn't dominate.
    // The override lives on a PRIVATE cloned session (newSession shares the
    // SparkContext/cache but clones the SQL conf), so concurrent queries on
    // the caller's session never observe it — no shared-conf race. The
    // eager edge list is re-homed into the clone via its checkpointed RDD
    // (cheap: the graph is small), and the result is re-homed back the same
    // way so the caller gets a DataFrame of its own session.
    val caller = pairs.sparkSession
    val iso = caller.newSession()
    iso.conf.set("spark.sql.shuffle.partitions", "8")
    locally {
      val edges0 = pairs.select(col("d1").as("src"), col("d2").as("dst"))
        .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
        .distinct().localCheckpoint()
      val edges = iso.createDataFrame(edges0.rdd, edges0.schema)
      var labels = edges.select(col("src").as("v")).distinct()
        .withColumn("label", col("v")).localCheckpoint()
      val labelType = labels.schema("label").dataType
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        // Change detection rides THROUGH the label-update aggregation: each
        // node's current label is carried as `_old` (max ignores the nulls
        // on neighbor rows; every v has exactly one self row), so detecting
        // convergence is a scan of the already-checkpointed result — not a
        // second shuffling join of new-vs-old labels per iteration.
        val neighborLabels = edges.join(labels, edges("dst") === labels("v"))
          .select(edges("src").as("v"), col("label"),
            lit(null).cast(labelType).as("_old"))
        val self = labels.select(col("v"), col("label"), col("label").as("_old"))
        val next = self.unionByName(neighborLabels)
          .groupBy("v").agg(min("label").as("label"), max("_old").as("_old"))
          .localCheckpoint()
        converged = next.filter(col("label") =!= col("_old")).limit(1).count() == 0L
        labels = next.select("v", "label")
        i += 1
      }
      if (!converged)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"connectedComponents: maxIter=$maxIter reached before convergence — " +
            "a component with internal diameter > maxIter is split into " +
            "multiple cluster ids; raise maxIter")
      val out = labels.select(col("v").as("doc_id"), col("label").as("cluster_id"))
      // re-home the (checkpointed, small) result into the caller's session
      caller.createDataFrame(out.rdd, out.schema)
    }
  }

  /** 64-bit SimHash fingerprint of a token array: bit k is the sign of the
    * sum over tokens of +-1 depending on bit k of the token's hash — two
    * disjoint 32-bit md5 slices (k<32 from hex chars [1,8], k>=32 from
    * [9,16]), the same ANSI-SQL-replayable hash family as
    * [[CountMin]]: any engine with md5 regenerates identical
    * fingerprints, which is what lets the simhash gate query be
    * oracle-checked bit-exactly instead of rows-only. */
  def simhash64(toks: Column): Column = {
    val counts = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h1 = conv(substring(md5(t), 1, 8), 16, 10).cast("long")
        val h2 = conv(substring(md5(t), 9, 8), 16, 10).cast("long")
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, i) => a + when(
            when(i < 32, call_function("shiftright", h1, i.cast("int")))
              .otherwise(call_function("shiftright", h2, (i - 32).cast("int")))
              .bitwiseAND(1) === 1, 1L).otherwise(-1L))
      })
    aggregate(
      zip_with(counts, sequence(lit(0), lit(63)),
        (c, i) => when(c > 0, call_function("shiftleft", lit(1L), i.cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming distance <= maxDistance (< 4):
    * with 4 x 16-bit chunk banding, any pair at distance <= 3 shares at
    * least one exact chunk (pigeonhole), so candidates come from an
    * equi-join on (chunk index, chunk value) — never all-pairs. For larger
    * distances, band into more chunks (d <= c-1 needs c chunks). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDistance: Int = 3): DataFrame = {
    require(maxDistance < 4, "4-chunk banding guarantees recall only for distance <= 3")
    // Transposed fingerprint computation: explode tokens once and compute all
    // 64 bit-counters as flat sum() columns in a single codegen'd hash
    // aggregation (the array-lambda form of simhash64 evaluates interpreted
    // and is ~5x slower). Token repeats weight the counters, same as the
    // per-row aggregate.
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
      .withColumn("h1", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
      .withColumn("h2", conv(substring(md5(col("tok")), 9, 8), 16, 10).cast("long"))
    val bitAggs = (0 until 64).map { i =>
      val bit =
        if (i < 32) call_function("shiftright", col("h1"), lit(i)).bitwiseAND(1)
        else call_function("shiftright", col("h2"), lit(i - 32)).bitwiseAND(1)
      sum(when(bit === 1, 1L).otherwise(-1L)).as(s"b$i")
    }
    val fpExpr = (0 until 64)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    // Both sides of the chunk self-join consume the fingerprints; without
    // the persist the whole tokenize+explode+64-column aggregation runs
    // TWICE (once per join side). See the materialization note on [[Dedup]].
    val fp = toks.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), fpExpr.as("fp"))
      .persist()
    try {
      val chunks = fp.select(col("doc_id"), col("fp"),
          posexplode(transform(sequence(lit(0), lit(3)),
            c => call_function("shiftright", col("fp"), c.cast("int") * 16).bitwiseAND(0xFFFFL))))
        .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ck")
      // filter on hamming BEFORE distinct: a pair colliding in k chunks
      // appears k times, and deduplicating only the surviving (<= maxDistance)
      // pairs keeps the distinct's shuffle proportional to real near-dups,
      // not to all chunk collisions
      chunks.as("x").join(chunks.as("y"),
          col("x.chunk") === col("y.chunk") && col("x.ck") === col("y.ck") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          hamming64(col("x.fp"), col("y.fp")).as("hamming"))
        .filter(col("hamming") <= maxDistance)
        .distinct()
        .localCheckpoint()
    } finally fp.unpersist()
  }

  /** Embedding near-dup via banded sign-LSH blocking — the 100 TB shape:
    * candidate pairs come from an equi-join on (band, bucket), never from an
    * all-pairs self-join, and the exact cosine verify touches only
    * candidates.
    *
    * `hyper` is a small broadcastable hyperplane table
    * (h_id: Int in [0, numBands*planesPerBand), h_vec: Array[Float]);
    * band b uses planes [b*planesPerBand, (b+1)*planesPerBand) and its
    * bucket packs the per-plane dot-product signs into planesPerBand bits.
    * Two vectors collide in a band with probability (1 - theta/pi)^r
    * (theta = their angle, r = planesPerBand), so more/narrower bands raise
    * recall and fewer/wider bands raise precision — the sign-LSH analogue of
    * MinHash banding. A pair is emitted once no matter how many bands it
    * collides in (distinct on candidates before the verify).
    *
    * SIZE planesPerBand WITH THE CORPUS: a band has 2^r buckets, and random
    * (non-near-dup) vectors spread roughly uniformly over them, so expected
    * random collisions per band are ~n^2 / 2^(r+1). Keep r >= log2(n) + c
    * (c ~ 2-4) and the candidate set stays linear in n plus the true
    * near-dup pairs; r fixed while n grows 10x turns the bucket join
    * quadratic (measured: 20k vectors at r=4 -> 75 s of candidate blowup,
    * r=14 -> 6 s). r < 64 (bucket bits pack into a long).
    */
  def embeddingLshPairs(vecs: DataFrame, idCol: String, vecCol: String,
                        hyper: DataFrame, numBands: Int, planesPerBand: Int,
                        threshold: Double): DataFrame = {
    // per-(vector, band) bucket: corpus scanned once, crossJoin is a
    // broadcast fan-out of numBands*planesPerBand rows per vector reduced
    // straight back down by the aggregation (map-side combined)
    val buckets = vecs.select(col(idCol).as("doc_id"), col(vecCol).as("v"))
      .crossJoin(broadcast(hyper))
      .withColumn("_dot", dotProduct(col("v"), col("h_vec")))
      .withColumn("band", (col("h_id") / lit(planesPerBand)).cast("int"))
      .groupBy(col("doc_id"), col("band"))
      .agg(sum(when(col("_dot") > 0,
          call_function("shiftleft", lit(1L), (col("h_id") % planesPerBand).cast("int")))
        .otherwise(0L)).as("bucket"))
    val candidates = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    // exact verify restricted to candidates; each vector's norm computed
    // once on the corpus side, not per pair
    val withV = vecs.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("nrm"))
    candidates
      .join(withV.as("a"), col("d1") === col("a.id"))
      .join(withV.as("b"), col("d2") === col("b.id"))
      .withColumn("cosine",
        dotProduct(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("d1"), col("d2"), round(col("cosine"), 6).as("cosine"))
  }

  /** Embedding near-dup: pairs with cosine >= threshold, blocked by a
    * REQUIRED blocking column (e.g. a coarse cluster id) — pairs are
    * compared only within a block, so the join is never a full cross
    * product. The blocking column is mandatory by design: an all-pairs
    * default was a footgun at scale. For unblocked corpora use
    * [[embeddingLshPairs]] (the LSH bands ARE the blocking), or derive a
    * coarse block first (e.g. [[graft.operators.Similarity]] centroids). */
  def embeddingCosinePairs(vecs: DataFrame, idCol: String, vecCol: String,
                           threshold: Double,
                           blockCol: String): DataFrame = {
    // Precompute each vector's norm ONCE (not per pair): the pair loop then
    // evaluates a single dot product per pair instead of dot + two norms —
    // 3x less HOF work on the O(pairs) hot path.
    val a = vecs.select(col(idCol).as("d1"), col(vecCol).as("v1"),
      l2Norm(col(vecCol)).as("nrm1"), col(blockCol).as("blk"))
    val b = vecs.select(col(idCol).as("d2"), col(vecCol).as("v2"),
      l2Norm(col(vecCol)).as("nrm2"), col(blockCol).as("blk"))
    a.join(b, Seq("blk")).filter(col("d1") < col("d2"))
      .withColumn("cosine", dotProduct(col("v1"), col("v2")) / (col("nrm1") * col("nrm2")))
      .filter(col("cosine") >= threshold)
      .select(col("d1"), col("d2"), round(col("cosine"), 6).as("cosine"))
  }

  /** Benchmark decontamination: training docs sharing at least one word
    * n-gram shingle with an eval/benchmark corpus, with the evidence
    * (distinct shared shingles, distinct eval docs hit) — the
    * train/test-overlap scrub every LLM data pipeline runs before
    * training.
    *
    * Shape at scale: both sides reduce to distinct (doc, shingle) rows and
    * meet in ONE equi-join on the shingle — never a doc×doc product. The
    * eval side is benchmarks (tiny vs a 100 TB corpus), so AQE broadcasts
    * it and the train corpus is never shuffled; the per-train-doc
    * aggregation then touches only matching rows. `maxShingleDocFreq`
    * (applied to the TRAIN side) is the usual stop-shingle skew guard —
    * at default None the match is exact, which is what the oracle checks.
    *
    * Returns (doc_id, n_shared_shingles, n_eval_docs) for contaminated
    * train docs only; anti-join the result against the corpus to drop
    * them, or threshold on the counts for a softer policy. */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int,
                    maxShingleDocFreq: Option[Int] = None): DataFrame = {
    val trainSh = shingleSet(train, idCol, textCol, n, maxShingleDocFreq)
    val evalSh = shingleSet(eval, idCol, textCol, n)
      .select(col("doc_id").as("eval_id"), col("s"))
    trainSh.join(evalSh, "s")
      .groupBy("doc_id")
      .agg(countDistinct(col("s")).as("n_shared_shingles"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
  }

  /** BLOOM-FILTER decontamination — the shape for when the eval corpus is
    * too large to join raw shingles but its filter fits in memory: build
    * the filter as the DISTINCT SET of the eval shingles' k bit positions
    * (at most `numBits` rows — the filter's information content, however
    * many shingles fed it), broadcast it, and flag a train shingle iff ALL
    * k of its positions are set (classic Bloom semantics: no false
    * negatives, false-positive rate (set/m)^k, and the FPs are a
    * DETERMINISTIC function of the hash family, not noise).
    *
    * Positions are md5 slices mod numBits ([[CountMin]]'s replayable
    * family), so the DuckDB oracle rebuilds the identical filter and the
    * gate checks the output — false positives included — bit-exactly.
    * Output: (doc_id, n_flagged_shingles) per train doc with >= 1 flagged
    * shingle. */
  def bloomDecontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                         textCol: String, n: Int,
                         numBits: Int = 1 << 16,
                         numHashes: Int = 2): DataFrame = {
    require(numHashes >= 1 && numHashes <= 4,
      "md5 yields 4 disjoint 32-bit slices; numHashes must be in [1,4]")
    def positions(sh: DataFrame): DataFrame =
      sh.select(col("doc_id"), col("s"),
        explode(array((0 until numHashes).map(i =>
          conv(substring(md5(col("s")), 1 + 8 * i, 8), 16, 10)
            .cast("long") % numBits): _*)).as("pos"))
    val bits = positions(shingleSet(eval, idCol, textCol, n))
      .select("pos").distinct()
    // a shingle's k positions can collide with each other; Bloom checks
    // membership of the position SET. One pass: mark each position via a
    // broadcast left join, flag when every distinct position matched.
    positions(shingleSet(train, idCol, textCol, n)).distinct()
      .join(broadcast(bits.withColumn("_hit", lit(1))), Seq("pos"), "left")
      .groupBy("doc_id", "s")
      .agg(count(lit(1)).as("n_pos"), count(col("_hit")).as("n_set"))
      .filter(col("n_set") === col("n_pos")) // all k bits set -> flagged
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_flagged_shingles"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space first, then compare pairs ONLY within a
    * cluster — the published recipe for semantic near-dup removal at
    * web-corpus scale, where all-pairs cosine is impossible but
    * within-cluster pairwise (sum of n_c², n_c ≈ n/K) is routine.
    *
    * Dataflow: nearest-centroid assignment is [[Similarity.assignNearest]]
    * (broadcast-centroid-array argmax — a PURE MAP over the corpus, zero
    * corpus Exchange), then [[embeddingCosinePairs]] blocked on the
    * assigned cluster (one shuffle on the cluster key, pairwise only
    * inside each cluster), then a semi-join marks the survivors.
    *
    * Survivor rule (deterministic): a vector is dropped iff SOME
    * smaller-id vector in its cluster is within `threshold` cosine — the
    * greedy keep-lowest-id policy. Like the paper's keep-one-per-ε-ball,
    * chains can over-drop (a~b, b~c, a≁c drops both b and c); that is the
    * documented, replayable semantics, not an accident. An empty centroid
    * set assigns nothing and returns zero rows (the [[Similarity]] folded
    * -row contract).
    *
    * Returns one row per input vector: (idCol, cluster, keep). */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame, threshold: Double): DataFrame = {
    // the assignment subtree is referenced THREE times below (both sides
    // of the within-cluster self-join + the final left join) — without a
    // cut, Spark re-runs the corpus scan + argmax map per reference;
    // localCheckpoint materializes it once (same pattern as the other
    // self-joining dedup operators)
    val assigned = Similarity.assignNearest(vecs, idCol, vecCol, cents)
      .localCheckpoint()
    val dups = embeddingCosinePairs(assigned, idCol, vecCol, threshold, "cluster")
      .select(col("d2").as(idCol)).distinct()
      .withColumn("_dup", lit(true))
    assigned.join(dups, Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("_dup").isNull.as("keep"))
  }
}
