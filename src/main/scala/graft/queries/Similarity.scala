package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (Array[Float] column). Paths:
  *
  *   ann_topk       — brute-force cosine top-k: broadcast the query set
  *                    against the full corpus. Exact; the recall baseline.
  *   ann_ivf        — inverted-file index with hash-sampled coarse
  *                    centroids; queries probe the nearest cells only.
  *   ann_ivf_kmeans — IVF with KMeans-trained centroids (sample-trained).
  *   ann_lsh        — random-hyperplane LSH with multiprobe.
  *
  * Scale design (the parts that must survive 100 TB):
  *   - centroid count k ≈ √N — assignment work is N·√N and the broadcast
  *     side is √N rows, both sublinear in corpus bytes; N comes from a
  *     filter-less parquet count served from row-group metadata (empty
  *     ReadSchema — footer IO only, no column decode).
  *   - every per-group "best/top-k" is a BOUNDED AGGREGATE
  *     (graft.functions.TopKAgg), never a row_number window:
  *     partial aggregation collapses candidates map-side, so shuffles
  *     carry k rows per group instead of the full candidate fan-out.
  *   - LSH bucket bits grow with log₂(N/targetBucketSize), so bucket
  *     occupancy stays ~constant as the corpus grows; recall lost to
  *     narrower buckets is bought back with multiprobe whose depth and
  *     table count — like IVF's nprobe — are CALIBRATED per index build
  *     against a held-out stratum's exact neighbors, so the recall
  *     target is a contract whose cost is measured, not a parameter
  *     guess that silently decays as N grows (see the calibration
  *     section below).
  *
  * All vector math is codegen'd custom expressions (graft.functions.vec) —
  * doubles summed in index order, no UDFs, no interpreted lambdas.
  */
object Similarity {

  private val K = 5

  /** Fallback probe count when no calibration pairs exist (tiny corpora):
    * the round-8 rule, nprobe ∝ N^(1/4) with a measured 2.5 coefficient
    * (1.5·√k left recall@5 at 0.81 at sf0.1 — RECALL_r08). Everywhere a
    * calibration set exists, [[calibratedNprobe]] replaces this guess with
    * the measured probe depth the recall target actually demands: the
    * round-10 multi-scale recall probe showed the fixed-coefficient rule
    * decaying with corpus growth (ann_ivf 0.95 → 0.84 → 0.875 across
    * 1×/3×/10×) because on near-uniform vectors the neighbor's cell rank
    * distribution widens as k = √N grows — no fixed sublinear coefficient
    * can hold a recall contract on structureless data; only measuring the
    * rank distribution can say what the contract costs.
    */
  private def nprobeFallback(k: Int): Int = math.max(8, math.ceil(2.5 * math.sqrt(k)).toInt)

  /** Corpus cardinality. A filter-less count over a parquet scan has an
    * empty ReadSchema — Spark answers it from row-group metadata (footer
    * IO only), so this is safe to run inside an index build even at 100 TB.
    * Takes the already-built corpus DataFrame: every ANN query builds its
    * embeddings relation ONCE and threads it through — each separate
    * `spark.read.parquet(path)` costs a file-listing job, and on
    * local-cluster each job pays separate-JVM scheduling (the cross-mode
    * ratio is per-job overhead, JobCountProbe).
    */
  private def corpusSize(emb: DataFrame): Long = emb.count()

  /** k ≈ √N coarse centroids (min 16 so tiny corpora still partition). */
  private def centroidCount(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Corpus with the L2 norm computed once per vector — every downstream
    * pair evaluation is then a single dot product (norm-per-pair triples
    * the array passes across all candidate pairs).
    */
  private def normed(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      graft.functions.vec.l2norm(col("embedding")).as("nrm"))

  private def pairCosine: Column =
    graft.functions.vec.dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))

  /** Explicit bounded-|Q| contract: at most this many queries per batch.
    * Every probe-side `broadcast()` below is justified by THIS bound — a
    * query set defined as "every 50th vector" alone grows as N/50, which
    * would make the probe broadcasts linear in the corpus (the same
    * scale bug class as a hinted fact-table broadcast). Real ANN serving
    * batches queries; 1024 is a batch, not a corpus fraction.
    */
  private val MaxQueries = 1024

  /** Deterministic query set: every 50th vector among the first
    * `MaxQueries * 50` ids. The id bound is a plain range predicate, so it
    * is PUSHED to the parquet scan (PlanSpec asserts `LessThan(vec_id`)
    * — the query side reads a bounded slice of the corpus, it does not
    * scan-then-sample N rows.
    */
  private def queries(e: DataFrame): DataFrame =
    normed(e).filter(col("vec_id") % 50 === 0 && col("vec_id") < lit(MaxQueries * 50L))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))

  // ------------------------------------------------------------------
  // Recall-targeted probe calibration (round 10).
  //
  // The multi-scale recall probe (RECALL_r10) caught every approximate
  // path decaying as the corpus grew (ann_lsh 0.995 → 0.935 → 0.845
  // across 1×/3×/10×): with bucket bits B = log₂(N/16), a true
  // neighbor's expected signature hamming distance grows linearly in B,
  // so any FIXED probe depth covers a shrinking tail — and the IVF cell
  // count k = √N widens the neighbor's cell-rank distribution the same
  // way. No static parameter rule survives corpus growth on
  // structureless (near-uniform) vectors; the only honest contract is a
  // recall target whose cost is MEASURED at index-build time.
  //
  // So: take a held-out calibration stratum (vec_id ≡ 25 mod 50 —
  // disjoint from the query contract's ≡ 0 stratum, so the recall the
  // probe later measures is out-of-sample), compute its exact top-K
  // once per build (one bounded TopKAgg job — 64 queries × N dots, far
  // below the O(N·√N) assignment scan that follows), and derive the
  // probe parameters FROM where those true neighbors actually land:
  // cell ranks for IVF, per-table signature hamming distances for LSH.
  // On clustered real-world embeddings the derived parameters stay
  // small (neighbors land in the first cells / at hamming ≈ 0); on this
  // corpus's adversarial uniform replicas they grow — and the cost of
  // the recall contract shows up in the bench instead of silently
  // surfacing as misses. At 100 TB the index (and this calibration)
  // builds once per ingest and serves many query batches.
  // ------------------------------------------------------------------

  private val CalQueries = 64
  private val RecallTarget = 0.95

  /** Per-corpus cache for the calibration pairs (verdict r10 #3, ADVICE
    * r10): the exact 64×N brute-force pass is an INDEX-BUILD cost — per
    * ingest, not per query — but the uncached form re-ran it on every
    * invocation of every ANN path (a session running ann_ivf +
    * ann_ivf_kmeans + ann_lsh paid it three times; ~0.2–0.6 s each at
    * sf0.1). The key is the corpus's physical identity — sorted input
    * file paths + length + modification time, read from driver-side
    * FileSystem metadata (no Spark job) — so a corpus regenerated
    * IN PLACE misses the cache instead of serving stale parameters, and
    * distinct corpora (the scale/recall probes stage several per JVM)
    * never collide. Values are ≤ CalQueries·K vector pairs (~320 KB).
    * Determinism is unaffected: the pairs are themselves deterministic
    * per corpus, so a cache hit returns byte-identical parameters and
    * every downstream fingerprint is unchanged (cross-mode gate
    * re-verified, CLUSTER_r11).
    */
  private val calCache = new java.util.concurrent.ConcurrentHashMap[
    String, Array[(Array[Double], Array[Double])]]()

  // Physical-identity keying + cache-or-build live in CorpusCaches since
  // round 12 (the sampled-p1 cache in Dedup joined the scheme, ADVICE
  // r11); behavior here is unchanged.
  private def corpusKey(emb: DataFrame): String = CorpusCaches.corpusKey(emb)

  private def cachedOrBuild[T](cache: java.util.concurrent.ConcurrentHashMap[String, T],
      key: String)(build: => T): T = CorpusCaches.cachedOrBuild(cache, key)(build)

  private def calibrationPairsCached(emb: DataFrame)
      : Array[(Array[Double], Array[Double])] =
    cachedOrBuild(calCache, corpusKey(emb))(calibrationPairsOver(emb, emb))

  /** Calibration pairs for the FILTERED search path: queries come from
    * the full corpus (a filtered query is still an arbitrary vector),
    * true neighbors from the predicate stratum only. Cached under a
    * predicate-tagged key — the physical files are the same as the
    * unfiltered corpus, but the rank distribution the calibration
    * measures is not (the round-10/11 lesson: selectivity changes where
    * true neighbors land, so fixed parameters decay).
    */
  private def calibrationPairsFilteredCached(emb: DataFrame, filtered: DataFrame,
      tag: String, predSql: String): Array[(Array[Double], Array[Double])] = {
    val key = corpusKey(emb)
    // Predicate SQL rides in the key next to the tag (the same ADVICE-r14
    // fix as stratumCountCached): a tag reused with a different predicate
    // must rebuild, never serve the other stratum's calibration pairs.
    cachedOrBuild(calCache,
      if (key.isEmpty) key else s"filtered:$tag:$predSql@$key")(
      calibrationPairsOver(emb, filtered))
  }

  /** Per-corpus cache for the fitted coarse-centroid models — the other
    * half of the index-build cost (the calibration cache above covers
    * the exact-neighbor pass). ann_ivf's hash-strided centroid collect
    * and ann_ivf_kmeans' sample collect + driver Lloyd fit each launch
    * jobs per invocation that at 100 TB happen once per ingest; caching
    * them under the same physical-identity key makes a session's second
    * ANN query skip straight to assignment + probing (JobCountProbe is
    * the evidence instrument). Determinism: both models are
    * content-deterministic per corpus (sorted collects, seeded fit), so
    * a hit is byte-identical and fingerprints are unchanged. Values are
    * (ids, unit-centroid matrix): ≤ k·Dim doubles ≈ 8 MB at N = 10⁹ —
    * the same bound as the collect they replace.
    */
  private val centCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Long], Array[Double])]()

  private def centModelCached(tag: String, emb: DataFrame)(
      build: => (Array[Long], Array[Double])): (Array[Long], Array[Double]) = {
    val key = corpusKey(emb)
    cachedOrBuild(centCache, if (key.isEmpty) key else tag + "@" + key)(build)
  }

  /** Exact top-K (queryEmb, neighborEmb) pairs for the calibration
    * stratum: one bounded distributed TopKAgg job (deterministic — ties
    * break by id), then a ≤ (CalQueries·(K+1))-id IN-pushdown fetch of
    * the embeddings. Both driver reads are bounded by contract at any
    * corpus size.
    */
  private def calibrationPairsOver(qSrc: DataFrame, corpus: DataFrame)
      : Array[(Array[Double], Array[Double])] = {
    val calQ = normed(qSrc)
      .filter(col("vec_id") % 50 === 25 && col("vec_id") < lit(CalQueries * 50L))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val top = broadcast(calQ).join(normed(corpus), col("vec_id") =!= col("q_id"))
      .withColumn("cs_raw", pairCosine)
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topk(col("vec_id"), col("cs_raw"), K).as("top"))
      .select(col("q_id"), col("top.id").as("nids"))
      .collect()
      .sortBy(_.getLong(0))
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    if (top.isEmpty) return Array.empty
    val need = (top.map(_._1) ++ top.flatMap(_._2)).distinct.sorted
    val fetched = qSrc.filter(col("vec_id").isInCollection(need))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
      .toMap
    for {
      (q, nids) <- top
      qe <- fetched.get(q).toArray
      v <- nids
      ve <- fetched.get(v).toArray
    } yield (qe, ve)
  }

  /** Calibrated IVF probe count: for each calibration pair, the minimal
    * probe depth that reaches the neighbor (the best rank, in the
    * query's cell order, of the neighbor's CellReplicas assigned cells
    * — both orders exactly NearestCells' (dot desc, id asc)); nprobe is
    * the RecallTarget-quantile of those minimal depths plus a 20%
    * sampling margin, clamped to [8, k] (the constant floor
    * CalibrationSpec pins for clustered pairs; the 2.5·√k
    * nprobeFallback is used only when calibration yields no pairs).
    */
  private[queries] def calibratedNprobe(pairs: Array[(Array[Double], Array[Double])],
      unit: Array[Double], ids: Array[Long]): Int = {
    val k = ids.length
    if (pairs.isEmpty) return math.min(k, nprobeFallback(k))
    def cellOrder(v: Array[Double]): Array[Int] = {
      val n = math.min(v.length, Dim)
      val dots = Array.tabulate(k) { c =>
        var s = 0.0; var i = 0
        while (i < n) { s += v(i) * unit(c * Dim + i); i += 1 }
        s
      }
      Array.range(0, k).sortBy(c => (-dots(c), ids(c)))
    }
    val minRanks = pairs.map { case (q, v) =>
      val rankOf = new Array[Int](k)
      cellOrder(q).zipWithIndex.foreach { case (c, r) => rankOf(c) = r }
      cellOrder(v).take(CellReplicas).map(rankOf(_)).min + 1
    }.sorted
    val at = math.max(0, math.min(minRanks.length - 1,
      math.ceil(RecallTarget * minRanks.length).toInt - 1))
    val margin = math.ceil(minRanks(at) * 1.2).toInt
    math.min(k, math.max(8, margin))
  }

  /** Final ranking: bounded top-k per query via TopKAgg — shuffles K rows
    * per query regardless of candidate fan-out (a window rank here would
    * shuffle and sort EVERY candidate row). Output matches the
    * row_number() formulation: rank by (cs desc, vec_id asc), duplicates
    * (LSH multi-table collisions) deduped by id inside the agg buffer.
    */
  private def rankTopK(cand: DataFrame): DataFrame =
    cand
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topk(col("vec_id"), col("cs_raw"), K).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("t.score"), 6).as("cs"))

  /** ann_topk — exact brute-force top-5 cosine neighbors per query.
    * O(|Q|·N) by definition (it is the recall baseline); the broadcast is
    * safe because |Q| ≤ MaxQueries by contract, so the build side is
    * ≤ 1024 rows of 64 floats at any corpus size.
    */
  def annTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val e = normed(emb)
    val q = queries(emb)
    rankTopK(
      broadcast(q).join(e, col("vec_id") =!= col("q_id"))
        .withColumn("cs_raw", pairCosine))
  }

  val annTopKSql: String =
    s"""SELECT q_id, neighbor_id, rank, cs FROM (
       |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |        CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS INT) AS rank,
       |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |      CAST(e.embedding AS DOUBLE[])), 6) AS cs
       |  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
       |  WHERE q.vec_id % 50 = 0 AND q.vec_id < ${MaxQueries * 50L}) t
       |WHERE rank <= $K""".stripMargin

  /** ann_range — radius search: every corpus vector within cosine ≥
    * RangeTau of each query (the calibration query behind choosing a
    * dedup threshold: "how many neighbors does τ admit"). Same bounded-|Q|
    * broadcast contract as ann_topk — the probe side is ≤ MaxQueries rows
    * at any corpus size; the corpus side streams through one codegen'd
    * dot product per pair and never shuffles. Deliberately the EXACT
    * (no-miss) form: a radius query is the instrument that measures LSH
    * recall, so it must not itself be approximate. Output is bounded by
    * neighborhood density at τ, not by N². τ = 0.30 sits in this
    * embedding space's near-neighbor band (the 99.9th percentile of
    * query-pair cosine is ≈0.37–0.41 at test SFs; the dedup threshold
    * 0.45 admits ≤1 pair, too sparse to exercise anything).
    */
  private val RangeTau = 0.30

  def annRange(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val e = normed(emb)
    val q = queries(emb)
    // Admission filters on the ROUNDED cosine: the raw value is computed
    // differently in each engine (precomputed norms here, DuckDB's
    // list_cosine_similarity in the oracle), so a pair within ~1 ulp of
    // tau would flip membership between the two if the boundary used the
    // unrounded value. Rounding to the same 6 digits the output hashes on
    // makes the admission boundary bit-identical across engines.
    broadcast(q).join(e, col("vec_id") =!= col("q_id"))
      .withColumn("cs", round(pairCosine, 6))
      .filter(col("cs") >= RangeTau)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cs"))
  }

  val annRangeSql: String =
    s"""SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |    CAST(e.embedding AS DOUBLE[])), 6) AS cs
       |FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
       |WHERE q.vec_id % 50 = 0 AND q.vec_id < ${MaxQueries * 50L}
       |  AND round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |    CAST(e.embedding AS DOUBLE[])), 6) >= 0.30""".stripMargin

  /** Index-entry replication: each vector is indexed under its top
    * `CellReplicas` nearest cells (standard IVF multi-assignment) — 2×
    * index entries buys back the recall that √N-many narrow cells cost,
    * still O(N) storage.
    */
  private val CellReplicas = 2

  /** Both IVF stages — corpus→cell assignment and query→cell probing —
    * run through [[graft.functions.NearestCells]]: a per-row argmax-r
    * against the driver-resident unit-centroid matrix. Round 8's form
    * broadcast-joined the centroids then re-aggregated with TopKAgg under
    * groupBy — correct and map-side-combined, but it materialized N·k
    * candidate rows, shuffled N rows, and (the cross-mode killer) ran
    * 11 Spark jobs at warm steady state, most of them broadcast-exchange
    * builds that each pay separate-JVM scheduling on real executors
    * (CLUSTER_r08: 2.10× cluster/local, the worst in the suite). As a
    * projection the assignment adds ZERO shuffles and the only remaining
    * broadcast is the bounded probe set itself.
    *
    * The centroid collect is a bounded driver read under the engine's
    * existing policy (k ≈ √N rows: ~8 MB of float32 at N = 10⁹ — same
    * class as the k-means training sample's 33 MB cap), and the matrix
    * then rides the plan inside the expression `references` array exactly
    * like HyperplaneSigs' planes. Rows are sorted by id on the driver, so
    * the fitted matrix — and hence every downstream fingerprint — is
    * identical across local[32] and multi-JVM cluster mode.
    */
  private def assignedCells(e: DataFrame, unit: Array[Double], ids: Array[Long]): DataFrame =
    e.select(
      explode(graft.functions.NearestCells.nearestCells(
        col("embedding"), unit, ids, ids.length, Dim, CellReplicas)).as("cell"),
      col("vec_id"), col("embedding"), col("nrm"))

  /** nprobe nearest cells per query — the same per-row expression over the
    * ≤ MaxQueries probe rows (|Q|·nprobe output rows, no aggregation).
    */
  private def probedCells(q: DataFrame, unit: Array[Double], ids: Array[Long],
                          nprobe: Int): DataFrame =
    q.select(col("q_id"), col("q_emb"), col("q_nrm"),
      explode(graft.functions.NearestCells.nearestCells(
        col("q_emb"), unit, ids, ids.length, Dim, nprobe)).as("cell"))

  /** Collect + unit-normalize a centroid candidate set (id, float vector)
    * on the driver: ids sorted ascending for cross-mode determinism.
    */
  private def collectUnitCents(cents: DataFrame): (Array[Long], Array[Double]) = {
    val rows = cents.collect().sortBy(_.getLong(0))
    val ids = rows.map(_.getLong(0))
    val unit = new Array[Double](rows.length * Dim)
    rows.zipWithIndex.foreach { case (row, c) =>
      val v = row.getSeq[Float](1)
      var s = 0.0
      var i = 0
      while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
      val nrm = math.sqrt(s)
      i = 0
      while (i < math.min(v.length, Dim)) {
        unit(c * Dim + i) = if (nrm == 0.0) v(i).toDouble else v(i).toDouble / nrm
        i += 1
      }
    }
    (ids, unit)
  }

  /** Probe-side broadcast is bounded by contract: |probed| ≤ MaxQueries ·
    * nprobe (≈ 1024 · 1.5·N^(1/4)) — sublinear in the corpus and tiny in
    * absolute terms. The corpus-derived `assigned` side is NEVER broadcast;
    * it streams through the hash join partitioned by cell.
    */
  private def searchCells(probed: DataFrame, assigned: DataFrame): DataFrame =
    rankTopK(
      // Deliberately NOT spread (round 19): the assigned side is one
      // split at test SFs, but its per-row work (one cosine per probe
      // match) is cheap enough that the added exchange measured a NET
      // LOSS across the five thin IVF entries (+0.1–0.2 s each in the
      // same-session A/B) — only the PQ ADC scan, with ~100× the
      // per-row arithmetic, clears the spread's cost (annIvfPq below).
      broadcast(probed).join(assigned, Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cs_raw", pairCosine))

  /** ann_ivf — IVF with hash-sampled coarse centroids: every vector whose
    * id-hash clears a stride derived from k ≈ √N. Selection is a pure
    * filter (no training pass); the centroid set is √N rows — a bounded
    * driver collect at any corpus size (see collectUnitCents).
    *
    * Since round 19 the serving components route through the ONE-SITE
    * [[sharedIvfServing]] dispatch (VERDICT r18 #1 — the sharedEmbedSigs
    * discipline applied to the vector index): a corpus whose index was
    * staged at ingest ([[stageIvfIndex]]) serves the persisted postings
    * + centroids + calibrated probe depth instead of re-running the
    * N·√N assignment pass and the 64×N calibration scan per execution.
    * Both arms are row-identical by construction (assignment is a
    * deterministic per-row expression; doubles round-trip parquet
    * exactly; the calibrated nprobe is content-deterministic under the
    * fence) — IvfStagedSpec pins it, and ann_ivf_staged re-proves it
    * against this entry's own dynamic DuckDB oracle every round.
    */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame =
    annIvfWith(spark, sfDir, None)

  private[queries] def annIvfWith(spark: SparkSession, sfDir: String,
      staging: Option[String]): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val s = sharedIvfServing(spark, emb, staging)
    searchCells(probedCells(queries(emb), s.unit, s.ids, s.nprobe), s.assigned)
  }

  /** The shared hash-sampled coarse quantizer ("ivf" model slot): every
    * vector whose id-hash clears a stride derived from k ≈ √N. One build
    * per corpus serves ann_ivf / ann_ivf_pq / the filtered family / the
    * dynamic oracle generator (which inlines the SAME frozen matrix into
    * the DuckDB restatement — see [[oracleSqlDynamic]]).
    */
  private[queries] def ivfModelOf(emb: DataFrame): (Array[Long], Array[Double]) = {
    val n = corpusSize(emb)
    val k = centroidCount(n)
    val stride = math.max(1L, n / k)
    centModelCached("ivf", emb)(collectUnitCents(
      emb
        .filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
        .select(col("vec_id"), col("embedding"))))
  }

  /** The metadata predicate for the filtered search path: a single
    * equality on the embeddings table's `label` column (~10% selectivity
    * on the driver corpora) — the "nearest neighbors among docs with
    * lang='en'" shape real similarity queries carry.
    */
  private[queries] val FilterLabel = 3

  /** The RARE stratum (~1% selectivity): the label equality conjoined
    * with an id residue — both conjuncts push to the parquet scan. This
    * is the regime where the post-filter trap and fixed-nprobe decay
    * bite hardest (round-13: the fixed-parameter-decay lesson needs MORE
    * THAN ONE point on the selectivity axis, or the re-calibration
    * machinery is an argument, not a measurement).
    */
  private[graft] def filterPred10(): Column = col("label") === FilterLabel
  private[graft] def filterPredRare(): Column =
    col("label") === FilterLabel && col("vec_id") % 10 === 1

  /** Exact filtered brute force at an arbitrary predicate — the recall
    * baseline (the ann_topk shape with the predicate applied before the
    * broadcast join). Used by SimilaritySpec's floors and RecallProbe;
    * not a queries() entry.
    */
  private[graft] def annFilteredExactWith(spark: SparkSession, sfDir: String,
      pred: Column): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val e = normed(emb.filter(pred))
    rankTopK(
      broadcast(queries(emb)).join(e, col("vec_id") =!= col("q_id"))
        .withColumn("cs_raw", pairCosine))
  }

  private[graft] def annFilteredExact(spark: SparkSession, sfDir: String): DataFrame =
    annFilteredExactWith(spark, sfDir, filterPred10())

  private[graft] def annFilteredRareExact(spark: SparkSession, sfDir: String): DataFrame =
    annFilteredExactWith(spark, sfDir, filterPredRare())

  /** ann_filtered — predicate + vector search (filtered ANN): top-k
    * cosine neighbors per query AMONG the corpus vectors satisfying a
    * metadata predicate. The production shape: one IVF index serves the
    * whole corpus (built once per ingest — the same shared "ivf" model
    * cache slot as ann_ivf), and the predicate is applied to the
    * SCAN-SIDE relation BEFORE assignment and the probe join, so
    * pruning happens at the parquet scan (PushedFilters carries
    * EqualTo(label, …) — PlanSpec gates it) and the per-cell scan state
    * holds only qualifying vectors. Filtering the RESULT of an
    * unfiltered search instead (post-filtering) is the classic recall
    * trap: a top-k list can contain zero qualifying rows.
    *
    * The probe depth is RE-CALIBRATED on the filtered stratum
    * (calibrationPairsFilteredCached): under a 10% predicate a query's
    * true filtered neighbors are ~10× farther down its cell order than
    * its unfiltered ones, so serving the unfiltered nprobe here would
    * silently cut recall — the same fixed-parameter decay the round-10
    * multi-scale probe measured across corpus growth, now along the
    * selectivity axis. Approximate → rows-only entry; SimilaritySpec
    * asserts the recall floor vs [[annFilteredExact]] and RecallProbe
    * reports the number per round.
    */
  def annFiltered(spark: SparkSession, sfDir: String): DataFrame =
    annFilteredWith(spark, sfDir, filterPred10(), s"label$FilterLabel")

  /** ann_filtered_rare — the same production shape at the ~1% stratum:
    * identical corpus-wide index, identical machinery, but the probe
    * depth is re-calibrated on the RARE stratum (under a 1% predicate a
    * query's true filtered neighbors sit ~10× deeper in its cell order
    * than at 10%, ~100× deeper than unfiltered — SimilaritySpec asserts
    * the calibrated nprobe actually moved between strata, so the
    * re-calibration is an instrumented fact, not a comment).
    */
  def annFilteredRare(spark: SparkSession, sfDir: String): DataFrame =
    annFilteredWith(spark, sfDir, filterPredRare(), "rare")

  private[graft] def annFilteredWith(spark: SparkSession, sfDir: String,
      pred: Column, tag: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val filtered = Tables.embeddings(spark, sfDir).filter(pred)
    val (ids, unit) = ivfModelOf(emb)
    val assigned = assignedCells(normed(filtered), unit, ids)
    val probed = probedCells(queries(emb), unit, ids,
      filteredNprobe(spark, sfDir, pred, tag))
    searchCells(probed, assigned)
  }

  /** ann_filtered_auto — the selectivity-AXIS dispatch (round 14): given
    * a predicate, choose between the two filtered-search regimes the
    * family already ships, on a cost rule instead of a human reading the
    * stratum. ann_filtered / ann_filtered_rare prove the IVF machinery
    * re-calibrates per stratum; this entry answers the follow-on
    * question — WHEN should a filtered search use the index at all?
    *
    * The rule is the two paths' touched-row counts. Exact filtered brute
    * force touches `sel·N` corpus rows per query (the stratum, scanned
    * under a pushed predicate). The IVF path touches
    * `nprobe · ⌈N/k⌉ ≈ 2.5·N^(3/4)` rows per query (probe depth × mean
    * posting size) — AND can only lose recall on top. So below the
    * crossover (stratum ≤ touched rows, i.e. selectivity ≲ 2.5·N^(-1/4):
    * ~1.4 % at 10⁹ vectors, ~0.25 % at 10¹²) the index is strictly
    * dominated — brute force on the stratum reads less and is exact.
    * This is the regime ann_filtered_rare measures the decay of; the
    * dispatch routes it out entirely.
    *
    * Two deliberate asymmetries, both conservative toward the exact
    * branch (the one with recall 1.0): (1) the yardstick nprobe is the
    * calibration-FREE fallback formula (2.5·N^(1/4)), not the calibrated
    * stratum value — the dispatch must not pay an index build + a
    * filtered calibration pass on the branch whose whole point is
    * avoiding the index (the calibrated filtered nprobe is ≥ the
    * fallback, so using it could only move MORE strata to exact);
    * (2) the stratum count is a real pushed-filter scan count, cached
    * per corpus identity + predicate tag (the CorpusCaches discipline) —
    * an estimate that undercounted could silently route a huge stratum
    * to brute force.
    *
    * At the test corpora every stratum sits below the crossover (N^(3/4)
    * dwarfs N at small N), so the shipped entry exercises the exact
    * branch and carries a full DuckDB oracle — SimilaritySpec pins the
    * decision and drives the IVF branch through an injected budget (the
    * CapBindingSpec pattern), asserting row identity with
    * ann_filtered_rare's output on the same stratum.
    */
  def annFilteredAuto(spark: SparkSession, sfDir: String): DataFrame =
    annFilteredAutoWith(spark, sfDir, filterPredRare(), "rare")

  /** The RANGE stratum (round 15, VERDICT r14 #5): `vec_id < N/2` — the
    * third point on the selectivity axis and STRUCTURALLY different from
    * the equality/residue strata (a range pushes to parquet as a
    * LessThan filter; its 50% selectivity is scale-invariant, so the
    * dispatch flips with N alone).
    */
  private[graft] def filterPredRange(n: Long): Column =
    col("vec_id") < lit(n / 2)

  /** ann_filtered_range — the auto dispatch on the range stratum. The
    * crossover rule sel·N ≤ nprobe_fallback·⌈N/k⌉ holds at 50% exactly
    * when N^(1/4) ≲ 5, so the SAME entry exercises BOTH branches across
    * the committed corpora: exact at the oracle scale (stratum 250 ≤ 264
    * touched rows at N=500), IVF at sf0.1 (1000 > 765 at N=2000) and at
    * any production scale. Its oracle is generated FOLLOWING the
    * dispatch: the generator evaluates the same cost rule and emits the
    * exact brute-force restatement or the IVF restatement (with the
    * range stratum's own re-calibrated nprobe) accordingly — both
    * regimes are hash-checked, not just the exact one. Per-stratum
    * recalibration + branch identity are pinned in SimilaritySpec;
    * RecallProbe carries the family's row across the scale curve (where
    * grown corpora keep it on the IVF branch).
    */
  def annFilteredRange(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    // IVF branch serves the PER-STRATUM index (round 16): at 50%
    // selectivity the stratum is hot enough to own postings, and the
    // stratum-fitted quantizer reads higher calibrated recall than
    // probing corpus-wide cells half-emptied by the predicate
    // (RECALL_r16 carries both numbers; the oracle follows the model).
    annFilteredAutoWith(spark, sfDir, filterPredRange(corpusSize(emb)), "range",
      perStratumIvf = true)
  }

  private[graft] def annFilteredRangeExact(spark: SparkSession,
      sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    annFilteredExactWith(spark, sfDir, filterPredRange(corpusSize(emb)))
  }

  private[graft] def annFilteredAutoWith(spark: SparkSession, sfDir: String,
      pred: Column, tag: String, budgetOverride: Option[Long] = None,
      perStratumIvf: Boolean = false): DataFrame =
    if (autoPicksExact(spark, sfDir, pred, tag, budgetOverride))
      annFilteredExactWith(spark, sfDir, pred)
    else if (perStratumIvf) annFilteredStratumWith(spark, sfDir, pred, tag)
    else annFilteredWith(spark, sfDir, pred, tag)

  /** Per-stratum coarse quantizer (round 16, VERDICT r15 #6): centroids
    * hash-sampled FROM THE STRATUM, k = ⌈√n_s⌉ from the stratum's own
    * size — the index a real filtered-ANN serving system builds when a
    * predicate is hot enough to own postings. Against the corpus-wide
    * model at the same probe rule this buys (a) centroids distributed
    * like the stratum (no empty cells where the predicate filtered
    * everything out) and (b) a k matched to n_s, so calibrated probe
    * depth is spent on cells that all contain qualifying vectors.
    * Deterministic like every model slot (hash-stride + sorted collect);
    * cached per corpus identity + predicate SQL (the stratumCountCached
    * keying discipline).
    */
  private[queries] def ivfModelStratum(emb: DataFrame, pred: Column,
      tag: String, predSql: String): (Array[Long], Array[Double]) = {
    val ns = stratumCountCached(emb, pred, tag)
    val k = centroidCount(ns)
    val stride = math.max(1L, ns / k)
    centModelCached(s"ivf-stratum:$tag:$predSql", emb)(collectUnitCents(
      emb.filter(pred)
        .filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
        .select(col("vec_id"), col("embedding"))))
  }

  /** The filtered IVF search over the per-stratum index: identical
    * machinery to [[annFilteredWith]] — predicate pushed to the scan
    * before assignment, probe depth re-calibrated on the stratum — with
    * the stratum-fitted quantizer in place of the corpus-wide one. The
    * calibration PAIRS are model-independent (query, true stratum
    * neighbor), so the cached pair set is shared; only the
    * rank-distribution fit re-runs against the stratum centroids.
    */
  private[graft] def annFilteredStratumWith(spark: SparkSession, sfDir: String,
      pred: Column, tag: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val predSql = predSqlOf(pred)
    val (ids, unit) = ivfModelStratum(emb, pred, tag, predSql)
    val filtered = emb.filter(pred)
    val assigned = assignedCells(normed(filtered), unit, ids)
    val nprobe = filteredNprobe(spark, sfDir, pred, tag, perStratum = true)
    val probed = probedCells(queries(emb), unit, ids, nprobe)
    searchCells(probed, assigned)
  }

  /** The dispatch decision, exposed so the spec asserts it rather than
    * inferring it from timing (the dd_embed_auto instrument pattern).
    */
  private[graft] def autoPicksExact(spark: SparkSession, sfDir: String,
      pred: Column, tag: String, budgetOverride: Option[Long] = None)
      : Boolean = {
    val emb = Tables.embeddings(spark, sfDir)
    val stratum = stratumCountCached(emb, pred, tag)
    stratum <= budgetOverride.getOrElse(ivfTouchedRowsPerQuery(corpusSize(emb)))
  }

  /** Rows the IVF path reads per query at the calibration-free probe
    * depth: nprobeFallback(k) cells × the mean posting size ⌈n/k⌉. Pure
    * arithmetic — no index build, no calibration jobs.
    */
  private[graft] def ivfTouchedRowsPerQuery(n: Long): Long = {
    val k = centroidCount(n)
    nprobeFallback(k).toLong * ((n + k - 1) / k)
  }

  private val stratumCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def stratumCountCached(emb: DataFrame, pred: Column,
      tag: String): Long = {
    val key = corpusKey(emb)
    // The key carries the PREDICATE ITSELF (its canonical SQL), not just
    // the caller's tag (ADVICE r14): a future caller reusing a tag with
    // a different predicate must miss, never silently serve the other
    // stratum's count and misroute the dispatch.
    val predSql = predSqlOf(pred)
    cachedOrBuild(stratumCache,
      if (key.isEmpty) key else s"stratum:$tag:$predSql@$key")(
      java.lang.Long.valueOf(emb.filter(pred).count())).longValue()
  }

  /** Oracle for ann_filtered_auto at the shipped stratum: the dispatch
    * picks the exact branch below the crossover (every test corpus is),
    * so the entry is SQL-restatable — ann_topk's form with the rare
    * predicate on the corpus side. If a corpus ever flips the decision
    * at oracle scale, the driver gate fails loudly and the spec's
    * decision assert catches it first in CI — that is the contract
    * working, not an approximation leak.
    */
  val annFilteredAutoSql: String =
    s"""SELECT q_id, neighbor_id, rank, cs FROM (
       |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |        CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS INT) AS rank,
       |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |      CAST(e.embedding AS DOUBLE[])), 6) AS cs
       |  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
       |  WHERE q.vec_id % 50 = 0 AND q.vec_id < ${MaxQueries * 50L}
       |    AND e.label = $FilterLabel AND e.vec_id % 10 = 1) t
       |WHERE rank <= $K""".stripMargin

  /** The per-stratum calibrated probe depth — factored out so the spec
    * can read the number each stratum actually serves (the instrument
    * that proves re-calibration mattered).
    */
  private[graft] def filteredNprobe(spark: SparkSession, sfDir: String,
      pred: Column, tag: String, perStratum: Boolean = false): Int = {
    val emb = Tables.embeddings(spark, sfDir)
    val predSql = predSqlOf(pred)
    val (ids, unit) =
      if (perStratum) ivfModelStratum(emb, pred, tag, predSql)
      else ivfModelOf(emb)
    calibratedNprobe(
      calibrationPairsFilteredCached(emb, emb.filter(pred), tag, predSql),
      unit, ids)
  }

  /** Probe-budget diag for the stratum-vs-corpus-wide comparison (round
    * 16): (k, nprobe, touchedRowsPerQuery) per model on the same
    * stratum — the numbers RECALL_r{N}'s two range rows are read
    * against.
    */
  private[graft] def rangeBudgetDiag(spark: SparkSession, sfDir: String)
      : String = {
    val emb = Tables.embeddings(spark, sfDir)
    val n = corpusSize(emb)
    val pred = filterPredRange(n)
    val ns = stratumCountCached(emb, pred, "range")
    val (cIds, _) = ivfModelOf(emb)
    val (sIds, _) = ivfModelStratum(emb, pred, "range", predSqlOf(pred))
    val npC = filteredNprobe(spark, sfDir, pred, "range")
    val npS = filteredNprobe(spark, sfDir, pred, "range", perStratum = true)
    val touchedC = npC.toLong * ((ns + cIds.length - 1) / cIds.length)
    val touchedS = npS.toLong * ((ns + sIds.length - 1) / sIds.length)
    s"""{"n":$n,"stratum":$ns,"kCorpus":${cIds.length},"kStratum":${sIds.length},""" +
      s""""nprobeCorpus":$npC,"nprobeStratum":$npS,""" +
      s""""touchedCorpus":$touchedC,"touchedStratum":$touchedS}"""
  }

  private def predSqlOf(pred: Column): String =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(pred).sql

  /** Training-sample ceiling for the driver-side fit: 131,072 rows × 64
    * floats ≈ 33 MB — a bounded driver read (same policy class as footer
    * counts and the dd_clusters convergence reads). Below the cap the
    * sample targets ~64 points per centroid.
    */
  private val KmeansSampleCap = 131072L
  private val KmeansIters = 5

  /** Driver-side spherical k-means (cosine distance ≡ argmax dot on unit
    * vectors): seeded init from the sample, Lloyd assignment parallelized
    * across driver cores, centroid SUMS accumulated sequentially in
    * point-index order so every double adds in a fixed order — the fitted
    * centroids are bit-identical regardless of executor count, partitioning,
    * or thread schedule (the cross-mode fingerprint gate depends on this).
    */
  private def sphericalKmeans(points: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    val n = points.length
    val dim = points(0).length
    val unit = points.map { p =>
      val nrm = math.sqrt(p.map(x => x * x).sum)
      if (nrm == 0.0) p else p.map(_ / nrm)
    }
    // Seeded init: k distinct sample points by shuffled index.
    val rnd = new scala.util.Random(42)
    val order = rnd.shuffle((0 until n).toVector)
    var cents = order.take(k).map(i => unit(i).clone).toArray
    val assign = new Array[Int](n)
    for (_ <- 0 until KmeansIters) {
      // Assignment: embarrassingly parallel, writes disjoint slots —
      // deterministic under any thread schedule.
      java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
        val p = unit(i)
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          val ce = cents(c)
          var d = 0.0; var j = 0
          while (j < dim) { d += p(j) * ce(j); j += 1 }
          if (d > bestDot) { best = c; bestDot = d } // ties → lowest c (ascending scan)
          c += 1
        }
        assign(i) = best
      }
      // Update: sequential index-order accumulation (determinism), then
      // re-normalize; empty clusters keep their previous centroid.
      val sums = Array.fill(cents.length, dim)(0.0)
      val counts = new Array[Long](cents.length)
      var i = 0
      while (i < n) {
        val c = assign(i); val p = unit(i); val s = sums(c)
        var j = 0
        while (j < dim) { s(j) += p(j); j += 1 }
        counts(c) += 1; i += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0L) cents(c)
        else {
          val s = sums(c)
          val nrm = math.sqrt(s.map(x => x * x).sum)
          if (nrm == 0.0) cents(c) else s.map(_ / nrm)
        }
      }.toArray
    }
    cents
  }

  /** ann_ivf_kmeans — IVF with TRAINED coarse centroids: spherical
    * k-means (cosine, fixed seed, 5 Lloyd iterations) fitted ON THE
    * DRIVER over a bounded hash-strided sample (~64 points per centroid,
    * ≤ KmeansSampleCap rows ≈ 33 MB — a bounded driver read under the
    * engine's existing driver-read policy). Round 7's cross-mode gate
    * showed the previous distributed MLlib fit was the ONE design that
    * got slower on real executors (1.38 → 4.83 s warm: ~12 iterative
    * k-means|| + Lloyd jobs, each paying separate-JVM stage scheduling
    * and centroid broadcast round-trips, to fit what is only ever a
    * √N-row model). Driver fit costs ONE bounded collect job; the O(N·k)
    * corpus-to-cell assignment — the part that must scale — stays fully
    * distributed (assignedCells). At 100 TB the model trains once per
    * ingest and is reused; including the build here keeps the bench
    * honest. Sampling is content-deterministic (id-hash stride, the
    * ann_ivf pattern) and the collect is sorted by vec_id, so the fitted
    * centroids — and hence the query output — are identical across
    * local[32] and multi-JVM cluster mode.
    */
  def annIvfKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.embeddings(spark, sfDir)
    val (ids, unit) = kmeansModelOf(raw)
    val assigned = assignedCells(normed(raw), unit, ids)
    val nprobe = calibratedNprobe(calibrationPairsCached(raw), unit, ids)
    searchCells(probedCells(queries(raw), unit, ids, nprobe), assigned)
  }

  /** The trained ("kmeans" slot) coarse model — factored out of
    * [[annIvfKmeans]] so the oracle generator inlines the identical
    * frozen centroid matrix (cell ids are centroid indices 0..k-1).
    */
  private def kmeansModelOf(raw: DataFrame): (Array[Long], Array[Double]) = {
    val n = corpusSize(raw)
    val k = centroidCount(n)
    val target = math.min(64L * k, KmeansSampleCap)
    val stride = math.max(1L, n / target)
    centModelCached("kmeans", raw) {
      val sample = raw
        .filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
        .select(col("vec_id"), col("embedding"))
        .collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Float](1).toArray.map(_.toDouble))
      require(sample.nonEmpty,
        s"ann_ivf_kmeans: empty training sample (corpus n=$n, stride=$stride)")
      val kEff = math.min(k, sample.length)
      val fitted = sphericalKmeans(sample, kEff)
      // The fitted centroids are already unit-normalized doubles on the
      // driver — flatten straight into the expression matrix (cell id =
      // centroid index); same per-row assignment path as ann_ivf (cosine
      // argmax ≡ k-means cosine-distance predict), CellReplicas-way.
      val flat = new Array[Double](kEff * Dim)
      fitted.zipWithIndex.foreach { case (v, c) =>
        System.arraycopy(v, 0, flat, c * Dim, math.min(v.length, Dim))
      }
      (Array.tabulate(kEff)(_.toLong), flat)
    }
  }

  /** ann_ivf_pq — IVF coarse search + product-quantized scan + exact
    * re-rank: the billion-scale ANN layout (Jégou/Douze/Schmid, TPAMI
    * 2011; the FAISS IVFPQ default). The 100 TB argument: ann_ivf's
    * posting lists carry raw vectors — `N·dim·4` bytes that stay 100 TB
    * however they are partitioned — while PQ codes the corpus side down
    * to `m` bytes per vector (8 here: **32× scan-side compression**), so
    * the per-cell scan state is id + cell + 8 bytes and a 100 TB corpus'
    * index fits a fleet's memory. Raw vectors are touched only by the
    * bounded re-rank shortlist (|Q| · calibrated-depth rows, capped at
    * PqShortlistCap).
    *
    * Stages: (1) per-subspace codebooks trained ON THE DRIVER over the
    * bounded hash-strided sample (k-means per subspace, seeded, sums in
    * index order — bit-deterministic like sphericalKmeans), cached per
    * corpus like every other index model; (2) corpus assigned to IVF
    * cells AND encoded in one projection — both are per-row codegen
    * expressions, zero shuffles added; (3) probe join ranks candidates
    * by the asymmetric dot (query × code reconstruction, [[PqAdcDot]]),
    * TopKAgg keeps a CALIBRATED shortlist per query (bounded aggregate,
    * never a window — depth measured per build from where true
    * neighbors actually rank under ADC, see [[calibratedPqShortlist]]);
    * (4) the shortlist re-ranks by EXACT cosine against the raw
    * vectors. Approximate → rows-only driver check; recall rides the
    * same RecallProbe curve as the other ANN paths, and the PQ stage
    * can only lose recall the calibrated shortlist doesn't buy back —
    * SimilaritySpec pins the floor.
    */
  private val PqM = 8
  private val PqKsubMax = 256
  private val PqSubDim = 8 // Dim / PqM
  private val PqSampleCap = 32768L
  private val PqRefine = 4

  private val pqCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Int, Array[Double])]()

  /** Per-corpus PQ codebooks: [m][ksub][subDim] row-major, trained over
    * unit-normalized samples (direction-only quantization — the cosine
    * corpus side carries no magnitude). ksub adapts to min(256, sample)
    * so tiny corpora stay well-defined; byte codes bound ksub ≤ 256.
    */
  private[queries] def pqBooksCached(emb: DataFrame, n: Long): (Int, Array[Double]) =
    cachedOrBuild(pqCache, corpusKey(emb)) {
      val stride = math.max(1L, n / PqSampleCap)
      val rows = emb.filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
        .select(col("vec_id"), col("embedding"))
        .collect()
        .sortBy(_.getLong(0))
      // ≥2: ksub = min(256, sample) must satisfy the codec's ksub ≥ 2
      // shape bound — a 1-row sample would otherwise surface as a
      // misleading "pq shape out of range" from PqCodegen.checkBooks.
      require(rows.length >= 2,
        s"ann_ivf_pq: training sample too small (${rows.length} row(s), " +
          s"corpus n=$n) - PQ needs at least 2 sampled vectors")
      val unitPts = rows.map { r =>
        val v = r.getSeq[Float](1).toArray.map(_.toDouble)
        val nrm = math.sqrt(v.map(x => x * x).sum)
        if (nrm == 0.0) v else v.map(_ / nrm)
      }
      val ksub = math.min(PqKsubMax, unitPts.length)
      val books = new Array[Double](PqM * ksub * PqSubDim)
      for (s <- 0 until PqM) {
        val slices = unitPts.map(_.slice(s * PqSubDim, (s + 1) * PqSubDim))
        val cents = pqKmeans(slices, ksub, PqSubDim, s)
        System.arraycopy(cents, 0, books, s * ksub * PqSubDim, ksub * PqSubDim)
      }
      (ksub, books)
    }

  /** Plain (Euclidean) k-means for one PQ subspace, driver-side: the
    * sphericalKmeans discipline — seeded shuffled-index init, parallel
    * assignment into disjoint slots, SEQUENTIAL index-order sum
    * accumulation, empty clusters keep their previous centroid — so the
    * fitted codebook is bit-identical across modes and thread schedules.
    */
  private def pqKmeans(points: Array[Array[Double]], k: Int,
      subDim: Int, seedOffset: Int): Array[Double] = {
    val n = points.length
    val rnd = new scala.util.Random(4242 + seedOffset)
    val order = rnd.shuffle((0 until n).toVector)
    var cents = order.take(k).map(i => points(i).clone).toArray
    val assign = new Array[Int](n)
    for (_ <- 0 until KmeansIters) {
      java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
        val p = points(i)
        var best = 0; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < cents.length) {
          val ce = cents(c)
          var d = 0.0; var t = 0
          while (t < subDim) { val diff = p(t) - ce(t); d += diff * diff; t += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(i) = best
      }
      val sums = Array.fill(cents.length, subDim)(0.0)
      val counts = new Array[Long](cents.length)
      var i = 0
      while (i < n) {
        val c = assign(i); val p = points(i); val s = sums(c)
        var t = 0
        while (t < subDim) { s(t) += p(t); t += 1 }
        counts(c) += 1; i += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0L) cents(c) else sums(c).map(_ / counts(c))
      }.toArray
    }
    val flat = new Array[Double](k * subDim)
    cents.zipWithIndex.foreach { case (ce, c) =>
      System.arraycopy(ce, 0, flat, c * subDim, subDim)
    }
    flat
  }

  /** Hard ceiling for the calibrated ADC shortlist: bounds the refine
    * join at |Q|·cap rows whatever the corpus' tie structure does.
    */
  private val PqShortlistCap = 4096

  private val pqShortCache = new java.util.concurrent.ConcurrentHashMap[
    String, Integer]()

  /** Driver-side mirror of [[graft.functions.PqEncode]] — identical
    * arithmetic (normalize, per-subspace nearest entry, strict-< tie
    * toward the lower index) — used only to stamp calibration thresholds.
    */
  private def pqEncodeLocal(v: Array[Double], books: Array[Double],
      ksub: Int): Array[Int] = {
    val dim = PqM * PqSubDim
    val n = math.min(dim, v.length)
    val u = new Array[Double](dim)
    var s2 = 0.0
    var i = 0
    while (i < n) { u(i) = v(i); s2 += v(i) * v(i); i += 1 }
    val inv = if (s2 == 0.0) 1.0 else 1.0 / math.sqrt(s2)
    i = 0
    while (i < n) { u(i) *= inv; i += 1 }
    Array.tabulate(PqM) { s =>
      var bestJ = 0
      var bestD = Double.PositiveInfinity
      var j = 0
      while (j < ksub) {
        val off = (s * ksub + j) * PqSubDim
        var d = 0.0
        var t = 0
        while (t < PqSubDim) {
          val diff = u(s * PqSubDim + t) - books(off + t); d += diff * diff; t += 1
        }
        if (d < bestD) { bestD = d; bestJ = j }
        j += 1
      }
      bestJ
    }
  }

  /** Driver-side mirror of [[graft.functions.PqAdcDot]]. */
  private def pqAdcLocal(q: Array[Double], code: Array[Int],
      books: Array[Double], ksub: Int): Double = {
    var acc = 0.0
    var s = 0
    while (s < PqM) {
      val off = (s * ksub + code(s)) * PqSubDim
      var t = 0
      while (t < PqSubDim) {
        val qi = s * PqSubDim + t
        if (qi < q.length) acc += q(qi) * books(off + t)
        t += 1
      }
      s += 1
    }
    acc
  }

  /** Calibrated ADC shortlist depth — the round-10 calibration
    * discipline applied to the PQ stage, after RECALL_r11's first
    * capture measured the fixed K·PqRefine=20 shortlist decaying
    * 0.77 → 0.55 → 0.41 across 1×/3×/10× (and the replica-staged
    * corpora encode MANY vectors to the SAME 8-byte code, so the true
    * neighbor's ADC score is tied by whole cohorts and id tie-breaking
    * can seat it arbitrarily deep). For each calibration pair, COUNT the
    * corpus vectors whose ADC ties-or-beats the true neighbor's — the
    * worst-case shortlist position a tie-break can deal it; the
    * shortlist is the MAX of those counts ×1.2 (see the in-body note on
    * why not a quantile), clamped to [K·PqRefine, PqShortlistCap].
    * Cost: one corpus pass ×
    * |pairs| ADC evals (the exact-calibration cost class), one bounded
    * ≤|pairs|-row collect, cached per corpus like every index-build
    * product; the threshold rows are stamped driver-side by the local
    * codec mirrors so no raw neighbor vectors ride the plan.
    */
  private[queries] def calibratedPqShortlist(emb: DataFrame, books: Array[Double],
      ksub: Int, pairs: Array[(Array[Double], Array[Double])]): Int = {
    if (pairs.isEmpty) return K * PqRefine
    cachedOrBuild(pqShortCache, corpusKey(emb))(Integer.valueOf {
      val spark = emb.sparkSession
      import spark.implicits._
      val thrDf = pairs.zipWithIndex.map { case ((qe, ve), i) =>
        (i, qe.toSeq, pqAdcLocal(qe, pqEncodeLocal(ve, books, ksub), books, ksub))
      }.toSeq.toDF("cq", "cq_emb", "thr")
      val codes = emb.select(graft.functions.PqCodes.pqEncode(col("embedding"),
        books, PqM, ksub, PqSubDim).as("code"))
      // Constant ≤64-row broadcast against the code stream — the same
      // bounded-probe shape as the exact calibration pass.
      val counts = codes.join(broadcast(thrDf),
          graft.functions.PqCodes.pqAdcDot(col("code"), col("cq_emb"),
            books, PqM, ksub, PqSubDim) >= col("thr"))
        .groupBy(col("cq")).agg(count(lit(1)).as("c"))
        .collect().map(_.getLong(1)).sorted
      // MAX over the calibration pairs, not the RecallTarget quantile:
      // end-to-end recall is the PRODUCT of the cell stage (calibrated
      // to the 0.95 quantile) and this stage, so a quantile here
      // compounds to ~0.90 (measured: 0.92 at the 10× replica staging
      // with the 0.95-quantile depth of 441). The refine join is
      // second-order cheap — |Q|·S exact dots vs the ADC scan's
      // corpus-fraction — so the calibrator spends coverage here:
      // depth = max observed count ×1.2, the cap the only bound.
      val margin = math.ceil(counts.last * 1.2).toInt
      math.min(PqShortlistCap, math.max(K * PqRefine, margin))
    }).intValue()
  }

  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val n = corpusSize(emb)
    val (ids, unit) = ivfModelOf(emb)
    val (ksub, books) = pqBooksCached(emb, n)
    val pairs = calibrationPairsCached(emb)
    val shortK = calibratedPqShortlist(emb, books, ksub, pairs)
    val nprobe = calibratedNprobe(pairs, unit, ids)
    // IVF cell assignment AND PQ encode in one projection of the corpus.
    val codes = normed(emb).select(
      explode(graft.functions.NearestCells.nearestCells(
        col("embedding"), unit, ids, ids.length, Dim, CellReplicas)).as("cell"),
      col("vec_id"),
      graft.functions.PqCodes.pqEncode(col("embedding"), books,
        PqM, ksub, PqSubDim).as("code"))
    val q = queries(emb)
    val probed = probedCells(q, unit, ids, nprobe)
    // ADC scan: rank candidates from the code alone (a per-query positive
    // scale can't change a ranking, so the raw query needs no normalize).
    // Codes are the stream side of the ADC join and arrive as one split
    // (the single-split embeddings scan) — the whole |Q|·nprobe·postings
    // ADC scan plus the shortlist partial top-k ran in ONE task
    // (JobBreakdown: 881 ms of the 1.63 s wall). Same spread as
    // searchCells.
    val scored = broadcast(probed).join(Dedup.spreadVecSource(codes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", graft.functions.PqCodes.pqAdcDot(
        col("code"), col("q_emb"), books, PqM, ksub, PqSubDim))
    val shortlist = scored.groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topk(col("vec_id"), col("adc"),
        shortK).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("vec_id"))
    val e = normed(emb)
    // Exact re-rank: only |Q|·shortK raw vectors are ever fetched. The
    // shortlist broadcast carries two longs per row (≤ |Q|·cap ≈ 64 MB
    // at the 4096 ceiling); q_emb re-attaches AFTER the corpus fetch via
    // the separate ≤MaxQueries-row query broadcast — joining q into the
    // shortlist first would duplicate each 64-float query vector into
    // every one of its shortK rows and inflate that broadcast shortK-fold.
    val refined = e.join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cs_raw", pairCosine)
    rankTopK(refined)
  }

  /** ann_lsh — random-hyperplane LSH ANN: L tables × B sign bits, B grown
    * with the corpus (B = log₂(N/targetBucketSize), clamped) so bucket
    * occupancy stays near `TargetBucket` as N scales — the round-1 version
    * fixed B=5, which meant N/32 vectors per bucket at any scale. Narrower
    * buckets cost recall; multiprobe buys it back — and since a true
    * neighbor's expected signature hamming distance grows LINEARLY in B,
    * the (tables, probe depth) pair is calibrated per build from where the
    * calibration stratum's true neighbors actually land ([[calibratedLsh]])
    * rather than fixed. At scale the bucket id is a partition key: a query
    * touches L·probes(B,d) buckets of ~TargetBucket vectors each,
    * independent of corpus size. Approximate → rows-only + recall spec.
    */
  private val MaxLshTables = 16
  private val TargetBucket = 16
  private val Dim = 64
  private val MaxLshBits = 20

  private def lshBits(n: Long): Int =
    graft.functions.HyperplaneSigs.bitsFor(n, TargetBucket, MaxLshBits)

  /** Seeded-deterministic hyperplanes, drawn at the max (tables, bits);
    * a run using (L, B) takes the first L tables / first B planes, so
    * signatures are prefixes of each other across corpus sizes and
    * calibration choices (tables fill sequentially from one seeded
    * stream, so the first 8 tables are bit-identical to the round-8
    * 8-table tensor).
    */
  private lazy val hyperplanes: Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(1234)
    Array.fill(MaxLshTables, MaxLshBits, Dim)(rnd.nextGaussian())
  }

  /** Driver-side signature replica for table t — same planes and sign
    * convention as the [[graft.functions.HyperplaneSigs]] expression.
    * Used only for hamming distances between calibration pairs, so the
    * zero-dot edge convention is immaterial (both sides use this one).
    */
  private def sigOf(v: Array[Double], t: Int, bits: Int): Int = {
    val n = math.min(v.length, Dim)
    var acc = 0
    var b = 0
    while (b < bits) {
      val pl = hyperplanes(t)(b)
      var s = 0.0
      var i = 0
      while (i < n) { s += pl(i) * v(i); i += 1 }
      if (s > 0) acc |= (1 << b)
      b += 1
    }
    acc
  }

  /** Calibrated (tables, depth): the cheapest configuration — by modeled
    * candidate count L · Σ_{i≤d} C(B,i) · TargetBucket — whose empirical
    * calibration recall (neighbor within hamming ≤ d of the query in ≥ 1
    * of the first L tables) meets RecallTarget. The probe-key broadcast
    * is capped at 8M slim rows; if no in-cap configuration reaches the
    * target, the best-recall one is used (approaching the corpus scan
    * the target actually demands is the dispatcher's job, not a silent
    * recall cut). Deterministic: seeded planes, exact calibration pairs.
    */
  private[queries] def calibratedLsh(pairs: Array[(Array[Double], Array[Double])],
      bits: Int): (Int, Int) = {
    if (pairs.isEmpty) return (8, 2)
    val hams: Array[Array[Int]] = pairs.map { case (q, v) =>
      Array.tabulate(MaxLshTables)(t =>
        Integer.bitCount(sigOf(q, t, bits) ^ sigOf(v, t, bits)))
    }
    def probesPerTable(d: Int): Long = {
      var sum = 1L
      var choose = 1L
      for (i <- 1 to d) { choose = choose * (bits - i + 1) / i; sum += choose }
      sum
    }
    val configs = for {
      d <- 1 to 3
      l <- 1 to MaxLshTables
      if MaxQueries.toLong * l * probesPerTable(d) <= 8L * 1000 * 1000
    } yield {
      val hit = hams.count(h => h.take(l).exists(_ <= d))
      (hit.toDouble / hams.length, l * probesPerTable(d) * TargetBucket, l, d)
    }
    // +0.02 sampling margin over the target (like calibratedNprobe's
    // 1.2× rank margin): a ~320-pair empirical recall has σ ≈ 0.012, so
    // a config sitting exactly AT the target on the calibration stratum
    // lands under it out-of-sample about half the time.
    val ok = configs.filter(_._1 >= math.min(1.0, RecallTarget + 0.02))
    val chosen =
      if (ok.nonEmpty) ok.minBy(c => (c._2, c._4.toLong, c._3.toLong))
      else configs.maxBy(c => (c._1, -c._2))
    (chosen._3, chosen._4)
  }

  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val n = corpusSize(emb)
    val bits = lshBits(n)
    val (tables, depth) = calibratedLsh(calibrationPairsCached(emb), bits)
    val e = normed(emb)
    // All `tables` bucket ids in ONE custom codegen expression (tight
    // loop over a referenced plane matrix; constant generated source →
    // janino compiles once per JVM) — see HyperplaneSigs for why the
    // per-plane column-forest formulation is a compile-time trap.
    val flat = graft.functions.HyperplaneSigs.flatten(hyperplanes, tables, bits, Dim)
    def sig(emb: Column): Column =
      graft.functions.HyperplaneSigs.sigs(emb, flat, tables, bits, Dim)
    val keyed = e.select(col("vec_id"), col("embedding"), col("nrm"),
      posexplode(sig(col("embedding"))).as(Seq("tbl", "bkt")))
    // Query side: all probe keys within hamming ≤ `depth` of the
    // signature, per table, from ONE codegen expression (ProbeBuckets —
    // generated loops, not a per-key column forest). The (tables, depth)
    // pair comes from the build-time calibration above: a fixed depth
    // CANNOT keep recall flat as B grows with the corpus (RECALL_r10
    // measured hamming-2 probing decaying 0.995 → 0.935 → 0.845 across a
    // 1×/3×/10× curve — a neighbor's expected hamming distance is
    // B·(1−p), linear in B). The probe rows are SLIM — (q_id, tbl, bkt)
    // only — so the probe broadcast is ≤ MaxQueries · L · probes(B,d)
    // rows of three ints (capped at 8M keys in calibratedLsh), and the
    // query embeddings ride a separate ≤ MaxQueries-row broadcast joined
    // back by q_id AFTER candidate generation (carrying the 64-float
    // vector on every probe row would multiply the broadcast by the
    // probe fan-out).
    val q = queries(emb)
      .withColumn("sig", sig(col("q_emb")))
    val probes = q
      .select(col("q_id"),
        explode(graft.functions.HyperplaneSigs.probeBuckets(
          col("sig"), tables, bits, depth)).as("tk"))
      .select(col("q_id"),
        shiftright(col("tk"), 32).cast("int").as("tbl"),
        col("tk").bitwiseAND(lit(0xFFFFFFFFL)).cast("int").as("bkt"))
    val qEmbs = q.select(col("q_id"), col("q_emb"), col("q_nrm"))
    // No distinct() needed: TopKAgg dedupes multi-table collisions by id
    // inside the bounded buffer (identical cs per duplicate). The
    // corpus-derived `keyed` side streams through the hash join.
    rankTopK(
      broadcast(probes).join(keyed, Seq("tbl", "bkt"))
        .filter(col("vec_id") =!= col("q_id"))
        .join(broadcast(qEmbs), Seq("q_id"))
        .withColumn("cs_raw", pairCosine))
  }

  // --- IVF index append lifecycle ------------------------------------------

  /** The append lifecycle's batch split over `embeddings`: seed = ~80% of
    * vectors, B1/B2 ~10% each — disjoint residue classes, the same stable
    * split device as the delta-dedup chains (Dedup.embedChainB1/B2).
    */
  private[graft] def ivfAppendIsB1(c: Column): Column = c % 10 === 1
  private[graft] def ivfAppendIsB2(c: Column): Column = c % 10 === 6
  private[graft] def ivfAppendIsOld(c: Column): Column =
    !(ivfAppendIsB1(c) || ivfAppendIsB2(c))

  private def ivfCentsPath(dir: String): String = s"$dir/ivf_cents.parquet"
  private def ivfIndexPath(dir: String): String = s"$dir/ivf_index.parquet"

  /** Seed the staged IVF index from the OLD corpus alone: the ann_ivf
    * hash-strided quantizer (k ≈ √N_old) written out as frozen index
    * METADATA, plus the old vectors' inverted file — (cell, vec_id,
    * embedding, nrm) posting rows under CellReplicas-way multi-assignment.
    * Freezing the quantizer is the load-bearing design point, exactly like
    * the delta-embed chain's frozen LshPlan (Dedup.seedEmbedDeltaIndex):
    * re-sampling centroids on the grown corpus would re-key every staged
    * posting list, so the coarse quantizer versions with the index and
    * only the PROBE DEPTH adapts to growth (re-calibrated per search
    * against the current corpus — the fixed-parameter-decay lesson applied
    * to the index-staleness axis).
    */
  private[graft] def seedIvfIndex(spark: SparkSession, emb: DataFrame,
      isOld: Column => Column, stagingDir: String): Unit = {
    val old = emb.filter(isOld(col("vec_id")))
    val nOld = old.count()
    val k = centroidCount(nOld)
    val stride = math.max(1L, nOld / k)
    old.filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
      .select(col("vec_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(ivfCentsPath(stagingDir))
    val (ids, unit) = stagedCents(spark, emb, stagingDir)
    assignedCells(normed(old), unit, ids)
      .write.mode("overwrite").parquet(ivfIndexPath(stagingDir))
  }

  /** The frozen quantizer read back from the staged metadata — a bounded
    * ~√N_old-row collect, cached per corpus identity (the cents are
    * content-deterministic per corpus + split, so a hit is byte-identical;
    * same argument as centModelCached).
    */
  private def stagedCents(spark: SparkSession, emb: DataFrame,
      stagingDir: String): (Array[Long], Array[Double]) =
    centModelCached("ivf_append", emb)(
      collectUnitCents(spark.read.parquet(ivfCentsPath(stagingDir))))

  /** Batch assignment under the frozen quantizer — the rows one append
    * step writes. Exposed for the lifecycle spec: the plan reads ONLY the
    * batch stratum (residue filter at the scan) and contains no centroid
    * derivation from the old corpus.
    */
  private[graft] def ivfAppendAssignments(spark: SparkSession, emb: DataFrame,
      isBatch: Column => Column, stagingDir: String): DataFrame = {
    val (ids, unit) = stagedCents(spark, emb, stagingDir)
    assignedCells(normed(emb.filter(isBatch(col("vec_id")))), unit, ids)
  }

  /** One append step: assign ONLY the batch under the frozen quantizer,
    * append its posting rows to the staged inverted file. No old vector
    * is re-read, re-assigned, or re-written — the step's work is
    * O(|batch| · k), independent of the accumulated index size.
    */
  private[queries] def ivfAppendStep(spark: SparkSession, emb: DataFrame,
      isBatch: Column => Column, stagingDir: String): Unit =
    ivfAppendAssignments(spark, emb, isBatch, stagingDir)
      .write.mode("append").parquet(ivfIndexPath(stagingDir))

  /** ann_ivf_append — the ANN-side multi-batch ingest lifecycle (the
    * dd_delta_chain question asked of a vector index): seed an IVF index
    * from the old ~80% of the corpus, append two ~10% batches WITHOUT
    * re-clustering (each batch only assigns itself under the frozen
    * quantizer), then serve the query batch over the staged index.
    *
    * What adapts vs what freezes: the coarse centroids freeze at seed
    * time (k ≈ √N_old — at two appended batches the fresh-index k would
    * be ~11% larger and every cell ~11% fuller), while nprobe is
    * re-calibrated at search time against the CURRENT corpus under the
    * frozen quantizer — so quantizer staleness surfaces as a measured
    * probe-depth increase (the recall contract's cost), never as silent
    * recall loss. SimilaritySpec floors recall@5 against the exact brute
    * force AND against the fresh re-clustered index (ann_ivf on the same
    * grown corpus); RecallProbe reports both per scale point, making
    * append-vs-recluster drift a committed curve rather than an argument.
    *
    * Approximate by construction → rows-only in the driver gate, like the
    * rest of the IVF family. Staging is scoped to the call
    * ([[graft.sources.Staging.scoped]]: idempotent under re-runs and
    * cross-mode fingerprinting — the delta-chain convention).
    */
  def annIvfAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    graft.sources.Staging.scoped("graft_ivf_append") { dir =>
      seedIvfIndex(spark, emb, ivfAppendIsOld, dir)
      ivfAppendStep(spark, emb, ivfAppendIsB1, dir)
      ivfAppendStep(spark, emb, ivfAppendIsB2, dir)
      val (ids, unit) = stagedCents(spark, emb, dir)
      val nprobe = calibratedNprobe(calibrationPairsCached(emb), unit, ids)
      val probed = probedCells(queries(emb), unit, ids, nprobe)
      searchCells(probed, spark.read.parquet(ivfIndexPath(dir)))
    }
  }

  // --- Staged IVF serving index (round 19, VERDICT r18 #1) -------------------
  //
  // The last materialize-once gap: every ann_ivf execution re-ran the
  // N·√N centroid-assignment pass and (on a fresh JVM) the 64×N
  // calibration scan, while ann_ivf_append already persisted exactly the
  // needed postings product and both signature families had proven the
  // sign-once/serve-every-pass crossover (R* = 1 twice, STAGED_r18 /
  // EMBEDSTAGED_r18). stageIvfIndex is the corpus-ingest step — centroid
  // source rows, the full inverted file, and the calibrated probe depth,
  // persisted next to a provenance manifest — and sharedIvfServing is
  // the ONE dispatch site, the sharedBasis/sharedEmbedSigs discipline
  // applied to the vector index. Reference discipline: materialize the
  // shuffle product once, read it many times (mr/worker.go:86-124).

  private def ivfServeCentsPath(dir: String): String = s"$dir/ivf_cents.parquet"
  private def ivfServePostingsPath(dir: String): String =
    s"$dir/ivf_postings.parquet"

  /** The staged index's fence IDENTITY — every field must match at
    * dispatch time: corpus CONTENT (MD5 of the file-metadata corpus key,
    * so in-place regeneration invalidates), quantizer CONSTRUCTION, and
    * the index/calibration parameters the persisted artifacts were built
    * under. k and nprobe are deliberately NOT identity fields: both
    * derive deterministically from the fenced corpus content + these
    * parameters, so they ride the manifest as SERVED values instead
    * (re-deriving k would cost a count job on the serve path, and
    * re-deriving nprobe the whole 64×N calibration scan staging exists
    * to hoist).
    */
  private def ivfManifestFields(emb: DataFrame): Seq[(String, Any)] = Seq(
    "corpusFp" -> CorpusCaches.corpusFpMd5(emb),
    "quantizer" -> "hash-strided-ivf",
    "dim" -> Dim, "cellReplicas" -> CellReplicas,
    "topK" -> K, "calQueries" -> CalQueries,
    "recallTargetPct" -> math.round(RecallTarget * 100).toInt)

  /** Corpus-ingest staging step for the IVF family: persist the centroid
    * SOURCE rows (the exact hash-strided select [[ivfModelOf]] collects —
    * √N rows, read back through the same collectUnitCents so the served
    * model is bit-identical to a recompute), the full inverted file
    * (assignedCells' (cell, vec_id, embedding, nrm) posting rows under
    * CellReplicas-way multi-assignment), and the calibrated probe depth,
    * plus the provenance manifest. Hadoop-FS/Spark writers throughout —
    * the staging dir lands in whatever store the session talks to.
    * Refuses a corpus with no file lineage (identity unprovable — the
    * stageEmbedSigs rule).
    */
  def stageIvfIndex(spark: SparkSession, sfDir: String,
      stagingDir: String): String = {
    val emb = Tables.embeddings(spark, sfDir)
    val fp = CorpusCaches.corpusFpMd5(emb)
    require(fp.nonEmpty,
      "cannot stage an IVF index for a corpus with no file lineage - " +
        "the provenance fence would have no identity to verify")
    val n = corpusSize(emb)
    val stride = math.max(1L, n / centroidCount(n))
    emb.filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
      .select(col("vec_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(ivfServeCentsPath(stagingDir))
    val (ids, unit) = ivfModelOf(emb)
    assignedCells(normed(emb), unit, ids)
      .write.mode("overwrite").parquet(ivfServePostingsPath(stagingDir))
    val nprobe = calibratedNprobe(calibrationPairsCached(emb), unit, ids)
    graft.sources.Manifest.write(spark.sparkContext.hadoopConfiguration,
      stagingDir, "ivf_meta.json",
      ivfManifestFields(emb) ++ Seq("k" -> ids.length, "nprobe" -> nprobe))
    stagingDir
  }

  /** The IVF family's serving components behind the ONE dispatch site:
    * staged postings + centroids + calibrated nprobe when the caller
    * names a staging whose provenance matches this corpus; the
    * historical recompute arm otherwise. The fence: both tables
    * committed and `ivf_meta.json` matching this corpus. A stale or
    * foreign staging degrades to recompute — slower, never wrong. The
    * staged centroid model shares the in-process "ivf" cache slot with
    * the recompute arm (both are the identical sorted collect, so a hit
    * from either side is byte-identical and every downstream fingerprint
    * — including the dynamic-oracle generator's inlined matrix — is
    * unchanged).
    */
  private[queries] final case class IvfServing(ids: Array[Long],
      unit: Array[Double], assigned: DataFrame, nprobe: Int)

  private[queries] def sharedIvfServing(spark: SparkSession,
      emb: DataFrame, staging: Option[String]): IvfServing =
    staging.flatMap { dir =>
      graft.sources.Manifest.lookup(spark.sparkContext.hadoopConfiguration,
        dir, "ivf_meta.json", Seq(ivfServeCentsPath(dir), ivfServePostingsPath(dir)),
        ivfManifestFields(emb), Seq("nprobe")).map(m => (dir, m("nprobe").toInt))
    } match {
      case Some((dir, nprobe)) =>
        val (ids, unit) = centModelCached("ivf", emb)(
          collectUnitCents(spark.read.parquet(ivfServeCentsPath(dir))))
        IvfServing(ids, unit,
          spark.read.parquet(ivfServePostingsPath(dir)), nprobe)
      case None =>
        val (ids, unit) = ivfModelOf(emb)
        IvfServing(ids, unit, assignedCells(normed(emb), unit, ids),
          calibratedNprobe(calibrationPairsCached(emb), unit, ids))
    }

  /** The recompute arm's posting relation alone — the assignment
    * subtree the staged index hoists to ingest, exposed for the
    * IVFSTAGED crossover probe (the signRecompute analogue).
    */
  private[queries] def ivfAssignRelation(spark: SparkSession,
      sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val (ids, unit) = ivfModelOf(emb)
    assignedCells(normed(emb), unit, ids)
  }

  /** ann_ivf_staged — the IVF deployment form INSIDE the correctness
    * gate (the dd_minhash_staged promotion pattern): stage the serving
    * index to a directory scoped to this call, pass it to the dispatch,
    * and run ann_ivf's own plan off the staged artifacts. Same dynamic DuckDB
    * oracle as ann_ivf — staged ≡ recompute re-proven by
    * rows+schema+hash every round, not only by IvfStagedSpec. The entry
    * pays a full re-stage per execution by design (the bench prices the
    * ingest step honestly); the pure serve path's cost is the IVFSTAGED
    * probe's stagedRead/lap terms.
    */
  def annIvfStagedEntry(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Staging.scoped("graft_ivf_staged") { staging =>
      stageIvfIndex(spark, sfDir, staging)
      annIvfWith(spark, sfDir, Some(staging))
    }

  // -------------------------------------------------------------------
  // Dynamic DuckDB oracles (round 15): full hash-checked correctness
  // rows for the approximate family. The contract split:
  //
  //   * The INDEX ARTIFACTS — coarse centroid matrices, PQ codebooks,
  //     LSH planes, calibrated probe depths — are deterministic per
  //     corpus (seeded fits, sorted collects, measured quantiles; the
  //     cross-mode fingerprint gate has pinned this since round 7) and
  //     are emitted INTO the oracle SQL as literals: the frozen index
  //     restated as data, the same way a real serving system versions
  //     its index artifacts. Their own correctness is covered by the
  //     unit specs (CalibrationSpec, SimilaritySpec) and the recall
  //     floors (RECALL_rN ≥ 0.945).
  //
  //   * Every DISTRIBUTED stage — cell assignment, probe expansion,
  //     candidate generation (including PQ encode + ADC scan and the
  //     LSH hamming-ball membership), shortlisting, exact re-rank,
  //     top-k with tie-breaks — is INDEPENDENTLY RECOMPUTED by DuckDB
  //     from the base parquet + those literals. A defect anywhere in
  //     the engine's search path (NearestCells, HyperplaneSigs,
  //     PqCodes, TopKAgg, the join topology) now fails the driver's
  //     rows+schema+hash gate instead of hiding behind rows-only.
  //
  // Generated per corpus by Verify (the artifacts depend on the data),
  // merged into oracle_sql.json next to the static oracles. Floating-
  // point conventions mirror the engine exactly where the engines'
  // summation orders could differ only at decision boundaries — the
  // same measured-safe ground ann_topk's oracle has stood on since
  // round 2 (distinct random vectors never tie within rounding noise;
  // exact replica ties break by id identically in both engines).
  // -------------------------------------------------------------------

  /** Shortest round-trip decimal for a double — Java's Double.toString,
    * which DuckDB's correctly-rounded parser maps back to the identical
    * bit pattern.
    */
  private def fmtD(d: Double): String = java.lang.Double.toString(d)

  private def vecLit(a: Array[Double], off: Int, len: Int): String =
    (0 until len).map(i => fmtD(a(off + i))).mkString("[", ",", "]")

  /** `VALUES` rows for a centroid model: (cell id, unit centroid). */
  private def centsValues(ids: Array[Long], unit: Array[Double]): String =
    ids.indices.map { c =>
      s"(${ids(c)}, ${vecLit(unit, c * Dim, Dim)}::DOUBLE[])"
    }.mkString(",")

  private def queryPredSql(a: String): String =
    s"$a.vec_id % 50 = 0 AND $a.vec_id < ${MaxQueries * 50L}"

  /** Exact cosine top-K re-rank over a (q_id, vec_id) candidate CTE —
    * the SQL restatement of [[rankTopK]]: rank by (cosine desc, id asc),
    * candidates pre-deduped, output (q_id, neighbor_id, rank, cs).
    */
  private def exactTopKTail(candCte: String): String =
    s"""SELECT q_id, neighbor_id, rank, cs FROM (
       |  SELECT t.q_id, t.vec_id AS neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY t.q_id
       |      ORDER BY list_cosine_similarity(CAST(qq.embedding AS DOUBLE[]),
       |        CAST(ee.embedding AS DOUBLE[])) DESC, t.vec_id) AS INT) AS rank,
       |    round(list_cosine_similarity(CAST(qq.embedding AS DOUBLE[]),
       |      CAST(ee.embedding AS DOUBLE[])), 6) AS cs
       |  FROM $candCte t JOIN embeddings ee ON ee.vec_id = t.vec_id
       |    JOIN embeddings qq ON qq.vec_id = t.q_id) z
       |WHERE rank <= $K""".stripMargin

  /** Exact filtered brute force restated (the ann_topk form with a
    * corpus-side predicate) — the oracle for an auto entry whose
    * dispatch lands on the exact branch at this corpus.
    */
  private def exactOracleSql(corpusPred: String): String =
    s"""SELECT q_id, neighbor_id, rank, cs FROM (
       |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |        CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS INT) AS rank,
       |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |      CAST(e.embedding AS DOUBLE[])), 6) AS cs
       |  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
       |  WHERE ${queryPredSql("q")} AND $corpusPred) t
       |WHERE rank <= $K""".stripMargin

  /** Assignment + probe CTEs shared by every IVF-shaped oracle:
    * CellReplicas-way corpus assignment (argmax-r dot against the unit
    * centroids, ties by cell id asc — NearestCells' comparator), nprobe
    * probe expansion over the bounded query set, hash join on cell.
    * `corpusPred` filters the scan side for the filtered family (the
    * pre-filter semantics, not post-filter).
    */
  private def ivfOracleSql(ids: Array[Long], unit: Array[Double],
      nprobe: Int, corpusPred: Option[String]): String = {
    val predSql = corpusPred.map(p => s"WHERE $p").getOrElse("")
    s"""WITH cents(cid, cvec) AS (VALUES ${centsValues(ids, unit)}),
       |assigned AS (
       |  SELECT cell, vec_id FROM (
       |    SELECT c.cid AS cell, e.vec_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
       |          DESC, c.cid) AS r
       |    FROM embeddings e CROSS JOIN cents c $predSql) s
       |  WHERE r <= $CellReplicas),
       |probed AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q.vec_id AS q_id, c.cid AS cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), c.cvec)
       |          DESC, c.cid) AS r
       |    FROM embeddings q CROSS JOIN cents c
       |    WHERE ${queryPredSql("q")}) s
       |  WHERE r <= $nprobe),
       |cand AS (
       |  SELECT DISTINCT p.q_id, a.vec_id
       |  FROM probed p JOIN assigned a USING (cell)
       |  WHERE a.vec_id <> p.q_id)
       |${exactTopKTail("cand")}""".stripMargin
  }

  /** ann_ivf_pq restated: PQ ENCODE (per-subspace argmin against the
    * codebook literals, strict-< tie toward the lower entry — PqEncode's
    * convention), ADC scan over the probed cells (query sub-dots against
    * the reconstructed entries, summed subspace-major), calibrated
    * shortlist by (adc desc, id asc), exact cosine re-rank.
    */
  private def pqOracleSql(ids: Array[Long], unit: Array[Double], nprobe: Int,
      ksub: Int, books: Array[Double], shortK: Int): String = {
    // books[m][ksub][subDim] as one nested literal m[s+1][j+1][t+1].
    val bm = (0 until PqM).map { s =>
      (0 until ksub).map { j =>
        vecLit(books, (s * ksub + j) * PqSubDim, PqSubDim)
      }.mkString("[", ",", "]")
    }.mkString("[", ",", "]")
    val adcTerms = (0 until PqM).map { s =>
      s"list_dot_product(list_slice(CAST(qq.embedding AS DOUBLE[]), ${s * PqSubDim + 1}, ${(s + 1) * PqSubDim}), m[${s + 1}][cd.code[${s + 1}] + 1])"
    }.mkString(" + ")
    s"""WITH cents(cid, cvec) AS (VALUES ${centsValues(ids, unit)}),
       |bm(m) AS (SELECT CAST($bm AS DOUBLE[][][])),
       |bk AS (
       |  SELECT CAST(s.range - 1 AS INT) AS s, CAST(j.range - 1 AS INT) AS j,
       |    m[CAST(s.range AS INT)][CAST(j.range AS INT)] AS bvec
       |  FROM bm, range(1, ${PqM + 1}) s, range(1, $ksub + 1) j),
       |uv AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> x *
       |      (CASE WHEN s2 = 0 THEN 1.0 ELSE 1.0 / sqrt(s2) END)) AS u
       |  FROM (SELECT vec_id, embedding,
       |      list_dot_product(CAST(embedding AS DOUBLE[]),
       |        CAST(embedding AS DOUBLE[])) AS s2 FROM embeddings) t),
       |codes AS (
       |  SELECT vec_id, list(j ORDER BY s) AS code FROM (
       |    SELECT u.vec_id, b.s, b.j,
       |      row_number() OVER (PARTITION BY u.vec_id, b.s
       |        ORDER BY list_distance(list_slice(u.u, b.s * $PqSubDim + 1,
       |          (b.s + 1) * $PqSubDim), b.bvec) ASC, b.j ASC) AS rn
       |    FROM uv u CROSS JOIN bk b) t
       |  WHERE rn = 1 GROUP BY vec_id),
       |assigned AS (
       |  SELECT cell, vec_id FROM (
       |    SELECT c.cid AS cell, e.vec_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
       |          DESC, c.cid) AS r
       |    FROM embeddings e CROSS JOIN cents c) s
       |  WHERE r <= $CellReplicas),
       |probed AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q.vec_id AS q_id, c.cid AS cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), c.cvec)
       |          DESC, c.cid) AS r
       |    FROM embeddings q CROSS JOIN cents c
       |    WHERE ${queryPredSql("q")}) s
       |  WHERE r <= $nprobe),
       |cpair AS (
       |  SELECT DISTINCT p.q_id, a.vec_id
       |  FROM probed p JOIN assigned a USING (cell)
       |  WHERE a.vec_id <> p.q_id),
       |adc AS (
       |  SELECT cp.q_id, cp.vec_id, $adcTerms AS adc
       |  FROM cpair cp CROSS JOIN bm
       |    JOIN codes cd ON cd.vec_id = cp.vec_id
       |    JOIN embeddings qq ON qq.vec_id = cp.q_id),
       |shortlist AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY adc DESC, vec_id ASC) AS rn
       |    FROM adc) s
       |  WHERE rn <= $shortK)
       |${exactTopKTail("shortlist")}""".stripMargin
  }

  /** ann_lsh restated: per-(vector, table) sign signatures against the
    * plane literals (bit b set iff dot > 0 — HyperplaneSigs' convention),
    * then candidate membership AS A SET: hamming(sig_q, sig_v) ≤ depth in
    * ≥ 1 of the L tables — exactly the set the engine's multiprobe key
    * enumeration joins to, restated as the hamming-ball predicate it
    * expands (the oracle is allowed to be O(|Q|·N·L); it runs at sf0.01).
    */
  private def lshOracleSql(tables: Int, bits: Int, depth: Int): String = {
    val planeRows = (for {
      t <- 0 until tables
      b <- 0 until bits
    } yield {
      val p = hyperplanes(t)(b)
      s"($t, $b, ${(0 until Dim).map(i => fmtD(p(i))).mkString("[", ",", "]")}::DOUBLE[])"
    }).mkString(",")
    s"""WITH planes(tbl, b, pvec) AS (VALUES $planeRows),
       |sig AS (
       |  SELECT e.vec_id, p.tbl,
       |    CAST(SUM(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |      p.pvec) > 0 THEN (CAST(1 AS BIGINT) << p.b) ELSE 0 END) AS BIGINT)
       |      AS sg
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, p.tbl),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, v.vec_id
       |  FROM sig q JOIN sig v USING (tbl)
       |  WHERE ${queryPredSql("q")} AND v.vec_id <> q.vec_id
       |    AND bit_count(xor(q.sg, v.sg)) <= $depth)
       |${exactTopKTail("cand")}""".stripMargin
  }

  /** The append lifecycle's frozen quantizer, computed directly from the
    * old stratum (content-identical to what [[seedIvfIndex]] stages —
    * the cents parquet round-trips floats exactly; same cache slot).
    */
  private def appendModelOf(emb: DataFrame): (Array[Long], Array[Double]) = {
    val old = emb.filter(ivfAppendIsOld(col("vec_id")))
    val nOld = old.count()
    val kOld = centroidCount(nOld)
    val strideOld = math.max(1L, nOld / kOld)
    centModelCached("ivf_append", emb)(collectUnitCents(
      old.filter(pmod(xxhash64(col("vec_id")), lit(strideOld)) === 0)
        .select(col("vec_id"), col("embedding"))))
  }

  /** Generate the per-corpus DuckDB oracles for the whole approximate
    * family. Called by Verify AFTER the queries run (all index-build
    * products are then cache hits; a cold call rebuilds them
    * identically — everything is deterministic per corpus).
    */
  private[graft] def oracleSqlDynamic(spark: SparkSession, sfDir: String)
      : Map[String, String] = {
    val emb = Tables.embeddings(spark, sfDir)
    val n = corpusSize(emb)
    val pairs = calibrationPairsCached(emb)

    val (ivfIds, ivfUnit) = ivfModelOf(emb)
    val ivfNprobe = calibratedNprobe(pairs, ivfUnit, ivfIds)

    val (kmIds, kmUnit) = kmeansModelOf(emb)
    val kmNprobe = calibratedNprobe(pairs, kmUnit, kmIds)

    val (apIds, apUnit) = appendModelOf(emb)
    val apNprobe = calibratedNprobe(pairs, apUnit, apIds)

    val (ksub, books) = pqBooksCached(emb, n)
    val shortK = calibratedPqShortlist(emb, books, ksub, pairs)

    val bits = lshBits(n)
    val (tables, depth) = calibratedLsh(pairs, bits)

    val np10 = filteredNprobe(spark, sfDir, filterPred10(), s"label$FilterLabel")
    val npRare = filteredNprobe(spark, sfDir, filterPredRare(), "rare")

    // ann_filtered_range's oracle FOLLOWS the dispatch: the generator
    // evaluates the same cost rule as the entry and restates whichever
    // branch serves this corpus — exact brute force below the crossover,
    // the IVF search above it. Both regimes are hash-checked across the
    // committed scales (sf0.01 lands exact, sf0.1 lands IVF). Round 16:
    // the IVF branch serves the PER-STRATUM index, so the restatement
    // inlines the stratum-fitted centroid matrix and the nprobe
    // calibrated against IT — generator and entry read both through the
    // same builders, so a model swap on one side fails the hash.
    val rangePred = filterPredRange(n)
    val rangePredSql = s"e.vec_id < ${n / 2}"
    val rangeSql =
      if (autoPicksExact(spark, sfDir, rangePred, "range"))
        exactOracleSql(rangePredSql)
      else {
        val (sIds, sUnit) =
          ivfModelStratum(emb, rangePred, "range", predSqlOf(rangePred))
        val sNprobe = calibratedNprobe(
          calibrationPairsFilteredCached(emb, emb.filter(rangePred), "range",
            predSqlOf(rangePred)), sUnit, sIds)
        ivfOracleSql(sIds, sUnit, sNprobe, Some(rangePredSql))
      }

    Map(
      "ann_filtered_range" -> rangeSql,
      "ann_ivf" -> ivfOracleSql(ivfIds, ivfUnit, ivfNprobe, None),
      // staged ≡ recompute: the dispatch is row-identical by construction
      // (IvfStagedSpec), so the staged entry shares ann_ivf's dynamic
      // oracle — the driver's hash gate re-proves the identity per round.
      "ann_ivf_staged" -> ivfOracleSql(ivfIds, ivfUnit, ivfNprobe, None),
      "ann_ivf_kmeans" -> ivfOracleSql(kmIds, kmUnit, kmNprobe, None),
      "ann_ivf_append" -> ivfOracleSql(apIds, apUnit, apNprobe, None),
      "ann_filtered" -> ivfOracleSql(ivfIds, ivfUnit, np10,
        Some(s"e.label = $FilterLabel")),
      "ann_filtered_rare" -> ivfOracleSql(ivfIds, ivfUnit, npRare,
        Some(s"e.label = $FilterLabel AND e.vec_id % 10 = 1")),
      "ann_ivf_pq" -> pqOracleSql(ivfIds, ivfUnit, ivfNprobe, ksub, books, shortK),
      "ann_lsh" -> lshOracleSql(tables, bits, depth))
  }
}
