package graft.queries

import graft.SparkSuite

class SimilaritySpec extends SparkSuite {

  private def resultMap(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  test("ann_topk returns exactly k ranked neighbors per query, no self-match") {
    val rows = Similarity.annTopK(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q has ${rs.length} neighbors")
      assert(rs.forall(_.getLong(1) != q))
      val ranked = rs.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(ranked.zip(ranked.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ann_ivf recall@5 vs brute force is usable") {
    val exact = resultMap(Similarity.annTopK(spark, sf))
    val approx = resultMap(Similarity.annIvf(spark, sf))
    val recalls = exact.map { case (q, nn) =>
      approx.get(q).map(a => (a intersect nn).size.toDouble / nn.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@5 = $mean%.2f over ${recalls.size} queries")
    // Measured 0.96 at sf0.001 / 0.95 at sf0.1 (deterministic seeds;
    // 2.5·√k probes since round 8); floor within 0.1 so a silent recall
    // regression fails instead of coasting on a slack bound.
    assert(mean >= 0.88, f"IVF recall too low: $mean%.2f")
  }

  test("ann_lsh: hyperplane buckets give usable recall with bounded candidates") {
    val exact = resultMap(Similarity.annTopK(spark, sf))
    val approx = resultMap(Similarity.annLsh(spark, sf))
    val recalls = exact.map { case (q, nn) =>
      approx.get(q).map(a => (a intersect nn).size.toDouble / nn.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    info(f"LSH mean recall@5 = $mean%.2f over ${recalls.size} queries")
    // Measured 1.00 at sf0.001 / 0.995 at sf0.1 (deterministic planes;
    // depth-2 multiprobe since round 8); tight floor per above.
    assert(mean >= 0.92, f"LSH recall too low: $mean%.2f")
  }

  test("ann_ivf_kmeans: trained centroids reach at least sampled-centroid recall") {
    val exact = resultMap(Similarity.annTopK(spark, sf))
    def recallOf(m: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (q, nn) =>
        m.get(q).map(a => (a intersect nn).size.toDouble / nn.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val sampled = recallOf(resultMap(Similarity.annIvf(spark, sf)))
    val trained = recallOf(resultMap(Similarity.annIvfKmeans(spark, sf)))
    info(f"recall@5: sampled=$sampled%.2f trained=$trained%.2f")
    // Measured 0.96 at sf0.001 / 0.945 at sf0.1 (seeded driver-side
    // spherical k-means since round 8); tight floor per above.
    assert(trained >= 0.88, f"trained IVF recall too low: $trained%.2f")
  }

  test("ann_ivf_pq: 8-byte codes + exact re-rank hold recall near the uncompressed path") {
    val exact = resultMap(Similarity.annTopK(spark, sf))
    def recallOf(m: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (q, nn) =>
        m.get(q).map(a => (a & nn).size.toDouble / nn.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val pq = recallOf(resultMap(Similarity.annIvfPq(spark, sf)))
    val raw = recallOf(resultMap(Similarity.annIvf(spark, sf)))
    info(f"recall@5: pq=$pq%.2f raw-ivf=$raw%.2f")
    // Same coarse index + calibration as ann_ivf; the PQ stage can only
    // lose what the K·refine shortlist fails to buy back. The floor
    // bounds that loss: within 0.1 of the uncompressed path and above
    // an absolute 0.85.
    assert(pq >= raw - 0.1, f"PQ lost too much recall vs raw IVF: $pq%.2f vs $raw%.2f")
    assert(pq >= 0.85, f"PQ recall too low: $pq%.2f")
  }

  test("pq codec: encode is deterministic and ADC ranks reconstruction-close vectors first") {
    // Codec-level golden, independent of the IVF pipeline: a driver-side
    // codebook with KNOWN structure — subspace centroids at ±axis corners
    // — must encode axis-aligned vectors to the matching code and give
    // back the exact reconstruction dot under ADC.
    import org.apache.spark.sql.functions._
    val m = 2; val ksub = 2; val subDim = 2
    // book[s][0] = (1,0), book[s][1] = (0,1) for both subspaces
    val books = Array(1.0, 0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 1.0)
    val df = spark.createDataFrame(Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 1.0f)), // unit already: codes (0, 1)
      (2L, Seq(0.0f, 2.0f, 2.0f, 0.0f))  // normalizes to (0,.7,.7,0): codes (1, 0)
    )).toDF("id", "v")
    val got = df.select(col("id"), col("v"),
        graft.functions.PqCodes.pqEncode(col("v"), books, m, ksub, subDim).as("code"))
      .withColumn("adc", graft.functions.PqCodes.pqAdcDot(
        col("code"), col("v"), books, m, ksub, subDim))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Byte](2).toList, r.getDouble(3))).sortBy(_._1)
    assert(got(0)._2 == List(0.toByte, 1.toByte), s"id1 code ${got(0)._2}")
    assert(got(1)._2 == List(1.toByte, 0.toByte), s"id2 code ${got(1)._2}")
    // ADC = raw query · reconstruction: id1 → (1,0,0,1)·(1,0,0,1) = 2;
    // id2 → (0,2,2,0)·(0,1,1,0) = 4.
    assert(got(0)._3 == 2.0 && got(1)._3 == 4.0,
      s"ADC values ${got.map(_._3).toList}")
  }

  test("pq shortlist calibrator: separated corpora stay at the floor; tie cohorts escalate") {
    // Both ends of the adaptivity contract (the CalibrationSpec
    // discipline, applied to the ADC stage) with a hand-built codebook
    // of known structure: per subspace, entry 0 = e₁, entry 1 = e₂.
    import spark.implicits._
    val m = 8; val ksub = 2; val sub = 8
    val books = new Array[Double](m * ksub * sub)
    for (s <- 0 until m) {
      books((s * ksub + 0) * sub + 0) = 1.0
      books((s * ksub + 1) * sub + 1) = 1.0
    }
    def vecOf(pos: Int): Seq[Float] =
      Seq.tabulate(64)(i => if (i % sub == pos) 1.0f else 0.0f)
    val v1 = vecOf(0); val v2 = vecOf(1)
    val pairs = Array((v1.map(_.toDouble).toArray, v1.map(_.toDouble).toArray))
    // Tie cohort: 100 copies of the neighbor's direction — all share its
    // code AND its ADC score, so the worst-case tie-broken seat is the
    // whole cohort and the depth must cover it (×1.2 margin).
    val ties = (0L until 100L).map(i => (i, v1)).toDF("vec_id", "embedding")
    val tieK = Similarity.calibratedPqShortlist(ties, books, ksub, pairs)
    assert(tieK == 120, s"tie cohort should escalate to ceil(100·1.2): $tieK")
    // Separated corpus: only the neighbor itself ties its own score (the
    // other 99 reconstruct orthogonal to the query) — floor suffices.
    val sep = ((0L, v1) +: (1L until 100L).map(i => (i, v2))).toDF("vec_id", "embedding")
    val sepK = Similarity.calibratedPqShortlist(sep, books, ksub, pairs)
    assert(sepK == 20, s"separated corpus should stay at the K·refine floor: $sepK")
  }

  test("ann_range equals an independent plain-Scala brute-force radius scan") {
    // Same rigor as the goldens elsewhere: recompute every admitted pair
    // from the raw vectors, independent of vec.dot/l2norm and the join
    // shape — a no-miss radius search must agree exactly at the rounded
    // precision on both membership and score.
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (for {
      (q, qv) <- vecs.toSeq if q % 50 == 0 && q < 1024L * 50
      (v, ev) <- vecs.toSeq if v != q
      cs = cos(qv, ev) if cs >= 0.30
    } yield (q, v) -> round6(cs)).toMap
    val got = Similarity.annRange(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty, "τ admits no pairs at test scale — retune τ")
    assert(got == expected,
      s"radius search diverged; symmetric diff keys: " +
        s"${(got.keySet diff expected.keySet) ++ (expected.keySet diff got.keySet)}")
  }

  test("ann_filtered: recall floor vs exact filtered brute force, predicate honored") {
    val exact = resultMap(Similarity.annFilteredExact(spark, sf))
    val approx = resultMap(Similarity.annFiltered(spark, sf))
    val recalls = exact.map { case (q, nn) =>
      approx.get(q).map(a => (a intersect nn).size.toDouble / nn.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    info(f"filtered mean recall@5 = $mean%.2f over ${recalls.size} queries")
    assert(mean >= 0.88, f"filtered-ANN recall too low: $mean%.2f")
    // Every returned neighbor must satisfy the predicate — the
    // post-filtering trap this operator exists to avoid would break this
    // only probabilistically, so assert it exactly.
    val legal = graft.Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("label") === 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val returned = approx.values.flatten.toSet
    assert(returned.subsetOf(legal),
      s"neighbors violating the predicate: ${returned diff legal}")
  }

  test("ann_filtered_rare: recall floor at the ~1% stratum; calibration moved with selectivity") {
    // The selectivity axis needs MORE THAN ONE measured point (round-12
    // verdict #4): at ~1% the true filtered neighbors sit an order
    // deeper in each query's cell order, exactly where a fixed nprobe
    // silently cuts recall.
    val exact = resultMap(Similarity.annFilteredRareExact(spark, sf))
    val approx = resultMap(Similarity.annFilteredRare(spark, sf))
    val recalls = exact.map { case (q, nn) =>
      approx.get(q).map(a => (a intersect nn).size.toDouble / nn.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    info(f"rare-filtered mean recall@5 = $mean%.2f over ${recalls.size} queries")
    assert(mean >= 0.88, f"rare-stratum recall too low: $mean%.2f")
    // Predicate compliance, exactly (the post-filter trap is
    // probabilistic; this is not).
    val legal = graft.Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.expr("label = 3 AND vec_id % 10 = 1"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val returned = approx.values.flatten.toSet
    assert(returned.subsetOf(legal),
      s"neighbors violating the rare predicate: ${returned diff legal}")
    // The instrument: the nprobe each stratum actually serves. The rare
    // stratum must calibrate DEEPER than the 10% one — if these were
    // equal, the per-stratum re-calibration machinery would be dead code
    // and the 10% parameter would be silently served at 1%.
    val np10 = Similarity.filteredNprobe(spark, sf,
      Similarity.filterPred10(), s"label3")
    val npRare = Similarity.filteredNprobe(spark, sf,
      Similarity.filterPredRare(), "rare")
    info(s"calibrated nprobe: 10% stratum = $np10, 1% stratum = $npRare")
    assert(npRare > np10,
      s"rare stratum must calibrate deeper: nprobe $npRare !> $np10")
  }

  test("ann_filtered_auto: dispatch picks exact below the crossover, IVF above (injected budget)") {
    // Default decision at the test corpus: the rare stratum is far under
    // 2.5·N^(3/4) touched rows, so the dispatch MUST pick the exact
    // branch — asserted on the decision function (the dd_embed_auto
    // instrument pattern), then on literal row identity with the exact
    // filtered brute force (not a recall floor: recall 1.0 is the whole
    // point of the branch).
    assert(Similarity.autoPicksExact(spark, sf,
      Similarity.filterPredRare(), "rare"),
      "rare stratum must sit below the ivfTouchedRowsPerQuery crossover")
    val auto = Similarity.annFilteredAuto(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = Similarity.annFilteredRareExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(auto == exact,
      s"auto(exact branch) diverges from brute force: ${auto diff exact} / ${exact diff auto}")
    assert(auto.nonEmpty)
    // Injected budget 0 forces the other regime (the CapBindingSpec
    // pattern): the auto entry must then BE ann_filtered_rare — same
    // IVF path, same stratum tag, row-identical output.
    val ivf = Similarity.annFilteredAutoWith(spark, sf,
      Similarity.filterPredRare(), "rare", Some(0L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rare = Similarity.annFilteredRare(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivf == rare, "budget-0 auto must equal the ann_filtered_rare path")
    // The crossover moves the right way with corpus size: touched rows
    // grow ~N^(3/4), so the exact-branch region (selectivity below
    // touched/N ≈ 2.5·N^(-1/4)) NARROWS as corpora grow — the rule
    // dispatches big-corpus mid-selectivity strata to the index, never
    // the reverse.
    val small = Similarity.ivfTouchedRowsPerQuery(100000L)
    val big = Similarity.ivfTouchedRowsPerQuery(1000000000L)
    assert(big > small)
    assert(big.toDouble / 1000000000L < small.toDouble / 100000L,
      "crossover selectivity must shrink with corpus growth")
  }

  test("ann_filtered_range: third stratum exercises both branches; calibration is per-stratum") {
    // The 50% range stratum (vec_id < N/2) sits just BELOW the crossover
    // at the test corpus (N=500: stratum 250 ≤ 264 touched rows), so the
    // shipped entry takes the exact branch here — row-identical to the
    // exact filtered brute force — while the SAME scale-invariant
    // selectivity lands ABOVE the crossover at any grown corpus
    // (50% > 2.5·N^(-1/4) for N > ~625): sf0.1 and every scale-curve
    // point exercise the IVF branch for real, no injection needed.
    val n = graft.Tables.embeddings(spark, sf).count()
    val pred = Similarity.filterPredRange(n)
    assert(Similarity.autoPicksExact(spark, sf, pred, "range"),
      s"range stratum must sit below the crossover at n=$n")
    val out = Similarity.annFilteredRange(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = Similarity.annFilteredRangeExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out == exact,
      s"range auto(exact branch) diverges: ${out diff exact} / ${exact diff out}")
    assert(out.nonEmpty)
    // And the predicate itself is honored on the IVF branch (forced via
    // injected budget): every neighbor is in the range stratum, and the
    // branch is row-identical to the plain filtered path on the same
    // stratum — the dispatch adds routing, never changes a branch.
    val ivf = Similarity.annFilteredAutoWith(spark, sf, pred, "range",
      Some(0L), perStratumIvf = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val plain = Similarity.annFilteredStratumWith(spark, sf, pred, "range")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivf == plain,
      "budget-0 range auto must equal the per-stratum filtered IVF path")
    assert(ivf.forall(_._2 < n / 2), "IVF-branch neighbor outside the range stratum")
    // Per-stratum recalibration ordering across all THREE strata: deeper
    // probing as the stratum thins (50% ≤ 10% < 1%) — if the range
    // stratum served the rare depth (or vice versa) the per-predicate
    // calibration keying would be dead code.
    val npRange = Similarity.filteredNprobe(spark, sf, pred, "range")
    val np10 = Similarity.filteredNprobe(spark, sf,
      Similarity.filterPred10(), "label3")
    val npRare = Similarity.filteredNprobe(spark, sf,
      Similarity.filterPredRare(), "rare")
    info(s"calibrated nprobe: 50% = $npRange, 10% = $np10, 1% = $npRare")
    assert(npRange <= np10 && np10 < npRare,
      s"stratum depths out of order: 50%=$npRange, 10%=$np10, 1%=$npRare")
  }

  test("ann_ivf_append: append-only lifecycle — batches assign only themselves, postings grow by exactly the batch") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sf)
    withTempDir("graft_ivf_append_spec") { dir =>
      Similarity.seedIvfIndex(spark, emb, Similarity.ivfAppendIsOld, dir.toString)
      val idx = () => spark.read.parquet(s"$dir/ivf_index.parquet")
      val nOld = emb.filter(Similarity.ivfAppendIsOld(col("vec_id"))).count()
      val nB1 = emb.filter(Similarity.ivfAppendIsB1(col("vec_id"))).count()
      val nB2 = emb.filter(Similarity.ivfAppendIsB2(col("vec_id"))).count()
      // Seed postings: CellReplicas rows per old vector, nothing else.
      assert(idx().count() == 2 * nOld)
      assert(idx().filter(!Similarity.ivfAppendIsOld(col("vec_id"))).count() == 0)

      // The step's write set is exactly the batch's assignment under the
      // frozen quantizer: every row in-stratum, CellReplicas per vector.
      val a1 = Similarity.ivfAppendAssignments(spark, emb,
        Similarity.ivfAppendIsB1, dir.toString)
      assert(a1.count() == 2 * nB1)
      assert(a1.filter(!Similarity.ivfAppendIsB1(col("vec_id"))).count() == 0)

      Similarity.ivfAppendStep(spark, emb, Similarity.ivfAppendIsB1, dir.toString)
      assert(idx().count() == 2 * (nOld + nB1))
      // Old postings are untouched by the append (append-only growth).
      assert(idx().filter(Similarity.ivfAppendIsOld(col("vec_id"))).count() == 2 * nOld)

      Similarity.ivfAppendStep(spark, emb, Similarity.ivfAppendIsB2, dir.toString)
      assert(idx().count() == 2 * (nOld + nB1 + nB2))
      assert(idx().filter(Similarity.ivfAppendIsB2(col("vec_id"))).count() == 2 * nB2)
    }
  }

  test("ann_ivf_append: recall floor on the grown corpus; staleness bounded vs the re-clustered index") {
    val exact = resultMap(Similarity.annTopK(spark, sf)).toSeq
    def recallOf(m: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (q, nn) =>
        m.get(q).map(f => (f intersect nn).size.toDouble / nn.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val appended = recallOf(resultMap(Similarity.annIvfAppend(spark, sf)))
    val reclustered = recallOf(resultMap(Similarity.annIvf(spark, sf)))
    info(f"recall@5: appended-index=$appended%.2f re-clustered=$reclustered%.2f")
    // The frozen quantizer (k from the 80% seed) + per-search nprobe
    // re-calibration must hold the family floor AND stay within 0.1 of
    // the fresh index — if quantizer staleness silently ate recall, the
    // second assertion catches it before any scale probe does.
    assert(appended >= 0.85, f"appended-index recall too low: $appended%.2f")
    assert(appended >= reclustered - 0.1,
      f"append lost too much vs re-cluster: $appended%.2f vs $reclustered%.2f")
  }
}
