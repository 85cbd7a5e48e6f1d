package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSuite {

  test("minhash finds exactly the exact-jaccard pairs (full recall on planted dups)") {
    val exact = Dedup.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhash(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == exact, s"minhash ${mh.size} pairs vs exact ${exact.size}")
    assert(exact.nonEmpty, "test data should contain planted near-dups")
  }

  test("winnow fingerprint pairs equal the minhash near-dup set, well-separated") {
    // The third near-dup family must agree with the other two on the
    // planted corpus: every J>=0.8 word-shingle pair overlaps heavily in
    // winnow fingerprints (shared substrings of length >= k+w-1 share
    // fingerprints by the winnowing guarantee) and no unrelated pair
    // clears the threshold. Also assert the separation margin the 0.5
    // threshold relies on: near-dup overlaps well above, so a small drift
    // in tokenization can't silently flip pairs.
    val wn = Dedup.winnowPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val mh = Dedup.minhash(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wn.keySet == mh, s"winnow ${wn.size} pairs vs minhash ${mh.size}")
    assert(wn.nonEmpty)
    assert(wn.values.forall(_ >= 0.7), s"near-dup overlap dipped toward the threshold: ${wn.values.min}")
  }

  test("simhash catches all identical-shingle-set pairs at hamming 0") {
    val j1 = Dedup.ngramJaccard(spark, sf)
      .filter(col("jaccard") === 1.0)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhash(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // Docs with identical token multisets have identical simhash.
    // J=1.0 pairs share the shingle *set*; nearly all also share the
    // multiset, so expect ≥ 80% coverage at hamming ≤ 3.
    val covered = j1.count(sh.contains)
    assert(covered >= (j1.size * 0.8).toInt, s"simhash covered $covered of ${j1.size}")
  }

  test("staged minhash (materialized shingles) equals the lazy pipeline") {
    withTempDir("graft-staging") { stagingPath =>
      val staging = stagingPath.toString
      val lazyPairs = Dedup.minhash(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val stagedPairs = Dedup.minhashStaged(spark, sf, staging)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(stagedPairs == lazyPairs)
      assert(new java.io.File(s"$staging/shingles.parquet").exists,
        "staging table must be materialized")
    }
  }

  test("WordShingles expression matches the HOF split+transform formulation") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf).limit(100)
    val viaExpr = docs.select(col("doc_id"),
      graft.functions.WordShingles.wordShingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val viaHof = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
      .select(col("doc_id"),
        when(size(col("w")) >= 3, expr(
          "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))
          .otherwise(expr("array()")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(viaExpr == viaHof)
  }

  test("exact dedup partitions the corpus (sum of copies = total docs)") {
    val total = graft.Tables.documents(spark, sf).count()
    val summed = Dedup.exact(spark, sf).agg(sum("n_copies")).collect().head.getLong(0)
    assert(summed == total)
  }

  test("embed cosine pairs are symmetric-free and above threshold") {
    val rows = Dedup.embedCosine(spark, sf).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(2) >= 0.45))
  }

  test("bucketed embed near-dup equals the all-pairs crossJoin form") {
    // The scale path (LSH candidates → exact verify) must find every pair
    // the quadratic oracle form finds — deterministic given seeded planes.
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val allPairs = pairs(Dedup.embedCosine(spark, sf))
    val bucketed = pairs(Dedup.embedCosineBucketed(spark, sf))
    assert(allPairs.nonEmpty, "planted near-dup pairs missing from test data")
    assert(bucketed == allPairs,
      s"missed: ${allPairs -- bucketed}; extra: ${bucketed -- allPairs}")
    // The cost-based dispatch can only ever pick between these two
    // output-identical forms — whatever branch N selects, rows match.
    assert(pairs(Dedup.embedAuto(spark, sf)) == allPairs,
      "dd_embed_auto dispatch changed results")
  }

  test("the LSH work model separates the regimes the dispatcher relies on") {
    // The dispatch contract (verdict r10): at the no-gap τ = 0.45 the
    // model must read LSH costlier than all-pairs at EVERY corpus size
    // (candidate pruning ~2×, fraction ~0.5 — N² is intrinsic, so the
    // cheaper-constant quadratic wins under the cutoff), while at the
    // production τ = 0.8 LSH must win from small N with a collapsing
    // candidate fraction — the regime the 100 TB claim lives in.
    for (n <- Seq(2000L, 20000L, 100000L, 1000000L)) {
      val lo = Dedup.solveLsh(n, 0.45)
      assert(lo.work > Dedup.allPairsWork(n),
        s"no-gap model should read LSH costlier than all-pairs at n=$n")
      assert(lo.candFraction > 0.3,
        s"no-gap candidate fraction should be thin-pruning at n=$n: ${lo.candFraction}")
      val hi = Dedup.solveLsh(n, 0.8)
      assert(hi.work < Dedup.allPairsWork(n),
        s"real-gap model should read LSH cheaper than all-pairs at n=$n")
      assert(hi.candFraction < 0.05,
        s"real-gap candidate fraction should collapse at n=$n: ${hi.candFraction}")
    }
    // And the fraction keeps FALLING with scale in the real-gap regime
    // (the solver widens B as N grows) — the sub-quadratic signature.
    assert(Dedup.solveLsh(1000000L, 0.8).candFraction <
      Dedup.solveLsh(2000L, 0.8).candFraction)
  }

  test("dd_embed_hi finds exactly the all-pairs τ=0.8 set on the planted corpus") {
    // The production-threshold regime: the base corpus has ZERO pairs at
    // cos ≥ 0.8 (uniform-on-sphere, 64-d), so the entry plants a 10%
    // near-exact-copy stratum; the LSH path must find every planted pair
    // the quadratic form finds — and the plants must actually land in
    // the [0.86, 0.95] design band, never razor-edge at the threshold.
    val corpus = Dedup.embedHiCorpus(spark, sf)
    val n = corpus.count()
    val e = corpus.select(col("vec_id"), col("embedding").as("emb"))
      .withColumn("nrm", graft.functions.vec.l2norm(col("emb")))
    val allPairs = e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
        col("nrm").as("nrm_a"))
      .crossJoin(e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
        col("nrm").as("nrm_b")))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cs", graft.functions.vec.dot(col("emb_a"), col("emb_b"))
        / (col("nrm_a") * col("nrm_b")))
      .filter(col("cs") >= 0.8)
      .select(col("vec_a"), col("vec_b"), round(col("cs"), 6).as("cs"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val hi = Dedup.embedHi(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(allPairs.nonEmpty, "plant construction produced no τ≥0.8 pairs")
    assert(allPairs.size >= (n / 11 / 2).toInt,
      s"expected ~n/11 planted pairs, got ${allPairs.size} of corpus $n")
    assert(hi == allPairs,
      s"missed: ${allPairs -- hi}; extra: ${hi -- allPairs}")
    assert(allPairs.forall(_._3 <= 0.96),
      "plants should sit in the design band, not be near-exact copies")
  }

  test("simhash end-to-end equals a plain-Scala signature + all-pairs reference") {
    // Independent restatement of the token hash (Md5Long64, UNMASKED —
    // simhash only tests bits, never orders): hex-string reversal +
    // parseUnsignedLong, not the main code's byte shifts.
    def xx(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val le = hex.substring(16).grouped(2).toSeq.reverse.mkString
      java.lang.Long.parseUnsignedLong(le, 16)
    }
    def refSig(text: String): Long = {
      val counts = new Array[Int](64)
      text.split("\\s+").foreach { tok =>
        val h = xx(tok)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      (0 until 64).foldLeft(0L)((s, b) => if (counts(b) > 0) s | (1L << b) else s)
    }
    val sigs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> refSig(r.getString(1)))
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      ham = java.lang.Long.bitCount(sa ^ sb) if ham <= 3
    } yield (a, b, ham)).toSet
    val got = Dedup.simhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, s"simhash output diverges from all-pairs reference " +
      s"(missing ${want -- got}, extra ${got -- want})")
  }

  test("simhash pigeonhole: every hamming<=3 signature pair shares a 3-block combo key") {
    // Pure check of the completeness claim behind the C(6,3)=20 bucket
    // scheme: for any <=3 flipped bits, at least one 3-block combination
    // is untouched on both sides and keys match exactly.
    val offsets = Array(0, 11, 22, 33, 44, 54)
    val widths = Array(11, 11, 11, 11, 10, 10)
    def block(sig: Long, i: Int): Long =
      (sig >>> offsets(i)) & ((1L << widths(i)) - 1)
    val combos = (0 until 6).combinations(3).toSeq
    val rnd = new scala.util.Random(31337)
    for (_ <- 0 until 2000) {
      val sig = rnd.nextLong()
      val nFlips = rnd.nextInt(4) // 0..3
      val flipped = (0 until nFlips).foldLeft(sig) { (s, _) => s ^ (1L << rnd.nextInt(64)) }
      val shared = combos.exists(c => c.forall(i => block(sig, i) == block(flipped, i)))
      assert(shared, f"ham<=3 pair with no shared combo: $sig%016x vs $flipped%016x")
    }
  }

  test("clusters: labels are component minima over the near-dup pair graph") {
    val pairs = Dedup.minhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Dedup.clusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.nonEmpty)
    // Reference union-find over the same pairs.
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(d => d -> find(d)).toMap
    assert(labels == want, s"component labels diverge from union-find")
  }

  test("clusters: pointer doubling closes a 60-edge chain within the round cap") {
    // Simple propagation moves the min one hop per round — a 60-link
    // chain would need 60 rounds and the 25-round cap would leave wrong
    // labels. Doubling must collapse it in O(log n). Ceiling 0 forces
    // the DISTRIBUTED arm — the round-19 driver fast path would absorb
    // this output-class fixture and the doubling step would go untested.
    import spark.implicits._
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup
      .propagateComponentsWithRounds(chain, smallGraphCeiling = 0L)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 61)
    assert(labels.values.forall(_ == 0L),
      s"chain not fully collapsed: ${labels.filter(_._2 != 0L).take(5)}")
  }

  test("clusters: driver fast path ≡ distributed loop on planted topologies") {
    // The round-19 small-graph arm (union-find below the broadcast
    // ceiling) must label EXACTLY like the pointer-doubling loop — both
    // arms on the same fixtures: a chain (deep diameter), a star with a
    // non-minimal center (min must win over the hub), two disjoint
    // components, and a triangle with reversed pair orientation (the
    // undirected contract).
    import spark.implicits._
    val fixtures = Seq(
      (10L until 20L).map(i => (i, i + 1)),               // chain
      Seq((50L, 7L), (50L, 9L), (50L, 8L)),               // star, center 50
      Seq((1L, 2L), (2L, 3L), (100L, 101L)),              // two components
      Seq((5L, 4L), (3L, 5L), (4L, 3L))                   // triangle, mixed
    )
    for (fx <- fixtures) {
      val pairs = fx.toDF("doc_a", "doc_b")
      val (fastDf, fastRounds) = Dedup.propagateComponentsWithRounds(pairs)
      assert(fastRounds == 0, "output-class fixture must take the fast arm")
      val fast = fastDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val loop = Dedup.propagateComponentsWithRounds(pairs, smallGraphCeiling = 0L)
        ._1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fast == loop,
        s"arms diverge on $fx:\n fast-only=${fast -- loop}\n loop-only=${loop -- fast}")
    }
  }

  test("substring-dup spans equal a plain-Scala sliding-window reference") {
    // Independent reference: raw 40-char sliding windows per doc (no
    // hashing at all — set equality over substrings is what the md5 join
    // keys stand in for). Pairs admitted at ≥3 distinct shared windows;
    // for each, doc_a's matching positions merge into maximal runs the
    // dumb way (fold over sorted positions) — independently of the
    // islands row_number trick under test. The df cap cannot fire at 50
    // docs (cap = 1000), so the capped and uncapped contracts coincide
    // here; CapBindingSpec covers cap firing.
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val winSets = docs.map { case (id, t) =>
      id -> (if (t.length < 40) Set.empty[String]
             else (0 to t.length - 40).map(i => t.substring(i, i + 40)).toSet)
    }
    val texts = docs.toMap
    val want = (for {
      (a, sa) <- winSets; (b, sb) <- winSets if a < b
      if (sa & sb).size >= 3
      ta = texts(a)
      pos = (0 to ta.length - 40)
        .filter(i => sb.contains(ta.substring(i, i + 40))).map(_ + 1)
      runs = pos.foldLeft(List.empty[List[Int]]) {
        case (run :: rest, p) if run.head == p - 1 => (p :: run) :: rest
        case (acc, p) => List(p) :: acc
      }
      run <- runs
    } yield (a, b, run.min.toLong, (run.max - run.min + 40).toLong,
      run.size.toLong)).toSet
    val got = Dedup.substringDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == want,
      s"substring spans diverge (missing ${want -- got}, extra ${got -- want})")
    assert(got.nonEmpty, "planted near-dups should share 40-char windows")
    assert(got.exists(_._5 > 1),
      "planted near-dups should yield at least one multi-window span")
  }

  test("substring-cut spans equal a plain-Scala reference and cover the pair form") {
    // Independent reference for the per-DOC cut form: a position is
    // duplicated iff its raw 40-char window occurs in at least one OTHER
    // document (set membership over substrings — no hashing); runs fold
    // the dumb way, independently of the islands row_number trick.
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val winSets = docs.map { case (id, t) =>
      id -> (if (t.length < 40) Set.empty[String]
             else (0 to t.length - 40).map(i => t.substring(i, i + 40)).toSet)
    }.toMap
    val want = (for {
      (id, t) <- docs if t.length >= 40
      others = winSets.collect { case (o, s) if o != id => s }
        .foldLeft(Set.empty[String])(_ ++ _)
      pos = (0 to t.length - 40)
        .filter(i => others.contains(t.substring(i, i + 40))).map(_ + 1)
      runs = pos.foldLeft(List.empty[List[Int]]) {
        case (run :: rest, p) if run.head == p - 1 => (p :: run) :: rest
        case (acc, p) => List(p) :: acc
      }
      run <- runs
    } yield (id, run.min.toLong, (run.max - run.min + 40).toLong,
      run.size.toLong)).toSet
    val got = Dedup.substringCut(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want,
      s"cut spans diverge (missing ${want -- got}, extra ${got -- want})")
    assert(got.nonEmpty, "planted near-dups should yield cut spans")
    // Cross-query invariant: every pair-evidence span (doc_a positions
    // shared with a specific partner) lies inside some cut span of doc_a
    // — pair-shared windows are by definition cross-doc duplicated, and
    // maximal runs over a superset of positions can only extend.
    val cutByDoc = got.groupBy(_._1)
    val pairSpans = Dedup.substringDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(pairSpans.nonEmpty)
    for ((a, s, l) <- pairSpans) {
      val covered = cutByDoc.getOrElse(a, Set.empty)
        .exists { case (_, cs, cl, _) => cs <= s && s + l <= cs + cl }
      assert(covered, s"pair span (doc=$a start=$s len=$l) not inside any cut span")
    }
  }

  test("dup_stats: interval union merges overlap/touch/disjoint; report equals a plain-Scala rollup") {
    // The merge kernel on synthetic intervals — the corpus doesn't
    // guarantee every case occurs. Doc 1: [1,45)+[7,47) overlap → 46;
    // [100,140)+[140,180) touch (half-open: contiguous, one interval) →
    // 80; [500,540) disjoint → 40; total 166. Doc 2: nested [10,90) ⊃
    // [20,60) → 80.
    val spans = spark.createDataFrame(Seq(
      (1L, 1L, 45L), (1L, 7L, 47L), (1L, 100L, 140L), (1L, 140L, 180L),
      (1L, 500L, 540L), (2L, 10L, 90L), (2L, 20L, 60L)
    )).toDF("doc_id", "s", "e")
    val merged = Dedup.mergedDupChars(spans).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == Map(1L -> 166L, 2L -> 80L), s"bad union: $merged")
    // End-to-end: the per-source report equals an independent plain-Scala
    // rollup over substringCut's own output + the documents table.
    val cut = Dedup.substringCut(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dupByDoc = cut.groupBy(_._1).map { case (id, ss) =>
      val ivs = ss.map(t => (t._2, t._2 + t._3)).sortBy(x => (x._1, x._2))
      val folded = ivs.foldLeft(List.empty[(Long, Long)]) {
        case ((a, b) :: rest, (s, e)) if s <= b => (a, math.max(b, e)) :: rest
        case (acc, iv) => iv :: acc
      }
      id -> folded.map { case (a, b) => b - a }.sum
    }
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = docs.groupBy(_._2).map { case (src, ds) =>
      val dup = ds.flatMap(d => dupByDoc.get(d._1))
      (src, ds.length.toLong, dup.length.toLong, ds.map(_._3).sum,
        dup.sum,
        BigDecimal(dup.sum.toDouble / ds.map(_._3).sum)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val got = Dedup.dupStats(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(got == want, s"report diverges: ${got diff want} / ${want diff got}")
    assert(got.exists(_._5 > 0), "planted dups should yield duplicated chars")
  }

  test("langid is deterministic and confident on stopword-bearing docs") {
    val r1 = TextAnalysis.langId(spark, sf).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val r2 = TextAnalysis.langId(spark, sf).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(r1 == r2)
    assert(r1.values.toSet.subsetOf(Set("en", "de", "fr", "es", "und")))
  }

  test("dd_embed_cosine fails loud past the all-pairs cutoff, naming the scale path") {
    // A DIRECT call on an oversized corpus must throw before launching the
    // N² join; the guard's count is footer-metadata only, so the fixture
    // can be 30,001 one-float vectors — content is never evaluated.
    val sess = spark
    import sess.implicits._
    withTempDir("embed-guard") { dirPath =>
      val dir = dirPath.toString
      spark.range(30001)
        .select(col("id").as("vec_id"),
          array(lit(0.1f)).as("embedding"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val e = intercept[IllegalArgumentException] { Dedup.embedCosine(spark, dir) }
      assert(e.getMessage.contains("dd_embed_bucketed"),
        s"guard message must point at the scale path: ${e.getMessage}")
    }
  }

  test("dd_lines: planted boilerplate dropped, order kept, df counts docs not repeats") {
    val sess = spark
    import sess.implicits._
    val header = "COOKIE BANNER accept all cookies"
    val footer = "copyright 2026 example corp"
    // header in 4 docs (>= threshold), footer in 2 docs but REPEATED 3×
    // inside doc 20 (within-doc repetition must not count toward df).
    val docs = Seq(
      (10L, s"$header\nalpha body ten\nmiddle ten\n$footer"),
      (11L, s"$header\nbravo body eleven"),
      (12L, s"$header\ncharlie body twelve"),
      (13L, s"$header"), // fully boilerplate → survives as empty row
      (20L, s"$footer\n$footer\n$footer\ndelta body twenty"),
      (21L, "echo body twentyone")
    ).toDF("doc_id", "text")
    val out = Dedup.linesFrom(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(10L) == ((4L, 3L, s"alpha body ten\nmiddle ten\n$footer")),
      s"header must drop, order must hold: ${out(10L)}")
    assert(out(13L) == ((1L, 0L, "")), "fully-boilerplate doc survives empty")
    assert(out(20L) == ((4L, 4L, s"$footer\n$footer\n$footer\ndelta body twenty")),
      s"df counts distinct docs (footer df=2 < 4): ${out(20L)}")
    assert(out(21L) == ((1L, 1L, "echo body twentyone")))
  }

  test("dd_lines hot-set build: partial agg on the 8-byte line hash") {
    // The build plan property the final query's checkpoint hides: the
    // line-df count partially aggregates on xxhash64 keys before the
    // exchange — the map-side-combine shape that keeps the hot-set build
    // one linear pass at any corpus size.
    val sess = spark
    import sess.implicits._
    val docs = Seq((1L, "a\nb"), (2L, "a\nc")).toDF("doc_id", "text")
    val p = Dedup.hotLineDf(docs).queryExecution.executedPlan.toString
    assert(p.contains("partial_count"),
      s"line-df count not partially aggregated:\n$p")
    assert(p.contains("xxhash64"), s"hot-set key must be the 8-byte hash:\n$p")
  }

  test("lineCleanedDocs (pipeline stage 0): passthrough kept, hot lines cut, empty docs drop") {
    val sess = spark
    import sess.implicits._
    val header = "COOKIE BANNER accept all cookies"
    val docs = Seq(
      (10L, "en", "web", s"$header\nalpha body ten"),
      (11L, "en", "web", s"$header\nbravo body eleven"),
      (12L, "de", "web", s"$header\ncharlie body twelve"),
      (13L, "en", "web", s"$header"), // fully boilerplate → must VANISH here
      (21L, "en", "книги", "echo body twentyone")
    ).toDF("doc_id", "lang", "source", "text")
    val out = Dedup.lineCleanedDocs(docs, Seq("lang", "source")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3))))
      .toMap
    assert(out == Map(
      10L -> (("en", "web", "alpha body ten")),
      11L -> (("en", "web", "bravo body eleven")),
      12L -> (("de", "web", "charlie body twelve")),
      21L -> (("en", "книги", "echo body twentyone"))),
      s"pipeline stage-0 contract broken: $out")
  }

  test("lineCleanedDocs empty-hot shortcut: hot-free corpus passes through unchanged") {
    val sess = spark
    import sess.implicits._
    // No line reaches df ≥ 4 (max df here is 3) → the hot set is empty
    // and the stage takes the AQE-style shortcut: input rows unchanged.
    // The multi-line passthrough fixture above exercises the FULL path's
    // reassembly (non-hot lines reproduced byte-exactly in order), which
    // is the identity the shortcut relies on.
    val docs = Seq(
      (1L, "en", "alpha one\nshared line"),
      (2L, "en", "beta two\nshared line"),
      (3L, "de", "gamma three\nshared line"),
      (4L, "de", "delta four")
    ).toDF("doc_id", "lang", "text")
    val out = Dedup.lineCleanedDocs(docs, Seq("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val expected = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(out == expected, s"hot-free corpus must pass through unchanged: $out")
  }

  test("dd_lines hot-set guard: broadcast under the ceiling, shuffle above, same rows") {
    // Round-12 verdict #3: the forced broadcast(hot) assumed the
    // boilerplate line set stays driver-sized; at web scale it grows with
    // source diversity. The guard counts the hot set and drops the hint
    // above the ceiling. Both regimes are asserted on the SAME planted
    // fixture (the CapBindingSpec pattern: the spec injects the ceiling
    // rather than planting 4M hot lines).
    val sess = spark
    import sess.implicits._
    val header = "COOKIE BANNER accept all cookies"
    val docs = Seq(
      (10L, s"$header\nalpha body ten"), (11L, s"$header\nbravo body eleven"),
      (12L, s"$header\ncharlie body twelve"), (13L, s"$header"),
      (21L, "echo body twentyone")
    ).toDF("doc_id", "text")
    def antiJoinLines(p: String): Seq[String] =
      p.linesIterator.filter(_.contains("LeftAnti")).toSeq
    val pSmall = Dedup.linesFrom(docs).queryExecution.sparkPlan.toString
    assert(antiJoinLines(pSmall).exists(_.contains("BroadcastHashJoin")),
      s"under-ceiling hot set must broadcast:\n$pSmall")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val big = try {
      // -1: the planner may not re-broadcast on its own size estimate —
      // the point is the HINT is gone, as it would be at a web-scale hot
      // set whose true size sits far over any auto threshold.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bigDf = Dedup.linesFrom(docs, hotBroadcastMax = -1L)
      val pBig = bigDf.queryExecution.sparkPlan.toString
      assert(antiJoinLines(pBig).nonEmpty, s"anti-join vanished:\n$pBig")
      assert(antiJoinLines(pBig).forall(l => !l.contains("BroadcastHashJoin")),
        s"over-ceiling hot set must not broadcast:\n$pBig")
      assert(antiJoinLines(pBig).exists(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")),
        s"over-ceiling anti-join must shuffle on the 8-byte hash:\n$pBig")
      bigDf.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3)))).toMap
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    val small = Dedup.linesFrom(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(big == small, "the guard must choose a plan, never change rows")
  }

  test("dd_delta equals the exact near-dup pairs restricted to batch-touching pairs") {
    val all = Dedup.minhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val expected = all.filter { case ((a, b), _) => a % 10 == 3 || b % 10 == 3 }
    val delta = Dedup.deltaDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(delta == expected, s"delta ${delta.size} vs expected ${expected.size}")
    assert(delta.nonEmpty, "sf0.001 must contain batch-touching near-dups")
  }

  test("dd_delta: old×old dups are invisible; batch×old and batch×batch are found") {
    val sess = spark
    import sess.implicits._
    val base = "one two three four five six seven eight nine ten"
    // 1 and 2 are identical OLD docs — a closed-corpus pass reports them,
    // the delta pass must not. 3 and 23 are batch docs (≡3 mod 10): 3
    // duplicates old doc 1, 23 duplicates batch doc 3.
    val docs = Seq(
      (1L, base), (2L, base), (5L, "unrelated words entirely different text here now"),
      (3L, base), (23L, base)
    ).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.WordShingles.wordShingles(col("text"), 3)).as("shingle"))
      .distinct().localCheckpoint()
    def scored(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // The funnel's probe predicate, table-driven: the batch, every
    // document (the closed-corpus case — must equal the exact verify join,
    // old×old pair (1, 2) included) and no document (nothing probes).
    val cases = Seq[(String, Column => Column, Set[(Long, Long, Double)])](
      ("≡ 3 mod 10", c => c % 10 === 3, Set((1L, 3L), (2L, 3L), (1L, 23L),
        (2L, 23L), (3L, 23L)).map { case (a, b) => (a, b, 1.0) }),
      ("every document", Dedup.AllDocs, scored(Dedup.jaccardPairs(sh, 0.8))),
      ("no document", _ => lit(false), Set.empty))
    assert(cases(1)._3.exists(p => p._1 == 1L && p._2 == 2L),
      "the exact reference must report the old×old pair")
    cases.foreach { case (name, inProbe, expected) =>
      val got = scored(Dedup.deltaFrom(sh, inProbe))
      assert(got == expected, s"$name: got $got expected $expected")
    }
  }

  test("dd_embed_hi768: output is exactly the planted pair set, cosines in the blend band") {
    // The 768-d corpus is uniform-per-component (hash-derived), so pair
    // cosines concentrate in ±5σ ≈ ±0.18 — ZERO organic pairs at τ=0.8 —
    // and the plants land at cos = (1+c/2)/√(1.25+c) ≈ 0.894 ± 0.015.
    // The output must therefore be EXACTLY {(v, v+1e7) : v%10=0, v+1
    // exists}, which also pins the funnel's recall at 1.0 on this corpus.
    val nMax = graft.Tables.embeddings(spark, sf)
      .agg(org.apache.spark.sql.functions.max("vec_id")).collect()(0).getLong(0)
    val expected = (0L to nMax by 10).filter(_ + 1 <= nMax)
      .map(v => (v, v + 10000000L)).toSet
    val got = Dedup.embedHi768(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == expected,
      s"diff: ${(got.keySet diff expected) ++ (expected diff got.keySet)}")
    assert(got.values.forall(c => c >= 0.85 && c <= 0.95),
      s"plant cosines out of the blend band: ${got.values.min} .. ${got.values.max}")
  }

  test("dd_embed_hi768: staged expansion parquet equals in-query construction") {
    withTempDir("hi768-staged") { dirPath =>
      val dir = dirPath.toString
      Dedup.expand768(spark, sf)
        .write.mode("overwrite").parquet(s"$dir/embeddings_hi768.parquet")
      val constructed = Dedup.embedHi768(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val staged = Dedup.embedHi768(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(staged == constructed,
        "staged-parquet path must be bit-identical to in-query construction")
    }
  }

  test("staged delta (old buckets from parquet, batch signed fresh) equals in-query") {
    // The chain's own functions with a single batch: seed the index from
    // the old corpus, then one ingest step for the dd_delta batch.
    withTempDir("graft-delta") { stagingPath =>
      val staging = stagingPath.toString
      val inQuery = Dedup.deltaDedup(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val isNew = (c: Column) => c % Dedup.DeltaModulus === Dedup.DeltaResidue
      val sh = Dedup.cappedShingles(spark, sf, None).localCheckpoint()
      val seed = s"$staging/seed.parquet"
      Dedup.seedDeltaIndex(sh, c => !isNew(c), seed)
      val staged = Dedup.deltaIngestStep(spark, sh, isNew, Seq(seed),
          s"$staging/b1.parquet")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(staged == inQuery)
      assert(new java.io.File(seed).exists,
        "old-corpus bucket table must be materialized")
    }
  }

  test("dd_delta_embed equals the τ=0.8 pairs restricted to batch-touching pairs") {
    val all = Dedup.embedHi(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def isNew(id: Long) = id >= 10000000L && id % 20 == 0
    val expected = all.filter { case ((a, b), _) => isNew(a) || isNew(b) }
    val delta = Dedup.deltaEmbed(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(delta == expected, s"delta ${delta.size} vs expected ${expected.size}")
    assert(delta.nonEmpty, "even-base plants must yield batch-touching pairs")
    // The odd-base plants' pairs are old×old — they exist in the closed-
    // corpus result and MUST be absent here, or the restriction (and the
    // oracle's discriminating power) is vacuous.
    assert(all.size > expected.size,
      "corpus must contain old×old pairs the delta pass excludes")
  }

  test("dd_delta_embed: old×old near-dups invisible; batch×old and batch×batch found") {
    val sess = spark
    import sess.implicits._
    // dim-4 planted topology: vectors 1, 2 are identical OLD rows (a
    // closed-corpus pass reports (1,2); the delta pass must not), 5 is
    // orthogonal noise, batch rows 101 and 102 duplicate the old vector.
    val a = Array(1f, 0f, 0f, 0f)
    val corpus = Seq(
      (1L, a), (2L, a), (5L, Array(0f, 1f, 0f, 0f)),
      (101L, a), (102L, a)
    ).toDF("vec_id", "embedding")
    val plan = Dedup.LshPlan(bits = 6, tables = 8, work = 0, candFraction = 0)
    def scored(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // The funnel's probe predicate, table-driven: the batch (symmetric
    // probing), every vector (directional probing — must equal the
    // closed-corpus funnel on the same corpus and plan, old×old pair
    // (1, 2) included) and no vector (nothing probes).
    val cases = Seq[(String, Column => Column, Set[(Long, Long, Double)])](
      ("≥ 100", c => c >= 100L, Set((1L, 101L), (2L, 101L), (1L, 102L),
        (2L, 102L), (101L, 102L)).map { case (x, y) => (x, y, 1.0) }),
      ("every vector", Dedup.AllDocs,
        scored(Dedup.embedBucketedWithPlan(corpus, plan, 0.8, None, dim = 4))),
      ("no vector", _ => lit(false), Set.empty))
    assert(cases(1)._3.exists(p => p._1 == 1L && p._2 == 2L),
      "the closed-corpus funnel must report the old×old pair")
    cases.foreach { case (name, inProbe, expected) =>
      val got = scored(Dedup.deltaEmbedFrom(corpus, plan, 0.8, 4, inProbe))
      assert(got == expected, s"$name: got $got expected $expected")
    }
  }

  test("staged delta-embed (old keys from parquet, batch signed fresh) equals in-query") {
    // The embed chain's own functions with a single batch, on the plan
    // dd_delta_embed solves (same corpus, same cached selectivity).
    withTempDir("graft-delta-emb") { stagingPath =>
      val staging = stagingPath.toString
      val inQuery = Dedup.deltaEmbed(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val (corpusL, plan) = Dedup.hiCorpusAndPlan(spark, sf)
      val corpus = corpusL.localCheckpoint()
      Dedup.seedEmbedDeltaIndex(spark, corpus, c => !Dedup.deltaEmbedIsNew(c),
        plan, Dedup.EmbedDim, staging)
      val staged = Dedup.deltaEmbedIngestStep(spark, corpus, Dedup.deltaEmbedIsNew,
          Dedup.EmbedHiThreshold, staging, Seq(Dedup.embedSigsPath(staging)),
          s"$staging/b1_sigs.parquet")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(staged == inQuery)
      assert(new java.io.File(s"$staging/embed_sigs.parquet").exists,
        "old-corpus signatures must be materialized under the ONE embedding " +
          "staging idiom (embed_sigs.parquet + embed_meta.json manifest)")
      assert(new java.io.File(s"$staging/embed_meta.json").exists,
        "the staged relation must carry its provenance manifest")
    }
  }

  test("delta ingest chain: appended index, per-step pairs, no re-emission, no re-signing") {
    val sess = spark
    import sess.implicits._
    val base = "one two three four five six seven eight nine ten"
    val other = "unrelated words entirely different text content here now indeed"
    // old: 1, 2 identical (old×old — invisible forever), 5 unrelated.
    // B1 (≡3 mod 10): 3, 23 duplicate the old text.
    // B2 (≡7 mod 10): 7, 17 duplicate it too; 27 duplicates OLD doc 5.
    val docs = Seq(
      (1L, base), (2L, base), (5L, other),
      (3L, base), (23L, base),
      (7L, base), (17L, base), (27L, other)
    ).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.WordShingles.wordShingles(col("text"), 3)).as("shingle"))
      .distinct().localCheckpoint()
    withTempDir("graft-chain-spec") { dirPath =>
      val dir = dirPath.toString
      val seedPath = s"$dir/seed.parquet"
      val b1Path = s"$dir/b1.parquet"
      val b2Path = s"$dir/b2.parquet"
      Dedup.seedDeltaIndex(sh, c => c % 10 =!= 3 && c % 10 =!= 7, seedPath)
      def fileSet(p: String): Set[String] =
        new java.io.File(p).listFiles().map(_.getName).toSet
      val seedN = spark.read.parquet(seedPath).count()
      val seedFiles = fileSet(seedPath)
      val s1 = Dedup.deltaIngestStep(spark, sh, _ % 10 === 3,
        Seq(seedPath), b1Path)
      val afterB1 = seedN + spark.read.parquet(b1Path).count()
      val s2 = Dedup.deltaIngestStep(spark, sh, _ % 10 === 7,
        Seq(seedPath, b1Path), b2Path)
      val afterB2 = afterB1 + spark.read.parquet(b2Path).count()
      // APPEND semantics at the file grain: each step publishes exactly its
      // batch's bucket rows as its OWN table under the index root — nothing
      // already staged is ever re-signed or re-written (the seed table's
      // files are bit-level untouched across both ingests).
      assert(fileSet(seedPath) == seedFiles,
        "an ingest step must never rewrite the staged index's existing files")
      val b1Buckets = Dedup.bandedBuckets(sh.filter(col("doc_id") % 10 === 3),
        Dedup.BandRows).count()
      val b2Buckets = Dedup.bandedBuckets(sh.filter(col("doc_id") % 10 === 7),
        Dedup.BandRows).count()
      assert(seedN > 0 && afterB1 - seedN == b1Buckets && afterB2 - afterB1 == b2Buckets,
        s"append must add batch buckets only: $seedN -> $afterB1 -> $afterB2")
      val p1 = s1.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val p2 = s2.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def pairsAmong(ids: Set[Long]) =
        for (a <- ids; b <- ids if a < b) yield (a, b)
      // step 1: pairs among old ∪ B1 touching B1 (B2 has not arrived)
      val exp1 = pairsAmong(Set(1L, 2L, 3L, 23L))
        .filter { case (a, b) => a % 10 == 3 || b % 10 == 3 }
      // step 2: pairs touching B2 over the full corpus — incl. the old×B2
      // pair (5, 27); B1's pairs and (1,2) must NOT reappear
      val exp2 = (pairsAmong(Set(1L, 2L, 3L, 23L, 7L, 17L)) + ((5L, 27L)))
        .filter { case (a, b) => a % 10 == 7 || b % 10 == 7 }
      assert(p1 == exp1, s"step 1: got $p1 expected $exp1")
      assert(p2 == exp2, s"step 2: got $p2 expected $exp2")
      assert((p1 intersect p2).isEmpty, "a pair may be emitted at exactly one step")
      // "Reads but never re-signs the staged product": a further batch's
      // candidate plan (the funnel's shared candidate step) joins the
      // parquet bucket table directly — no minhash aggregate anywhere in it
      // (the only signing happened in the batch's own checkpointed bucket
      // build).
      val isB3 = (c: Column) => c % 10 === 1
      val newB3 = Dedup.bandedBuckets(sh.filter(isB3(col("doc_id"))),
        Dedup.BandRows).localCheckpoint()
      val candPlan = Dedup.lshCandidates(newB3,
          spark.read.parquet(seedPath).unionByName(spark.read.parquet(b1Path))
            .unionByName(spark.read.parquet(b2Path)).unionByName(newB3), isB3)
        .queryExecution.executedPlan.toString
      assert(!candPlan.toLowerCase.contains("minhash"),
        s"ingest must not re-sign the staged product:\n$candPlan")
      assert(candPlan.contains("seed.parquet") && candPlan.contains("b1.parquet"),
        s"staged product must be read as parquet:\n$candPlan")
    }
  }

  test("embed ingest step publishes the batch's signatures at the file grain, seed untouched") {
    // The deltaEmbedIngestStep fusion contract (round 19): the batch's
    // one parquet write IS its signing pass and its index publication —
    // exactly one signature row per batch vector lands in the step's own
    // table, and nothing already staged is rewritten.
    val sess = spark
    import sess.implicits._
    val a = Array(1f, 0f, 0f, 0f)
    val corpus = Seq(
      (1L, a), (2L, a), (5L, Array(0f, 1f, 0f, 0f)),
      (101L, a), (102L, a)
    ).toDF("vec_id", "embedding").localCheckpoint()
    val plan = Dedup.LshPlan(bits = 6, tables = 8, work = 0, candFraction = 0)
    withTempDir("graft-embed-step") { dirPath =>
      val dir = dirPath.toString
      Dedup.seedEmbedDeltaIndex(spark, corpus, c => c < 100L, plan, 4, dir)
      val seedPath = Dedup.embedSigsPath(dir)
      def fileSet(p: String): Set[String] =
        new java.io.File(p).listFiles().map(_.getName).toSet
      val seedFiles = fileSet(seedPath)
      assert(spark.read.parquet(seedPath).count() == 3L,
        "seed must hold one signature row per old vector")
      val b1Path = s"$dir/b1_sigs.parquet"
      val out = Dedup.deltaEmbedIngestStep(spark, corpus, c => c >= 100L,
          0.8, dir, Seq(seedPath), b1Path)
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(spark.read.parquet(b1Path).count() == 2L,
        "the step's table must hold exactly the batch's signature rows")
      assert(fileSet(seedPath) == seedFiles,
        "an ingest step must never rewrite the staged index's existing files")
      assert(out == Set((1L, 101L), (2L, 101L), (1L, 102L), (2L, 102L),
        (101L, 102L)), s"got $out")
    }
  }

  test("dd_delta_embed_chain: per-step pairs equal the bipartite exact form; index appended") {
    // Exact reference: brute-force cosine over the collected hi corpus
    // (sf0.001 — bounded), split by the chain's batch predicates.
    val rows = Dedup.embedHiCorpus(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    def inB1(v: Long) = v >= 10000000L && v % 40 == 0
    def inB2(v: Long) = v >= 10000000L && v % 40 == 20
    val hits = for {
      (ia, va) <- rows; (ib, vb) <- rows if ia < ib && cos(va, vb) >= 0.8
    } yield (ia, ib)
    val exp1 = hits.filter { case (a, b) =>
      (inB1(a) || inB1(b)) && !inB2(a) && !inB2(b) }.toSet
    val exp2 = hits.filter { case (a, b) => inB2(a) || inB2(b) }.toSet
    val out = Dedup.deltaEmbedChain(spark, sf).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toSet
    val got1 = out.filter(_._1 == 1).map(_._2)
    val got2 = out.filter(_._1 == 2).map(_._2)
    assert(got1 == exp1, s"step 1 diff: ${(got1 diff exp1) ++ (exp1 diff got1)}")
    assert(got2 == exp2, s"step 2 diff: ${(got2 diff exp2) ++ (exp2 diff got2)}")
    assert(got1.nonEmpty && got2.nonEmpty,
      "both ingest steps must find batch-touching pairs on this corpus")
    assert((got1 intersect got2).isEmpty, "a pair may be emitted at exactly one step")
  }

  test("cascade sketch guard: broadcast under the ceiling, hash-build above, same rows") {
    // Round-13: the sketch relation broadcasts onto the candidate stream
    // only under CascadeSketchBroadcastMax (at 10⁹ vectors the sketches
    // are ~48 GB — no broadcast budget holds them); above it both
    // attaches fall back to a SHUFFLE_HASH build of the sketch side.
    // Both regimes on the SAME fixture, ceiling injected (the
    // CapBindingSpec pattern), and the rows must be identical — the
    // guard chooses a plan, never an answer.
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(31)
    val dim = 16
    val base = (0 until 12).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
    }
    val dups = (0 until 3).map { i =>
      val v = base(i)._2
      (100L + i, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val corpus = (base ++ dups).toDF("vec_id", "embedding")
    val ids = (base ++ dups).map(_._1)
    val cands = (for { a <- ids; b <- ids if a < b } yield (a, b))
      .toDF("vec_a", "vec_b")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val small = Dedup.cascadeVerify(corpus, cands, 0.8, dim)
    val pSmall = small.queryExecution.sparkPlan.toString
    assert(pSmall.contains("BroadcastHashJoin"),
      s"under-ceiling sketch attach must broadcast:\n$pSmall")
    assert(!pSmall.contains("SortMergeJoin"),
      s"the candidate stream must never sort:\n$pSmall")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val gotBig = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = Dedup.cascadeVerify(corpus, cands, 0.8, dim,
        sketchBroadcastMax = 0L)
      val pBig = big.queryExecution.sparkPlan.toString
      assert(!pBig.contains("BroadcastHashJoin"),
        s"over-ceiling sketch attach must not broadcast:\n$pBig")
      assert(pBig.contains("ShuffledHashJoin"),
        s"over-ceiling attach must hash-build, not sort-merge:\n$pBig")
      assert(!pBig.contains("SortMergeJoin"),
        s"the candidate stream must never sort, either regime:\n$pBig")
      pairs(big)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    val gotSmall = pairs(small)
    assert(gotBig == gotSmall, "the guard must choose a plan, never change rows")
    val planted = (0 until 3).map(i => (i.toLong, 100L + i)).toSet
    assert(planted.subsetOf(gotSmall),
      s"near-copy pairs at cos ≈ 1 must survive cascade and exact gate: $gotSmall")
  }

  test("keep_best picks the max-quality member per cluster, ties to min id") {
    val quality = TextAnalysis.quality(spark, sf)
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val members = Dedup.clusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val out = Dedup.keepBest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty, "planted near-dups must produce clusters")
    // Exactly the clustered docs, each labeled once.
    assert(out.map(_._1).toSet == members.values.flatten.toSet)
    assert(out.length == out.map(_._1).distinct.length)
    for ((doc, cl, keep) <- out) {
      val mem = members(cl)
      assert(mem.contains(doc) && mem.contains(keep))
      // keep = rank-1 by (quality DESC, doc_id ASC), brute-forced.
      val expect = mem.toSeq.sortBy(d => (-quality(d), d)).head
      assert(keep == expect,
        s"cluster $cl keeps $keep, brute force says $expect " +
          s"(qualities ${mem.toSeq.sorted.map(d => d -> quality(d))})")
    }
  }
}
