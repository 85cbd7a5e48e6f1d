package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Engaged-floor tests for the generalized degenerate-basis floor (round
  * 16, VERDICT r15 #2): round 15 shipped the floor fuzzy-only; the
  * shared capped basis means dd_minhash and dd_winnow degenerate
  * identically past ~100× duplication density. Each family gets a
  * planted corpus where the df cap genuinely fires (1100 docs sharing a
  * template, df 1100 > ShingleDfCap 1000) leaving 50-doc groups with
  * identical sub-floor residues — J = 1.0 noise that would all-pair
  * quadratically (22 × C(50,2) ≈ 27k pairs here, 53M at the measured
  * 300× staging) — plus a genuine comparable near-dup pair that must
  * still be found. The precondition (residue size < floor, identical
  * within a group) is asserted too, so the corpus can never silently
  * stop exercising the floor.
  */
class BasisFloorSpec extends SparkSuite {

  private def writeDocs(dir: java.nio.file.Path, rows: Seq[(Long, String)]): Unit = {
    val sess = spark
    import sess.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("dd_minhash: sub-floor residue groups are incomparable; comparable pairs found") {
    val template = (1 to 12).map(i => s"t$i").mkString(" ")
    val cluster = (0L until 1100L).map { id =>
      val grp = id / 50 // 22 groups of 50 sharing a 3-word tail
      (id, s"$template g${grp}a g${grp}b g${grp}c")
    }
    // Comparable near-dup pair: 30 unique words, last word edited →
    // 27 of 29 shingles shared, J = 0.931 ≥ 0.8.
    val base = (1 to 30).map(i => s"u$i").mkString(" ")
    val edited = (1 to 29).map(i => s"u$i").mkString(" ") + " u30x"
    withTempDir("graft_basis_floor") { dir =>
      writeDocs(dir, cluster ++ Seq((2000001L, base), (2000002L, edited)))
      // Precondition: the cap fired and left each cluster doc a 3-element
      // residue (2 boundary shingles + the tail), identical within a
      // group — the J = 1.0 explosion shape the floor exists for.
      val sh = Dedup.cappedShingles(spark, dir.toString, None).localCheckpoint()
      val nsh = Dedup.minhashSigs(sh).filter(col("doc_id") < 1100L)
        .agg(min(col("nsh")), max(col("nsh"))).head()
      assert(nsh.getLong(0) == 3 && nsh.getLong(1) == 3,
        s"planted residue drifted: nsh range ${nsh.getLong(0)}..${nsh.getLong(1)}")
      // (shingle values are hash-compacted longs since round 16 —
      // compare them type-agnostically)
      val g0 = sh.filter(col("doc_id") === 0L).select("shingle")
        .collect().map(_.get(0)).toSet
      val g1 = sh.filter(col("doc_id") === 1L).select("shingle")
        .collect().map(_.get(0)).toSet
      assert(g0 == g1 && g0.size == 3,
        s"same-group residues must be identical (J=1.0 without the floor): $g0 vs $g1")

      val pairs = Dedup.minhash(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!pairs.exists(p => p._1 < 1100L && p._2 < 1100L),
        s"sub-floor docs must emit no pairs; got ${pairs.filter(p => p._1 < 1100L).take(5)}")
      assert(pairs.contains((2000001L, 2000002L)),
        s"comparable near-dup pair lost by the floor; got $pairs")
    }
  }

  test("dd_winnow: sub-floor fingerprint sets are incomparable; comparable pairs found") {
    // Char-gram analogue: a 60-char template (every template-only
    // fingerprint df = 1100 → capped away) + a 4-char group tail whose
    // boundary grams leave < 5 surviving fingerprints per doc.
    val template = "the quick brown fox jumps over the lazy dog again and more"
    val cluster = (0L until 1100L).map { id =>
      val grp = id / 50
      (id, f"$template g$grp%02d")
    }
    val baseText = "completely unrelated prose about distributed query engines " +
      "and columnar storage formats for training data pipelines"
    val editText = "completely unrelated prose about distributed query engines " +
      "and columnar storage formats for training data pipeline!"
    withTempDir("graft_basis_floor") { dir =>
      writeDocs(dir, cluster ++ Seq((2000001L, baseText), (2000002L, editText)))
      // Precondition: the winnow residue is genuinely sub-floor and
      // identical within a group.
      val sets = Dedup.winnowDocSets(spark, dir.toString).localCheckpoint()
      val nFp = sets.filter(col("doc_id") < 1100L)
        .agg(min(col("n")), max(col("n"))).head()
      assert(nFp.getInt(1) < Dedup.DegenerateBasisFloor,
        s"planted winnow residue must be sub-floor; got ${nFp.getInt(0)}..${nFp.getInt(1)}")
      val comparable = sets.filter(col("doc_id") >= 2000000L)
        .agg(min(col("n"))).head().getInt(0)
      assert(comparable >= Dedup.DegenerateBasisFloor,
        s"planted near-dup docs must stay comparable; n = $comparable")

      val pairs = Dedup.winnowPairs(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!pairs.exists(p => p._1 < 1100L && p._2 < 1100L),
        s"sub-floor docs must emit no pairs; got ${pairs.filter(p => p._1 < 1100L).take(5)}")
      assert(pairs.contains((2000001L, 2000002L)),
        s"comparable near-dup pair lost by the floor; got $pairs")
    }
  }

  test("hash compaction is collision-free on every driver-verified corpus (sentinel)") {
    // The signature families join/count shingles by xxhash64 since round
    // 16 (Dedup.hashCompact) while the oracles state string equality; a
    // 64-bit collision between two DIFFERENT shingles of a corpus would
    // perturb a Jaccard count by 1. This sentinel pins the regime where
    // the two are EXACTLY equal — zero collisions among each verified
    // corpus's distinct shingles — at staging time, the same discipline
    // as the floor and coarse-guard sentinels. (At 100 TB the expected
    // collision count is ~n²/2⁶⁵ merged df pairs — analyzed on
    // hashCompact; this gate is about the driver-verified corpora.)
    import org.apache.spark.sql.functions.countDistinct
    // n = 3: the signature families' basis; n = 8: the decontamination
    // gram basis (dd_decontaminate / pipeline_v2 stage 4 — compacted
    // since round 19).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1"); n <- Seq(3, 8)) {
      val sh = graft.Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(graft.functions.WordShingles.wordShingles(col("text"), n))
            .as("shingle"))
      val r = sh.agg(countDistinct(col("shingle")),
        countDistinct(xxhash64(col("shingle")))).head()
      assert(r.getLong(0) == r.getLong(1),
        s"$dir has ${r.getLong(0) - r.getLong(1)} xxhash64 $n-gram " +
          "collision(s): hash-equality no longer matches the oracle's " +
          "string equality on a driver-verified corpus")
    }
  }

  test("winnow floor is inert on every driver-verified corpus (sentinel)") {
    // Companion to FuzzyFloorSpec's shingle-basis sentinel: dd_winnow's
    // oracle states the exact capped-overlap form with no floor, valid
    // only while no verified corpus carries a sub-floor fingerprint set.
    // sf0.1 added round 17 (ADVICE r16): the scale/bench corpora grow
    // from it, so its basis must be floor-clean too.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val minN = Dedup.winnowDocSets(spark, dir)
        .agg(min(col("n"))).head().getInt(0)
      assert(minN >= Dedup.DegenerateBasisFloor,
        s"$dir has a doc with $minN < ${Dedup.DegenerateBasisFloor} winnow " +
          "fingerprints: the floor is no longer inert on a driver-verified " +
          "corpus — restate it in the dd_winnow oracle before shipping")
    }
  }
}
