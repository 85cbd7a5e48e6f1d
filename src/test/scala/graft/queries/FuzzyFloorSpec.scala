package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Pins the fuzzy family's degenerate-basis floor (round 15): docs with
  * fewer than MinCappedShingles surviving shingles are INCOMPARABLE and
  * must not emit pairs — the measured 300× failure mode was the df cap
  * reducing 1.5M docs to ~1.2 surviving shingles each, signatures
  * degenerating, and 53M J=1.0-on-one-shingle candidates OOMing
  * verification. Planted here in miniature: a long eval/train near-dup
  * pair (comparable, must be found) and a short identical pair (3
  * shingles each — under the floor, must be excluded even though its
  * basis Jaccard is 1.0).
  */
class FuzzyFloorSpec extends SparkSuite {

  test("docs under the surviving-shingle floor are incomparable; others unaffected") {
    val sess = spark
    import sess.implicits._
    val longText = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val longNear = longText + " uniform" // J well above 0.5, >= 5 shingles
    val shortText = "red green blue cyan magenta" // 5 words -> 3 shingles < floor
    val docs = Seq(
      // eval ids are doc_id % 7 == 0
      (70L, longText, "en", "web"),
      (71L, longNear, "en", "web"),
      (140L, shortText, "en", "web"),
      (141L, shortText, "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("graft_fuzzy_floor") { dir =>
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = CorpusOps.decontaminateFuzzy(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out.contains((71L, 70L)),
        s"comparable near-dup pair must be found; got $out")
      assert(!out.exists(p => p._1 == 141L || p._2 == 140L),
        s"sub-floor docs (3 shingles < ${CorpusOps.MinCappedShingles}) must " +
          s"be incomparable; got $out")
    }
  }

  test("floor is inert on every driver-verified corpus (oracle-divergence sentinel)") {
    // ADVICE r15 low: the floor changes output semantics (sub-floor docs
    // never emit pairs) but is deliberately NOT restated in the static
    // DuckDB oracle — the same discipline as the df cap, valid only
    // while no verified corpus contains a sub-floor doc. This assertion
    // moves that invariant from prose to CI: if a future testdata
    // regeneration ships a doc with < MinCappedShingles surviving
    // shingles, the divergence surfaces HERE at staging time as a named
    // failure instead of in the driver gate as a false-alarm hash
    // mismatch. sf0.01 is the driver's verify corpus; sf0.001 rides
    // along because the suite already reads it; sf0.1 (round 17, ADVICE
    // r16) because bench/recall/scale artifacts all run there and the
    // staged scale corpora grow from it.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val minNsh = Dedup.minhashSigs(Dedup.cappedShingles(spark, dir, None))
        .agg(min(col("nsh"))).head().getLong(0)
      assert(minNsh >= CorpusOps.MinCappedShingles,
        s"$dir has a doc with $minNsh < ${CorpusOps.MinCappedShingles} " +
          "surviving shingles: the fuzzy floor is NO LONGER INERT on a " +
          "driver-verified corpus — restate it in decontaminateFuzzySql " +
          "(HAVING count(*) >= floor on the shingle basis) before shipping")
    }
  }
}
