package graft.queries

import org.apache.spark.sql.functions._

/** Differential gate for the fuzzy-decontamination sketch cut (ADVICE
  * r14): above SketchCutMinMass candidate pairs the cut is LOSSY by
  * design (true-pair miss ~1e-5 at J = tau), and before this check the
  * only cut-ON coverage was the tiny planted corpus — a sketchCutPairs
  * regression in the activated regime would have been invisible to the
  * sf0.1 oracle gate (which never crosses the threshold). This main runs
  * dd_decontaminate_fuzzy twice at a staged scale point where the cut
  * genuinely engages — once with the shipped threshold, once with the
  * cut disabled — and requires IDENTICAL output row sets, emitting one
  * JSON line for the round artifact (FUZZYCUT_r{N}.json via
  * scripts/round_probes.sh).
  *
  *   sbt "Test/runMain graft.queries.FuzzyCutCheck /tmp/graft_scale/sf3 [out.json]"
  */
object FuzzyCutCheck {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/tmp/graft_scale/sf3"
    val outPath = if (args.length > 1) Some(args(1)) else None
    val spark = graft.GraftSession("fuzzy-cut-check")

    // Recompute the raw candidate count through the query's own stages —
    // INCLUDING the round-15 degenerate-basis floor — so the engage
    // decision below mirrors what the query would see. The cut is then
    // driven via an injected threshold guaranteed to engage it (half the
    // measured raw count): the differential certifies the CUT MACHINERY
    // is lossless on this corpus's real candidate distribution, whether
    // or not the shipped 100k threshold happens to trip here.
    val sh = Dedup.cappedShingles(spark, sf, None).localCheckpoint()
    val sigs = Dedup.minhashSigs(sh)
      .filter(col("nsh") >= CorpusOps.MinCappedShingles)
      .select(col("doc_id"), col("sig"))
      .localCheckpoint()
    val buckets = Dedup.bucketsFromSigs(sigs, CorpusOps.FuzzyBandRows)
    val evalB = buckets.filter(col("doc_id") % CorpusOps.EvalModulus === 0)
      .select(col("band"), col("bh"), col("doc_id").as("eval_doc"))
    val trainB = buckets.filter(col("doc_id") % CorpusOps.EvalModulus =!= 0)
      .select(col("band"), col("bh"), col("doc_id").as("train_doc"))
    val rawPairs = evalB.hint("SHUFFLE_HASH").join(trainB, Seq("band", "bh"))
      .select(col("train_doc"), col("eval_doc")).distinct().count()
    require(rawPairs >= 2,
      s"staged point $sf produced no candidate pairs - nothing to cut")
    val engageAt = math.max(1L, rawPairs / 2)

    def rows(cutMinMass: Long): Array[String] = {
      val t0 = System.nanoTime()
      val r = CorpusOps.decontaminateFuzzyCut(spark, sf, cutMinMass)
        .collect().map(_.toString).sorted
      println(f"[fuzzycut] cutMinMass=$cutMinMass rows=${r.length} " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }
    val cutOn = rows(engageAt)
    val cutOff = rows(Long.MaxValue)
    val equal = cutOn.sameElements(cutOff)
    val line = s"""{"sf":"$sf","rawPairs":$rawPairs,"engagedAt":$engageAt,""" +
      s""""shippedThreshold":${CorpusOps.SketchCutMinMass},""" +
      s""""shippedWouldEngage":${rawPairs > CorpusOps.SketchCutMinMass},""" +
      s""""cutOnRows":${cutOn.length},"cutOffRows":${cutOff.length},""" +
      s""""equal":$equal}"""
    println("[fuzzycut] " + line)
    outPath.foreach(p => java.nio.file.Files.write(
      java.nio.file.Paths.get(p), (line + "\n").getBytes("UTF-8")))
    require(equal, "sketch cut changed the fuzzy-decontamination output " +
      s"in the activated regime:\n cut-only=${cutOn.diff(cutOff).take(5).mkString("; ")}" +
      s"\n off-only=${cutOff.diff(cutOn).take(5).mkString("; ")}")
    spark.stop()
  }
}
