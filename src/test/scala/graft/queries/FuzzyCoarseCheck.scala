package graft.queries

import org.apache.spark.sql.functions._

/** Differential gate for the fuzzy hot-bucket coarsening (round 16,
  * VERDICT r15 #1): past CoarseMinMass raw join mass, members of hot
  * fine buckets are re-keyed at coarse 4-row bands — lossy by design for
  * the low-J candidate mass, and like the sketch cut its activated
  * regime never overlaps an oracle corpus. For each staged scale point
  * this main runs dd_decontaminate_fuzzy twice — once with coarsening
  * forced ON (threshold 0), once forced OFF (Long.MaxValue), the
  * shipped sketch-cut threshold in both laps — and requires IDENTICAL
  * output row sets, emitting one JSON artifact
  * (FUZZYCOARSE_r{N}.json via scripts/round_probes.sh).
  *
  * Round 17 (VERDICT r16 #4): multi-point, so the 64-pairs/doc guard
  * constant's bracket — sf10 reads ~23 pairs/doc (coarse LOSES), the
  * pre-floor 300× collapse read 127 (fine OOMs) — gains its measured
  * middle: the sf20 staging (~1M docs, ScaleCorpus strides=199) is
  * built to land in the ~60–80 pairs/doc regime the constant claims to
  * split. Both arms' warm walls at that point say whether the middle
  * is flat (either arm fine — document and stop) or sharp (re-derive
  * the constant from the measurement).
  *
  *   sbt "Test/runMain graft.queries.FuzzyCoarseCheck OUT.json <sfDir>..."
  *   (legacy single-dir form `FuzzyCoarseCheck <sfDir> [out.json]` still
  *   accepted: a first arg not ending in .json is a corpus dir)
  */
object FuzzyCoarseCheck {
  def main(args: Array[String]): Unit = {
    val (outPath, dirs) =
      if (args.nonEmpty && args.head.endsWith(".json"))
        (Some(args.head), args.toSeq.drop(1))
      else if (args.nonEmpty)
        (args.drop(1).headOption, Seq(args.head))
      else (None, Seq("/tmp/graft_scale/sf10"))
    val spark = graft.GraftSession("fuzzy-coarse-check")

    val points = for (sf <- dirs) yield {
      // Measure the guard's own quantity through the query's stages
      // (capped basis → floored signatures → fine buckets → occupancy),
      // so the artifact records the mass the shipped threshold is read
      // against, plus the hot-bucket census that says how much of it the
      // coarse path re-keys.
      val sh = Dedup.cappedShingles(spark, sf, None).localCheckpoint()
      val sigs = Dedup.minhashSigs(sh)
        .filter(col("nsh") >= CorpusOps.MinCappedShingles)
        .select(col("doc_id"), col("sig"))
        .localCheckpoint()
      val occ = Dedup.bucketsFromSigs(sigs, CorpusOps.FuzzyBandRows)
        .select(col("band"), col("bh"),
          (col("doc_id") % CorpusOps.EvalModulus === 0).as("is_eval"))
        .groupBy(col("band"), col("bh"))
        .agg(count_if(col("is_eval")).as("ne"),
          count_if(!col("is_eval")).as("nt"))
        .localCheckpoint()
      val totals = occ.agg(coalesce(sum(col("ne") * col("nt")), lit(0L)),
        coalesce(sum(col("ne") + col("nt")), lit(0L))).head()
      val mass = totals.getLong(0)
      val nSigned = totals.getLong(1) / (Dedup.NumPerms.toLong / CorpusOps.FuzzyBandRows)
      // The shipped decision is ADAPTIVE (round 16): max of the absolute
      // floor and CoarsePairsPerDoc × signed docs.
      val adaptive = math.max(CorpusOps.CoarseMinMass,
        CorpusOps.CoarsePairsPerDoc * nSigned)
      val pairsPerDoc = if (nSigned > 0) mass.toDouble / nSigned else 0.0
      val hotBuckets = occ.filter(col("ne") + col("nt") > CorpusOps.HotBucketOcc)
        .count()
      val hotMass = occ.filter(col("ne") + col("nt") > CorpusOps.HotBucketOcc)
        .agg(coalesce(sum(col("ne") * col("nt")), lit(0L))).head().getLong(0)
      // Free the per-point checkpoints before the timed arms: the probe
      // relations above must not sit in the block manager as memory
      // pressure under the laps.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))

      def rows(coarseMinMass: Long): (Array[String], Double) = {
        val t0 = System.nanoTime()
        val r = CorpusOps.decontaminateFuzzyCoarse(spark, sf,
            CorpusOps.SketchCutMinMass, coarseMinMass, None)
          .collect().map(_.toString).sorted
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[fuzzycoarse] $sf coarseMinMass=$coarseMinMass rows=${r.length} wall=$wall%.1fs")
        (r, wall)
      }
      // Lap protocol (round 16): the first lap of anything in a fresh JVM
      // carries 60+ s of JIT/page-cache warmup at this scale (an
      // UNCHANGED query measured 74.5 → 3.6 s, round 16), so the walls that
      // decide the threshold are min-of-2 over ALTERNATING warm laps after
      // one untimed warm-up; row equality is asserted on the first pair.
      rows(Long.MaxValue) // untimed warm-up
      val (on, onW1) = rows(0L)
      val (off, offW1) = rows(Long.MaxValue)
      val (_, onW2) = rows(0L)
      val (_, offW2) = rows(Long.MaxValue)
      val onWall = math.min(onW1, onW2)
      val offWall = math.min(offW1, offW2)
      val equal = on.sameElements(off)
      val line = f"""{"sf":"$sf","mass":$mass,"signedDocs":$nSigned,""" +
        f""""pairsPerDoc":$pairsPerDoc%.1f,""" +
        f""""hotBuckets":$hotBuckets,"hotMass":$hotMass,""" +
        f""""adaptiveThreshold":$adaptive,""" +
        f""""shippedWouldEngage":${mass > adaptive},""" +
        f""""coarseOnRows":${on.length},"coarseOffRows":${off.length},""" +
        f""""coarseOnWall":$onWall%.1f,"coarseOffWall":$offWall%.1f,"equal":$equal}"""
      println("[fuzzycoarse] " + line)
      require(equal, "hot-bucket coarsening changed the fuzzy-decontamination " +
        s"output in the activated regime at $sf:\n on-only=${on.diff(off).take(5).mkString("; ")}" +
        s"\n off-only=${off.diff(on).take(5).mkString("; ")}")
      line
    }
    val out =
      if (points.length == 1) points.head
      else s"""{"points":[${points.mkString(",")}]}"""
    outPath.foreach(p => java.nio.file.Files.write(
      java.nio.file.Paths.get(p), (out + "\n").getBytes("UTF-8")))
    spark.stop()
  }
}
