package graft

import org.apache.spark.sql.DataFrame

/** Per-round ANN recall artifact (RECALL_r{N}.json).
  *
  * The approximate ANN families (ann_ivf, ann_ivf_kmeans, ann_ivf_pq,
  * ann_lsh) are permanently `no_oracle` in the driver's correctness gate —
  * approximate by construction — so their quality evidence lived only in
  * SimilaritySpec's recall-floor assertions, a pass/fail buried in sbt
  * output. This main surfaces the actual number each round: mean
  * recall@5 of each family against the exact brute-force ann_topk on the
  * same query set, written as one committed JSON artifact. Floors stay
  * asserted in the spec; this is the visible instrument.
  */
object RecallProbe {

  /** Locale-pinned JSON number (the ADVICE r18 defect class): f"%.Nf"
    * honors the default locale — comma decimals break the artifact.
    */
  private def fmtN(v: Double, d: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${d}f", Double.box(v))


  private def resultMap(df: DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  /** Recall of each approximate family vs the exact baseline on ONE
    * corpus dir: the baseline is recomputed per dir, so the measurement
    * stays well-defined on the scale-curve corpora (replicas legitimately
    * enter some top-5 sets as the corpus grows).
    */
  private def recallAt(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): (String, Map[String, Double], Long, Int) = {
    val n = Tables.embeddings(spark, sfDir).count()
    val exact = resultMap(SparkEntry.queries("ann_topk")(spark, sfDir))
    // ann_filtered searches a predicate stratum — its baseline is the
    // exact FILTERED brute force, not ann_topk (whose neighbors mostly
    // fail the predicate).
    val exactFiltered = resultMap(
      graft.queries.Similarity.annFilteredExact(spark, sfDir))
    val exactRare = resultMap(
      graft.queries.Similarity.annFilteredRareExact(spark, sfDir))
    val exactRange = resultMap(
      graft.queries.Similarity.annFilteredRangeExact(spark, sfDir))
    // ann_filtered_range's IVF branch serves the PER-STRATUM index
    // (round 16); this extra row measures the corpus-wide model on the
    // same stratum at its own calibrated depth, so "stratum index ≥
    // corpus-wide baseline" is a committed number per scale point, not
    // an argument. (Not a queries() entry — probe-only comparison.)
    val rangePred = graft.queries.Similarity.filterPredRange(n)
    val entries = Seq("ann_ivf", "ann_ivf_kmeans", "ann_ivf_pq", "ann_lsh",
        "ann_ivf_append", "ann_filtered", "ann_filtered_rare",
        "ann_filtered_auto", "ann_filtered_range",
        "ann_filtered_range_corpuswide").map { fam =>
      val baseline = fam match {
        case "ann_filtered" => exactFiltered
        // auto ships on the rare stratum; below the cost crossover its
        // recall is 1.0 BY CONSTRUCTION (exact branch) — the probe row
        // exists to catch a dispatch flip at a grown corpus, where the
        // IVF branch's calibrated recall takes over.
        case "ann_filtered_rare" | "ann_filtered_auto" => exactRare
        // the range stratum sits ABOVE the crossover on grown corpora
        // (50% selectivity, scale-invariant), so this row reads the IVF
        // branch's calibrated recall across the scale curve.
        case "ann_filtered_range" | "ann_filtered_range_corpuswide" =>
          exactRange
        case _ => exact
      }
      val approx = resultMap(fam match {
        case "ann_filtered_range_corpuswide" =>
          graft.queries.Similarity.annFilteredWith(spark, sfDir, rangePred, "range")
        case _ => SparkEntry.queries(fam)(spark, sfDir)
      })
      val recalls = baseline.map { case (q, nn) =>
        approx.get(q).map(a => (a intersect nn).size.toDouble / nn.size)
          .getOrElse(0.0)
      }
      val mean = recalls.sum / recalls.size
      println(f"[recall] $sfDir $fam%-15s recall@5 = $mean%.4f over ${recalls.size} queries (n=$n)")
      fam -> mean
    }
    val body = entries
      .map { case (f, r) => "\"" + f + "\":" + fmtN(r, 4) }
      .mkString(",")
    val line = s"""{"sf":"$sfDir","n":$n,"k":5,"baseline":"ann_topk",""" +
      s""""nQueries":${exact.size},"recall":{$body}}"""
    (line, entries.toMap, n, exact.size)
  }

  /** Hard gate (round 16, VERDICT r15 #6 done-bar): at every grown point
    * the per-stratum index must not read below the corpus-wide model on
    * the same stratum (measured: 0.995 vs 0.990 at 6k, 1.000 vs 0.960 at
    * 20k — and it touches comparable rows, rangeBudgetDiag). n < 5000 is
    * exempt: at 2000 vectors both probe ~2/3 of the index and the
    * comparison is 1-neighbor noise (0.970 vs 0.995 measured), not a
    * model property. Round 17 (ADVICE r16): the gate runs in main AFTER
    * the artifact is on disk — a marginal inversion at a new scale point
    * must fail loudly but leave the measured rows as evidence, not abort
    * the whole multi-point probe with nothing committed — and tolerates
    * exactly one flipped query at nQueries granularity (1/(k·nQueries)
    * of mean recall): a 0.9950-vs-0.9952 single-neighbor flip is probe
    * noise, a model regression moves whole queries.
    */
  private def stratumGate(em: Map[String, Double], n: Long,
                          nQueries: Int): Unit =
    if (n >= 5000) {
      val eps = 1.0 / (5.0 * nQueries)
      require(em("ann_filtered_range") >= em("ann_filtered_range_corpuswide") - eps,
        s"per-stratum range index reads BELOW the corpus-wide model at n=$n: " +
          s"${em("ann_filtered_range")} < ${em("ann_filtered_range_corpuswide")} - $eps")
    }

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("/tmp/recall.json")
    // Extra args = scale-curve corpus dirs (verdict r8 #3): recall is
    // re-measured per dir as B grows with the corpus. No extra args →
    // the single SPARK_GRAFT_SF_DIR corpus, the round-8 artifact shape.
    val dirs =
      if (args.length > 1) args.toSeq.drop(1)
      else Seq(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession("graft-recall")
    val results = dirs.map(d => recallAt(spark, d))
    val lines = results.map(_._1)
    val out =
      if (lines.size == 1) lines.head
      else s"""{"points":[${lines.mkString(",")}]}"""
    // Artifact FIRST, gates AFTER (ADVICE r16): every measured point is
    // on disk before any require can abort the JVM.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath), (out + "\n").getBytes("UTF-8"))
    println(s"[recall] wrote $outPath")
    results.foreach { case (_, em, n, nq) => stratumGate(em, n, nq) }
    spark.stop()
  }
}
