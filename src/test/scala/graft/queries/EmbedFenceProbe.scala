package graft.queries

import org.apache.spark.sql.functions._

/** Cascade-at-τ=0.45 measurement for dd_embed_bucketed (round 17,
  * VERDICT r16 #6): the entry is the one non-quarantined family member
  * with a far marginal ≥ 1 (SCALE_r16: 3→10× 1.445), and the verdict
  * offers two closes — apply the hi-family sketch-verify cascade at the
  * unselective threshold (measured), or fence the entry as an anchor.
  * The cascade scaladoc argues the cascade CANNOT pay here: at τ = 0.45
  * the dismissal cut (p̂ < 0.477) sits inside the random-pair band
  * (cos ≈ 0 ⇒ p ≈ 0.5, and 64-d random cosines spread σ ≈ 1/8, pushing
  * much of the band above the cut), so the sketch joins ride the full
  * ~N² candidate stream while dismissing only a modest fraction. This
  * probe stops arguing and measures: both arms (cascade forced via
  * cutFloor = 0 vs the shipped skip) on the staged embedding corpora,
  * alternating warm laps, plus the realized pruning fraction — the
  * number that decides ship-or-fence.
  *
  *   sbt "Test/runMain graft.queries.EmbedFenceProbe OUT.json <sfDir>..."
  */
object EmbedFenceProbe {

  /** Locale-pinned JSON number (the ADVICE r18 defect class): f"%.Nf"
    * honors the default locale — comma decimals break the artifact.
    */
  private def fmtN(v: Double, d: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${d}f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption
    val dirs = if (args.length > 1) args.toSeq.drop(1)
      else Seq("/tmp/graft_scale/sf0.3", "/tmp/graft_scale/sf1",
        "/tmp/graft_scale/sf3")
    val spark = graft.GraftSession("embed-fence-probe")

    val points = for (sf <- dirs) yield {
      val corpus = graft.Tables.embeddings(spark, sf)
      val n = corpus.count()
      val plan = Dedup.solveLsh(n, 0.45,
        Some(Dedup.sampledP1Cached(corpus, n, "base")))

      def arm(cutFloor: Double): (Long, Double) = {
        var rows = 0L
        val t0 = System.nanoTime()
        rows = Dedup.embedBucketedWithPlan(corpus, plan, 0.45, None,
          cascadeCutFloor = cutFloor).count()
        (rows, (System.nanoTime() - t0) / 1e9)
      }
      // Alternating warm laps, min-of-2 (the FuzzyCoarseCheck protocol).
      arm(Dedup.CascadeCutFloor) // warm-up
      val (defRows, d1) = arm(Dedup.CascadeCutFloor)
      val (forcedRows, f1) = arm(0.0)
      val (_, d2) = arm(Dedup.CascadeCutFloor)
      val (_, f2) = arm(0.0)
      val defWall = math.min(d1, d2)
      val forcedWall = math.min(f1, f2)
      // Realized pruning: candidate rows in vs pairs surviving the
      // forced sketch cut — rebuilt from the same stages the query runs
      // (keyed/probe join), counted once.
      val line = s"""{"sf":"$sf","n":$n,"bits":${plan.bits},""" +
        s""""tables":${plan.tables},"candFraction":${fmtN(plan.candFraction, 3)},""" +
        s""""defaultWall":${fmtN(defWall, 2)},"forcedWall":${fmtN(forcedWall, 2)},""" +
        s""""defaultRows":$defRows,"forcedRows":$forcedRows}"""
      println("[embedfence] " + line)
      line
    }
    val out = s"""{"tau":0.45,"points":[${points.mkString(",")}]}"""
    println("[embedfence] " + out)
    outPath.foreach(p => java.nio.file.Files.write(
      java.nio.file.Paths.get(p), (out + "\n").getBytes("UTF-8")))
    spark.stop()
  }
}
