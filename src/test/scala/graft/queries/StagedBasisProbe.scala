package graft.queries

import org.apache.spark.sql.DataFrame

/** Recompute-vs-staged crossover measurement for the shared shingle
  * basis (round 17, VERDICT r16 #1 — "build the crossover measurement,
  * then a dispatch that reads staged basis when present").
  *
  * The deployment question the artifact answers: a production pipeline
  * signs a corpus once and then runs R signature-family passes over it
  * (decontaminate, minhash dedup, delta seeding — the flagship runs ≥ 2
  * on its own). Staging pays `stageWrite` once to replace every pass's
  * `basisRecompute` (tokenize → shingle → distinct → compact) with
  * `stagedRead` (a parquet scan of 8 B longs). The crossover reuse
  * count is
  *
  *   R* = stageWrite / (queryRecompute − queryStaged)
  *
  * per query — below R* recompute wins (the sf0.1 regime the
  * minhashStaged scaladoc has documented since round 2), above it the
  * staged form wins, and a NEGATIVE denominator means staging never
  * wins at that corpus size. Measured at three corpus decades so the
  * trend with scale — the 100 TB direction — is a curve, not a point.
  *
  *   sbt "Test/runMain graft.queries.StagedBasisProbe OUT.json <sfDir>..."
  */
object StagedBasisProbe {

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Locale-pinned number for the JSON artifact (ADVICE r18): f"%.3f"
    * honors the default locale — comma decimals break the JSON. Same
    * fix as Bench.fmt2 / EmbedStagedProbe.fmt3.
    */
  private def fmt3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption
    val dirs = if (args.length > 1) args.toSeq.drop(1)
      else Seq("/tmp/graft_scale/sf0.1", "/tmp/graft_scale/sf1",
        "/tmp/graft_scale/sf10")
    val spark = graft.GraftSession("staged-basis-probe")
    // GRAFT_STAGED_QUERIES: comma-separated subset filter, and
    // GRAFT_STAGED_LAPS: alternating recompute/staged pair count
    // (default 2) — the knobs the round-18 dd_minhash settle uses
    // (VERDICT r17 #3: its r17 A/B flipped sign between two 2-pair
    // sessions; a 5-pair isolation run on one host settles it).
    val wanted = sys.env.get("GRAFT_STAGED_QUERIES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val lapPairs = sys.env.getOrElse("GRAFT_STAGED_LAPS", "2").toInt
    // Each query over an optional staging directory (None = recompute).
    val queries: Seq[(String, (String, Option[String]) => DataFrame)] =
      Seq[(String, (String, Option[String]) => DataFrame)](
        "dd_minhash" -> ((sf, st) =>
          Dedup.minhashFrom(Dedup.sharedBasis(spark, sf, st))),
        "dd_decontaminate_fuzzy" -> ((sf, st) => CorpusOps.decontaminateFuzzyCoarse(
          spark, sf, CorpusOps.SketchCutMinMass, -1L, st)))
        .filter { case (n, _) => wanted.forall(_.contains(n)) }

    val points = for (sf <- dirs) yield {
      // Pid-scoped (ADVICE r18, the EmbedStagedProbe fix): concurrent
      // probe processes must never overwrite each other's staged table.
      val staging = s"/tmp/graft_basis_staging/${new java.io.File(sf).getName}" +
        s"_p${ProcessHandle.current().pid()}"
      // Basis-subtree terms. Warm-up first: the fresh-JVM first lap of
      // anything at staged scale carries tens of seconds of JIT (the
      // FuzzyCoarseCheck lap-protocol note).
      noop(Dedup.sharedBasis(spark, sf, None)) // warm-up (recompute)
      val basisRecompute = (1 to 3).map(_ =>
        timed(noop(Dedup.sharedBasis(spark, sf, None)))).min
      val stageWrite = timed(Dedup.stageBasis(spark, sf, staging))
      val stagedRead = (1 to 3).map(_ =>
        timed(noop(Dedup.sharedBasis(spark, sf, Some(staging))))).min

      // Whole-query terms, alternating arms (host drift lands on both),
      // min-of-2 warm each; row identity asserted on the first pair —
      // the probe double-checks what StagedBasisSpec pins at oracle
      // scale, here at staged scale.
      val qJsons = for ((name, q) <- queries) yield {
        def lapRows(staged: Boolean): (Long, Double) = {
          var n = 0L
          val w = timed { n = q(sf, Some(staging).filter(_ => staged)).count() }
          (n, w)
        }
        lapRows(staged = false) // warm-up
        val lapsRun = (1 to lapPairs).map { _ =>
          val (nRe, reW) = lapRows(staged = false)
          val (nSt, stW) = lapRows(staged = true)
          (nRe, reW, nSt, stW)
        }
        val re = lapsRun.map(_._2).min
        val st = lapsRun.map(_._4).min
        val (nRe1, _, nSt1, _) = lapsRun.head
        require(nRe1 == nSt1,
          s"$name row count diverged across the dispatch: $nRe1 vs $nSt1")
        val crossover =
          if (re - st > 1e-3) (stageWrite / (re - st)).ceil.toLong else -1L
        println(f"[stagedbasis] $sf $name recompute=$re%.2f staged=$st%.2f " +
          f"rows=$nRe1 crossoverReuses=$crossover")
        // Per-pair walls travel in the artifact: a SETTLED verdict needs
        // the sign stability across laps visible, not only the min.
        val lapsJson =
          lapsRun.map(l => s"[${fmt3(l._2)},${fmt3(l._4)}]").mkString(",")
        s""""$name":{"recompute":${fmt3(re)},"staged":${fmt3(st)},""" +
          s""""rows":$nRe1,"crossoverReuses":$crossover,""" +
          s""""lapPairsReSt":[$lapsJson]}"""
      }
      println(f"[stagedbasis] $sf basisRecompute=$basisRecompute%.2f " +
        f"stageWrite=$stageWrite%.2f stagedRead=$stagedRead%.2f")
      s"""{"sf":"$sf","basisRecompute":${fmt3(basisRecompute)},""" +
        s""""stageWrite":${fmt3(stageWrite)},""" +
        s""""stagedRead":${fmt3(stagedRead)},""" +
        s""""queries":{${qJsons.mkString(",")}}}"""
    }
    val out = s"""{"crossoverRule":"R* = stageWrite / (recompute - staged); -1 = staging never wins at that size","points":[${points.mkString(",")}]}"""
    println("[stagedbasis] " + out)
    outPath.foreach(p => java.nio.file.Files.write(
      java.nio.file.Paths.get(p), (out + "\n").getBytes("UTF-8")))
    spark.stop()
  }
}
