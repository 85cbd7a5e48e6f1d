package graft.queries

import org.apache.spark.sql.DataFrame

/** Recompute-vs-staged crossover measurement for the IVF serving index
  * (round 19, VERDICT r18 #1 — the StagedBasisProbe/EmbedStagedProbe
  * framing applied to the vector index).
  *
  * Deployment question: a production pipeline builds a corpus's IVF
  * index once at ingest and then serves many query batches over it.
  * Staging pays `stageWrite` once to replace every batch's
  * N·√N·CellReplicas assignment pass (`assignRecompute`) with a parquet
  * scan of the inverted file — and, across JVMs, the 64×N calibration
  * scan with a manifest read (in-process caches serve BOTH arms inside
  * this probe, so the measured delta is conservative toward recompute).
  * Crossover reuse count R* = stageWrite / (recompute − staged);
  * negative denominator means staging never wins at that size.
  *
  *   sbt "Test/runMain graft.queries.IvfStagedProbe OUT.json <sfDir>..."
  *   GRAFT_STAGED_LAPS: alternating pair count (default 2).
  */
object IvfStagedProbe {

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Locale-pinned JSON number (the ADVICE r18 defect class). */
  private def fmt3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption
    val dirs = if (args.length > 1) args.toSeq.drop(1)
      else Seq("/tmp/graft_scale/sf0.1", "/tmp/graft_scale/sf1",
        "/tmp/graft_scale/sf3")
    val lapPairs = sys.env.getOrElse("GRAFT_STAGED_LAPS", "2").toInt
    val spark = graft.GraftSession("ivf-staged-probe")

    val points = for (sf <- dirs) yield {
      // Pid-scoped like every probe staging (concurrent probes must not
      // overwrite each other's staged tables mid-read).
      val staging = s"/tmp/graft_ivf_staging/${new java.io.File(sf).getName}" +
        s"_p${ProcessHandle.current().pid()}"
      val emb = graft.Tables.embeddings(spark, sf)

      // Assignment-subtree terms (warm-up first — fresh-JVM first laps
      // carry JIT; the warm-up also fills the model/calibration caches
      // so both whole-query arms below read them equally).
      noop(Similarity.ivfAssignRelation(spark, sf)) // warm-up
      val assignRecompute = (1 to 3).map(_ =>
        timed(noop(Similarity.ivfAssignRelation(spark, sf)))).min
      val stageWrite = timed(Similarity.stageIvfIndex(spark, sf, staging))
      val stagedRead = (1 to 3).map(_ =>
        timed(noop(Similarity.sharedIvfServing(spark, emb, Some(staging)).assigned))).min

      // Whole-query terms, alternating arms (host drift lands on both);
      // row identity asserted on the first pair — the probe double-checks
      // what IvfStagedSpec pins at oracle scale.
      def lapRows(staged: Boolean): (Long, Double) = {
        var n = 0L
        val w = timed {
          n = Similarity.annIvfWith(spark, sf, Some(staging).filter(_ => staged)).count()
        }
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
        s"ann_ivf row count diverged across the dispatch: $nRe1 vs $nSt1")

      val crossover =
        if (re - st > 1e-3) (stageWrite / (re - st)).ceil.toLong else -1L
      println(f"[ivfstaged] $sf recompute=$re%.2f staged=$st%.2f " +
        f"assignRecompute=$assignRecompute%.2f stageWrite=$stageWrite%.2f " +
        f"stagedRead=$stagedRead%.2f rows=$nRe1 crossoverReuses=$crossover")
      val lapsJson =
        lapsRun.map(l => s"[${fmt3(l._2)},${fmt3(l._4)}]").mkString(",")
      s"""{"sf":"$sf","recompute":${fmt3(re)},"staged":${fmt3(st)},""" +
        s""""assignRecompute":${fmt3(assignRecompute)},""" +
        s""""stageWrite":${fmt3(stageWrite)},""" +
        s""""stagedRead":${fmt3(stagedRead)},""" +
        s""""rows":$nRe1,"crossoverReuses":$crossover,""" +
        s""""lapPairsReSt":[$lapsJson]}"""
    }
    val out = s"""{"crossoverRule":"R* = stageWrite / (recompute - staged); -1 = staging never wins at that size","caveat":"in-process model+calibration caches serve both arms; cross-JVM serving also skips the 64xN calibration scan","points":[${points.mkString(",")}]}"""
    println("[ivfstaged] " + out)
    outPath.foreach(p => java.nio.file.Files.write(
      java.nio.file.Paths.get(p), (out + "\n").getBytes("UTF-8")))
    spark.stop()
  }
}
