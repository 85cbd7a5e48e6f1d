package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Recompute-vs-staged crossover measurement for the embedding
  * signature dispatch (round 18, VERDICT r17 #2 — "measure the
  * crossover first; signing dominates hi768, so R* is likely 1 at
  * production dim").
  *
  * Deployment question, the StagedBasisProbe framing: a production
  * pipeline signs a corpus's embeddings once at ingest and then runs R
  * near-dup/decontamination passes over it. Staging pays `stageWrite`
  * once to replace every pass's signing stage (N·L·B·dim plane dots)
  * with a parquet scan of (vec_id, L ints). The crossover reuse count
  * is R* = stageWrite / (queryRecompute − queryStaged) per family —
  * NEGATIVE denominator means staging never wins at that size.
  *
  *   sbt "Test/runMain graft.queries.EmbedStagedProbe OUT.json <sfDir>..."
  *   GRAFT_STAGED_LAPS: alternating pair count (default 2).
  */
object EmbedStagedProbe {

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Locale-pinned number for the JSON artifact (ADVICE r18): the f"%.3f"
    * interpolator honors the default locale, so on de_DE/fr_FR the
    * artifact became `1,234` — invalid JSON. Same fix as Bench.fmt2.
    */
  private def fmt3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption
    val dirs = if (args.length > 1) args.toSeq.drop(1)
      else Seq("/tmp/graft_scale/sf0.1", "/tmp/graft_scale/sf1",
        "/tmp/graft_scale/sf3")
    val lapPairs = sys.env.getOrElse("GRAFT_STAGED_LAPS", "2").toInt
    val spark = graft.GraftSession("embed-staged-probe")

    // (name, dim, corpus+plan prep) per family. The prep is exactly
    // what a corpus-ingest staging step would sign, and the whole query
    // (dd_embed_hi / dd_embed_hi768) is the prep plus the bucketed
    // pipeline over that plan.
    val families: Seq[(String, Int,
        (SparkSession, String) => (DataFrame, Dedup.LshPlan))] =
      Seq(
        ("dd_embed_hi", 64, Dedup.hiCorpusAndPlan _),
        ("dd_embed_hi768", 768, Dedup.hi768CorpusAndPlan _))

    val points = for (sf <- dirs) yield {
      val qJsons = for ((name, dim, prep) <- families) yield {
        val tag = if (dim == 768) "hi768" else "hi"
        // Pid-scoped (ADVICE r18): two concurrent probe processes on one
        // host must never overwrite each other's staged table mid-read.
        // Not Staging.scoped: the probe times the staging write and the
        // staged read apart, so the directory outlives any one call.
        val staging = s"/tmp/graft_embed_staging/" +
          s"${new java.io.File(sf).getName}_${name}_p" +
          ProcessHandle.current().pid()
        val (corpus, plan) = prep(spark, sf)
        // Signing-subtree terms (warm-up first — fresh-JVM first laps
        // carry tens of seconds of JIT at staged scale).
        noop(Dedup.computeEmbedSigs(corpus, plan, dim)) // warm-up
        val signRecompute = (1 to 3).map(_ =>
          timed(noop(Dedup.computeEmbedSigs(corpus, plan, dim)))).min
        val stageWrite = timed(
          Dedup.stageEmbedSigs(spark, corpus, tag, plan, dim, staging))
        val stagedRead = (1 to 3).map(_ =>
          timed(noop(Dedup.sharedEmbedSigs(corpus, tag, plan, dim, Some(staging))))).min

        // Whole-query terms, alternating arms (host drift lands on
        // both); row identity asserted on the first pair — the probe
        // double-checks what EmbedStagedSpec pins at oracle scale.
        def lapRows(staged: Boolean): (Long, Double) = {
          var n = 0L
          val w = timed {
            val (c, p) = prep(spark, sf)
            n = Dedup.embedBucketedWithPlan(c, p, Dedup.EmbedHiThreshold,
              Some(staging).filter(_ => staged), dim, tag = tag).count()
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
          s"$name row count diverged across the dispatch: $nRe1 vs $nSt1")
        val crossover =
          if (re - st > 1e-3) (stageWrite / (re - st)).ceil.toLong else -1L
        println(f"[embedstaged] $sf $name recompute=$re%.2f staged=$st%.2f " +
          f"signRecompute=$signRecompute%.2f stageWrite=$stageWrite%.2f " +
          f"stagedRead=$stagedRead%.2f rows=$nRe1 crossoverReuses=$crossover")
        val lapsJson =
          lapsRun.map(l => s"[${fmt3(l._2)},${fmt3(l._4)}]").mkString(",")
        s""""$name":{"recompute":${fmt3(re)},"staged":${fmt3(st)},""" +
          s""""signRecompute":${fmt3(signRecompute)},""" +
          s""""stageWrite":${fmt3(stageWrite)},""" +
          s""""stagedRead":${fmt3(stagedRead)},""" +
          s""""bits":${plan.bits},"tables":${plan.tables},""" +
          s""""rows":$nRe1,"crossoverReuses":$crossover,""" +
          s""""lapPairsReSt":[$lapsJson]}"""
      }
      s"""{"sf":"$sf","queries":{${qJsons.mkString(",")}}}"""
    }
    val out = s"""{"crossoverRule":"R* = stageWrite / (recompute - staged); -1 = staging never wins at that size","points":[${points.mkString(",")}]}"""
    println("[embedstaged] " + out)
    outPath.foreach(p => java.nio.file.Files.write(
      java.nio.file.Paths.get(p), (out + "\n").getBytes("UTF-8")))
    spark.stop()
  }
}
