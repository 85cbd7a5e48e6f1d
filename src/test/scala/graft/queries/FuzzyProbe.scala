package graft.queries

import org.apache.spark.sql.functions._

/** Scratch instrument: stage-level cost breakdown of
  * dd_decontaminate_fuzzy at a staged scale point (the EmbedHiProbe
  * pattern) — times the capped-shingle basis, the banded candidate join,
  * the candidate-doc restriction, and the bipartite verification join
  * separately, with row volumes, so the 30× wall (SCALE_r13 marginal
  * 1.224) is fixed against measured terms rather than argued.
  *
  *   sbt "Test/runMain graft.queries.FuzzyProbe /tmp/graft_scale/sf3"
  */
object FuzzyProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession("fuzzy-probe")
    val sf = if (args.nonEmpty) args(0) else "/tmp/graft_scale/sf3"
    val evalMod = 7
    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      println(f"[fuzzyprobe] $tag%-18s wall=${(System.nanoTime() - t0) / 1e9}%.1fs")
      a
    }
    val sh = timed("shingles+cap+ckpt") {
      val s = Dedup.cappedShingles(spark, sf, None).localCheckpoint()
      println(s"[fuzzyprobe]   shingle rows=${s.count()}")
      s
    }
    val sigs = timed("sigs+ckpt") {
      val s = Dedup.minhashSigs(sh).localCheckpoint()
      println(s"[fuzzyprobe]   docs=${s.count()}")
      s
    }
    val buckets = Dedup.bucketsFromSigs(sigs, 2)
    val evalB = buckets.filter(col("doc_id") % evalMod === 0)
      .select(col("band"), col("bh"), col("doc_id").as("eval_doc"))
    val trainB = buckets.filter(col("doc_id") % evalMod =!= 0)
      .select(col("band"), col("bh"), col("doc_id").as("train_doc"))
    // Round 16 topology: the raw join is never distinct'ed or stored —
    // the cut consumes it streamed and the distinct runs on survivors.
    val candRaw = timed("raw-candidates") {
      val c = evalB.hint("SHUFFLE_HASH").join(trainB, Seq("band", "bh"))
        .select(col("train_doc"), col("eval_doc"))
      println(s"[fuzzyprobe]   raw candidate pairs=${c.count()}")
      c
    }
    val candidates = timed("sketch-cut+distinct") {
      val c = Dedup.sketchCutPairs(candRaw, sigs, 0.5, "train_doc", "eval_doc").distinct().localCheckpoint()
      println(s"[fuzzyprobe]   surviving pairs=${c.count()}")
      c
    }
    val candDocs = candidates.select(col("train_doc").as("doc_id"))
      .union(candidates.select(col("eval_doc").as("doc_id"))).distinct()
    val shCand = timed("shCand") {
      val s = sh.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
        .localCheckpoint()
      println(s"[fuzzyprobe]   cand-doc shingle rows=${s.count()}")
      s
    }
    timed("bipartite-common") {
      val evalSh = shCand.filter(col("doc_id") % evalMod === 0)
        .select(col("doc_id").as("eval_doc"), col("shingle"))
      val trainSh = shCand.filter(col("doc_id") % evalMod =!= 0)
        .select(col("doc_id").as("train_doc"), col("shingle"))
      val n = evalSh.hint("SHUFFLE_HASH").join(trainSh, Seq("shingle"))
        .groupBy(col("train_doc"), col("eval_doc"))
        .agg(count(lit(1)).as("c"))
        .join(broadcast(candidates), Seq("train_doc", "eval_doc"), "left_semi")
        .count()
      println(s"[fuzzyprobe]   common pairs=$n")
    }
    timed("full-query") {
      val n = graft.SparkEntry.queries("dd_decontaminate_fuzzy")(spark, sf).count()
      println(s"[fuzzyprobe]   output rows=$n")
    }
    spark.stop()
  }
}
