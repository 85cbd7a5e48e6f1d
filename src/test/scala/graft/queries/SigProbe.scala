package graft.queries

import org.apache.spark.sql.functions._

/** Scratch instrument (round 16): decomposes the fuzzy family's measured
  * 100× hump — FuzzyProbe reads sigs+ckpt at 37.3 s of the 61 s wall, so
  * the suspect is the signature aggregate's execution mode, not the
  * candidate join. ObjectHashAggregateExec (the only exec for
  * TypedImperativeAggregates like MinHashAgg) falls back to SORT-based
  * aggregation past `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * distinct groups per task (default 128) — at 500k docs that means the
  * 16.4M-row shingle stream is sorted in BOTH the partial and final
  * stages. This probe A/B/As the threshold on the same checkpointed
  * input.
  *
  *   sbt "Test/runMain graft.queries.SigProbe /tmp/graft_scale/sf10"
  */
object SigProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession("sig-probe")
    val sf = args.headOption.getOrElse("/tmp/graft_scale/sf10")
    val sh = Dedup.cappedShingles(spark, sf, None).localCheckpoint()
    println(s"[sigprobe] shingle rows=${sh.count()} parts=${sh.rdd.getNumPartitions}")
    def lap(tag: String): Unit = {
      val t0 = System.nanoTime()
      val r = Dedup.minhashSigs(sh)
        .select(sum(element_at(col("sig"), 1)).as("s1"), sum(col("nsh")).as("sn"))
        .head()
      println(f"[sigprobe] $tag wall=${(System.nanoTime() - t0) / 1e9}%.1fs " +
        s"checksum=(${r.getLong(0)},${r.getLong(1)})")
    }
    println("[sigprobe] exec nodes: " + Dedup.minhashSigs(sh)
      .queryExecution.executedPlan.collect { case p => p.nodeName }.mkString(", "))
    for (thr <- Seq("128", "128", "131072", "131072", "128")) {
      spark.conf.set(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", thr)
      lap(s"thr=$thr")
    }
    spark.stop()
  }
}
