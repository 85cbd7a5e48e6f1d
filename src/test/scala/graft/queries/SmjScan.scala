package graft.queries

import graft.ExecutedPlans

/** Scratch instrument: join-strategy census over the heavy query
  * surface (SortMergeJoin / ShuffledHashJoin / BroadcastHashJoin counts
  * over the FINAL adaptive plans each entry executes, checkpoint jobs
  * included — the joins that actually ran, not AQE's pre-conversion
  * initial plan). Run it after touching any join-shaped operator.
  *
  *   sbt "Test/runMain graft.queries.SmjScan"
  */
object SmjScan {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession("smj-scan")
    val sf = "/root/testdata/sf0.1"
    val qs = Seq("dd_minhash","dd_simhash","dd_clusters","dd_substring","dd_substring_cut",
      "dd_keep_best","dd_winnow",
      "dd_decontaminate","dd_decontaminate_fuzzy","dd_lines","dd_delta","dd_delta_chain",
      "dd_delta_embed_chain","mm_phash","pipeline_clean_corpus","dd_editdist",
      "dd_ngram_jaccard","ta_tfidf","ev_sessionize","ev_attribution","dd_embed_auto")
    for (q <- qs) {
      try {
        val ran = ExecutedPlans.of(spark)(graft.SparkEntry.queries(q)(spark, sf).collect())
          .map(ExecutedPlans.finalSection)
        def n(join: String) = ran.map(_.linesIterator.count(_.contains(join))).sum
        println(f"[smjscan] $q%-24s SMJ=${n("SortMergeJoin")} " +
          s"SHJ=${n("ShuffledHashJoin")} BHJ=${n("BroadcastHashJoin")}")
      } catch { case e: Exception => println(s"[smjscan] $q ERROR ${e.getMessage.take(60)}") }
    }
    spark.stop()
  }
}
