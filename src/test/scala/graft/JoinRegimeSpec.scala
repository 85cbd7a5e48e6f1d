package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The join regime is AQE's, read from measured bytes: a checkpointed
  * pair set joined to a larger stream, in a child session carrying
  * exactly GraftSession's SQL settings, ends up broadcast, shuffled-hash
  * or sort-merge as the broadcast threshold moves relative to the pair
  * set's size — and returns the same rows in every regime.
  */
class JoinRegimeSpec extends SparkSuite {

  private def graftSession(): SparkSession = {
    val s = spark.newSession()
    GraftSession.SqlConfs.foreach { case (k, v) => s.conf.set(k, v) }
    s.conf.set("spark.sql.shuffle.partitions", "32")
    s
  }

  /** (final adaptive plan, rows) of the pair attach under `threshold`
    * (both broadcast thresholds; None keeps the defaults).
    */
  private def attach(threshold: Option[String]): (String, Set[(Long, Long, Long)]) = {
    val s = graftSession()
    threshold.foreach { t =>
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", t)
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", t)
    }
    // 1,000 pairs (about 24 KB once shuffled) against a 20,000-row
    // stream, far more than 3× larger.
    val pairs = s.range(0, 1000)
      .select((col("id") * 7).as("doc_a"), (col("id") * 7 + 1).as("doc_b"))
      .localCheckpoint()
    val stream = s.range(0, 20000)
      .select((col("id") % 3000).as("doc_a"), (col("id") % 3000 + 1).as("doc_b"),
        col("id").as("r"))
    val joined = stream.join(pairs, Seq("doc_a", "doc_b"), "left_semi")
    val rows = joined.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = joined.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"), s"expected the final adaptive plan:\n$full")
    (ExecutedPlans.finalSection(full), rows)
  }

  private def strategies(p: String): Seq[String] =
    Seq("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin").filter(p.contains)

  test("AQE picks broadcast, shuffled-hash or sort-merge for a pair set; rows never change") {
    // Default 10 MB threshold: the pair set broadcasts.
    val (pDefault, rDefault) = attach(None)
    assert(strategies(pDefault) == Seq("BroadcastHashJoin"), pDefault)
    // 4 KB: too big to broadcast, but under 4 KB × 32 partitions and
    // 3× smaller than the stream, so it hash-builds.
    val (pHash, rHash) = attach(Some("4096"))
    assert(strategies(pHash) == Seq("ShuffledHashJoin"), pHash)
    // 256 B: the pair set is past 256 B × 32 partitions, the hash-build
    // bound, so the join keeps the spill-safe sort-merge.
    val (pMerge, rMerge) = attach(Some("256"))
    assert(strategies(pMerge) == Seq("SortMergeJoin"), pMerge)
    assert(rDefault.nonEmpty)
    assert(rHash == rDefault && rMerge == rDefault,
      "the join regime must choose a plan, never change rows")
  }
}
