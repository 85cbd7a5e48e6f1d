package graft.queries

import graft.SparkSuite

/** The embedding staged-signature dispatch differential (round 18,
  * VERDICT r17 #2 — sharedBasis symmetry): `sharedEmbedSigs` must serve
  * the staged hyperplane-signature table when the caller names one
  * staged from THIS corpus under THIS construction tag and THIS signing
  * plan, fall back to recompute on any mismatch, and be row-identical
  * across the switch for the whole query. Only the *_staged entry
  * passes a staging directory, so these are the tests that exercise
  * every fence arm — the StagedBasisSpec discipline applied to the
  * embedding twin.
  */
class EmbedStagedSpec extends SparkSuite {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def hiCorpusAndPlan(sfDir: String)
      : (org.apache.spark.sql.DataFrame, Dedup.LshPlan) =
    Dedup.hiCorpusAndPlan(spark, sfDir)

  test("staged arm serves the staged signatures; dd_embed_hi identical across the dispatch") {
    withTempDir("embed-staging") { stagingPath =>
      val staging = stagingPath.toString
      val recompute = rows(Dedup.embedHi(spark, sf))
      val (corpus, plan) = hiCorpusAndPlan(sf)
      Dedup.stageEmbedSigs(spark, corpus, "hi", plan, 64, staging)
      val served = Dedup.sharedEmbedSigs(corpus, "hi", plan, 64, Some(staging))
      assert(served.inputFiles.nonEmpty &&
        served.inputFiles.forall(_.contains(staging)),
        s"staged arm must scan $staging, got ${served.inputFiles.take(2).mkString(",")}")
      assert(rows(Dedup.embedBucketedWithPlan(corpus, plan, Dedup.EmbedHiThreshold,
          Some(staging), 64, tag = "hi")) == recompute,
        "dd_embed_hi must be row-identical across the staged-signature dispatch")
    }
  }

  test("dd_embed_hi768_staged entry equals dd_embed_hi768") {
    val staged = rows(Dedup.embedHi768StagedEntry(spark, sf))
    assert(staged == rows(Dedup.embedHi768(spark, sf)),
      "the staged entry must equal the recompute form row-for-row")
  }

  test("provenance fence: signatures staged from another corpus are refused") {
    withTempDir("embed-foreign") { stagingPath =>
      val staging = stagingPath.toString
      val (foreign, fPlan) = hiCorpusAndPlan("/root/testdata/sf0.01")
      Dedup.stageEmbedSigs(spark, foreign, "hi", fPlan, 64, staging)
      val (corpus, plan) = hiCorpusAndPlan(sf)
      val served = Dedup.sharedEmbedSigs(corpus, "hi", plan, 64, Some(staging))
      assert(!served.inputFiles.exists(_.contains(staging)),
        "a foreign-corpus staging must fall back to recompute")
    }
  }

  test("plan and tag fences: a mismatched signing plan or construction tag is refused") {
    withTempDir("embed-planfence") { stagingPath =>
      val staging = stagingPath.toString
      val (corpus, plan) = hiCorpusAndPlan(sf)
      Dedup.stageEmbedSigs(spark, corpus, "hi", plan, 64, staging)
      // Same corpus, different solved plan (τ = 0.45 widths differ).
      val otherPlan = Dedup.solveLsh(1000, 0.45)
      assume(otherPlan.bits != plan.bits || otherPlan.tables != plan.tables)
      val servedPlan = Dedup.sharedEmbedSigs(corpus, "hi", otherPlan, 64, Some(staging))
      assert(!servedPlan.inputFiles.exists(_.contains(staging)),
        "signatures signed under a different (bits, tables) must recompute")
      // Same corpus and plan, different construction tag.
      val servedTag = Dedup.sharedEmbedSigs(corpus, "base", plan, 64, Some(staging))
      assert(!servedTag.inputFiles.exists(_.contains(staging)),
        "a different construction tag over the same files must recompute")
    }
  }

  test("missing or half-written staging is refused") {
    withTempDir("embed-empty") { stagingPath =>
      val staging = stagingPath.toString
      val (corpus, plan) = hiCorpusAndPlan(sf)
      val served = Dedup.sharedEmbedSigs(corpus, "hi", plan, 64, Some(staging))
      assert(!served.inputFiles.exists(_.contains(staging)),
        "a staging dir without table+sidecar must recompute")
    }
  }
}
