package graft.queries

import graft.SparkSuite

/** The staged IVF serving-index dispatch differential (round 19, VERDICT
  * r18 #1 — the sharedEmbedSigs discipline applied to the vector index):
  * `sharedIvfServing` must serve the staged postings + centroids +
  * calibrated probe depth when the caller names an index staged from
  * THIS corpus under THIS construction, fall back to recompute on any
  * mismatch, and be row-identical across the switch. Only the *_staged
  * entry passes a staging directory, so these tests exercise every
  * fence arm — the StagedBasisSpec/EmbedStagedSpec discipline applied
  * to ann_ivf.
  */
class IvfStagedSpec extends SparkSuite {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("staged arm serves the staged index; ann_ivf identical across the dispatch") {
    withTempDir("ivf-staging") { stagingPath =>
      val staging = stagingPath.toString
      val recompute = rows(Similarity.annIvf(spark, sf))
      Similarity.stageIvfIndex(spark, sf, staging)
      // Engagement: the served posting relation must actually READ the
      // staged parquet, not silently recompute.
      val emb = graft.Tables.embeddings(spark, sf)
      val serving = Similarity.sharedIvfServing(spark, emb, Some(staging))
      assert(serving.assigned.inputFiles.nonEmpty &&
        serving.assigned.inputFiles.forall(_.contains(staging)),
        s"staged arm must scan $staging, got " +
          serving.assigned.inputFiles.take(2).mkString(","))
      assert(rows(Similarity.annIvfWith(spark, sf, Some(staging))) == recompute,
        "ann_ivf must be row-identical across the staged-index dispatch")
    }
  }

  test("ann_ivf_staged entry equals ann_ivf") {
    val staged = rows(Similarity.annIvfStagedEntry(spark, sf))
    assert(staged == rows(Similarity.annIvf(spark, sf)),
      "the staged entry must equal the recompute form row-for-row")
  }

  test("provenance fence: an index staged from another corpus is refused") {
    withTempDir("ivf-foreign") { stagingPath =>
      val staging = stagingPath.toString
      Similarity.stageIvfIndex(spark, "/root/testdata/sf0.01", staging)
      val emb = graft.Tables.embeddings(spark, sf)
      val serving = Similarity.sharedIvfServing(spark, emb, Some(staging))
      assert(!serving.assigned.inputFiles.exists(_.contains(staging)),
        "a foreign-corpus staging must fall back to recompute")
      // And the output still equals the recompute form.
      assert(rows(Similarity.annIvfWith(spark, sf, Some(staging))) ==
        rows(Similarity.annIvf(spark, sf)))
    }
  }

  test("params fence: an index staged under different parameters is refused") {
    withTempDir("ivf-params") { stagingPath =>
      val staging = stagingPath.toString
      Similarity.stageIvfIndex(spark, sf, staging)
      // Tamper with ONE identity field (cellReplicas) in the manifest —
      // postings built under a different replication cannot serve.
      val conf = spark.sparkContext.hadoopConfiguration
      val m = graft.sources.Manifest.read(conf, staging, "ivf_meta.json").get
      graft.sources.Manifest.write(conf, staging, "ivf_meta.json",
        m.toSeq.map { case (k, v) =>
          if (k == "cellReplicas") (k, (v.toInt + 1).toString) else (k, v)
        })
      val emb = graft.Tables.embeddings(spark, sf)
      val serving = Similarity.sharedIvfServing(spark, emb, Some(staging))
      assert(!serving.assigned.inputFiles.exists(_.contains(staging)),
        "an index staged under different parameters must recompute")
    }
  }

  test("missing or half-written staging is refused") {
    withTempDir("ivf-empty") { stagingPath =>
      val staging = stagingPath.toString
      val emb = graft.Tables.embeddings(spark, sf)
      val serving = Similarity.sharedIvfServing(spark, emb, Some(staging))
      assert(!serving.assigned.inputFiles.exists(_.contains(staging)),
        "a staging dir without tables+manifest must recompute")
    }
  }
}
