package graft.queries

import graft.SparkSuite

/** The staged-basis dispatch differential (round 17, VERDICT r16 #1):
  * `sharedBasis` must serve the staged compacted-shingle table when the
  * caller names one staged from THIS corpus, fall back to recompute on
  * any mismatch, and be row-identical across the switch for every
  * signature-family consumer. Only the *_staged entries pass a staging
  * directory, so these tests exercise every fence arm — the
  * FuzzyCoarseCheck discipline: both regimes proven equal where the
  * dispatch lives, inert where the oracles run.
  */
class StagedBasisSpec extends SparkSuite {

  private def minhash(staging: Option[String]) =
    Dedup.minhashFrom(Dedup.sharedBasis(spark, sf, staging))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("staged arm serves the staged table; outputs identical across the dispatch") {
    withTempDir("basis-staging") { stagingPath =>
      val staging = stagingPath.toString
      val recomputeMinhash = rows(Dedup.minhash(spark, sf))
      val recomputeFuzzy = rows(CorpusOps.decontaminateFuzzy(spark, sf))
      val recomputeDelta = rows(Dedup.deltaDedup(spark, sf))

      Dedup.stageBasis(spark, sf, staging)
      val dir = Some(staging)
      // Engagement: the dispatch must actually READ the staged parquet,
      // not silently recompute — inputFiles of the served relation sit
      // under the staging dir.
      val served = Dedup.sharedBasis(spark, sf, dir)
      assert(served.inputFiles.nonEmpty &&
        served.inputFiles.forall(_.contains(staging)),
        s"staged arm must scan $staging, got ${served.inputFiles.take(2).mkString(",")}")
      assert(served.schema("shingle").dataType ==
        org.apache.spark.sql.types.LongType,
        "staged basis must be the COMPACTED (long) form")

      assert(rows(minhash(dir)) == recomputeMinhash,
        "dd_minhash must be row-identical across the staged-basis dispatch")
      assert(rows(CorpusOps.decontaminateFuzzyCoarse(spark, sf,
          CorpusOps.SketchCutMinMass, -1L, dir)) == recomputeFuzzy,
        "dd_decontaminate_fuzzy must be row-identical across the dispatch")
      assert(rows(Dedup.deltaFrom(Dedup.cappedShingles(spark, sf, dir).localCheckpoint(),
          c => c % Dedup.DeltaModulus === Dedup.DeltaResidue)) == recomputeDelta,
        "dd_delta must be row-identical across the dispatch")
    }
  }

  test("provenance fence: a basis staged from another corpus is refused") {
    withTempDir("basis-foreign") { stagingPath =>
      val staging = stagingPath.toString
      // Stage from sf0.01, then ask for sf0.001 — the sidecar mismatch
      // must force the recompute arm (wrong-corpus rows would otherwise
      // flow straight into signatures).
      Dedup.stageBasis(spark, "/root/testdata/sf0.01", staging)
      val served = Dedup.sharedBasis(spark, sf, Some(staging))
      assert(served.inputFiles.exists(_.contains("sf0.001")),
        "mismatched staging must fall back to recomputing from the corpus")
      // And the unstaged-equality still holds end-to-end.
      assert(rows(minhash(Some(staging))) == rows(minhash(None)))
    }
  }

  test("generation fence: a basis staged from a regenerated corpus is refused") {
    // ADVICE r17 (medium): the path-only fence served a basis staged
    // from a PREVIOUS generation of the same sfDir. Simulate in-place
    // regeneration — same path, fresh file mtimes — on a tmp copy of
    // the corpus and assert the dispatch degrades to recompute.
    withTempDir("basis-gen-corpus") { corpusDir =>
      // The driver tables are single parquet FILES; staged corpora are
      // directories — copy either shape.
      val srcDocs = new java.io.File(s"$sf/documents.parquet")
      val dstDocs = corpusDir.resolve("documents.parquet")
      if (srcDocs.isDirectory) {
        java.nio.file.Files.createDirectories(dstDocs)
        srcDocs.listFiles().filter(_.isFile).foreach { f =>
          java.nio.file.Files.copy(f.toPath, dstDocs.resolve(f.getName))
        }
      } else java.nio.file.Files.copy(srcDocs.toPath, dstDocs)
      val corpus = corpusDir.toString
      withTempDir("basis-gen-staging") { stagingPath =>
        val staging = stagingPath.toString
        Dedup.stageBasis(spark, corpus, staging)
        assert(Dedup.sharedBasis(spark, corpus, Some(staging))
          .inputFiles.forall(_.contains(staging)),
          "fresh staging of the tmp corpus must be served")
        // "Regenerate" in place: same path, same bytes, new mtimes.
        val dataFiles =
          if (dstDocs.toFile.isDirectory)
            dstDocs.toFile.listFiles().filter(_.isFile).toSeq
          else Seq(dstDocs.toFile)
        dataFiles.foreach(f => assert(f.setLastModified(f.lastModified() + 5000)))
        assert(Dedup.sharedBasis(spark, corpus, Some(staging))
          .inputFiles.exists(_.contains(corpus)),
          "a basis staged from a previous corpus generation must recompute")
      }
    }
  }

  test("missing or half-written staging is refused") {
    withTempDir("basis-empty") { stagingPath =>
      val staging = stagingPath.toString
      val served = Dedup.sharedBasis(spark, sf, Some(staging))
      assert(served.inputFiles.exists(_.contains("sf0.001")),
        "a staging dir without table+sidecar must recompute")
    }
  }
}
