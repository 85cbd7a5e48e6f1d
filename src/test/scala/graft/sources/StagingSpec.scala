package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import graft.SparkSuite
import graft.multimodal.Multimodal
import graft.queries.Events
import graft.streaming.StreamingQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `_SUCCESS`-guarded /tmp stages (media payloads, watermark sentinels)
  * must refresh when the corpus at the SAME path is regenerated — a
  * path-keyed stage served the previous generation's bytes, and for
  * sentinels that means a baked-in max(ts) below the new corpus's real
  * event times, i.e. silently unclosed sessions. These tests regenerate a
  * corpus in place and assert the derived artifacts track the new content.
  */
class StagingSpec extends SparkSuite {

  /** Write `df` as the single file `dest` (the driver's testdata layout —
    * and what the file-stream's pathGlobFilter requires).
    */
  private def writeSingleParquet(df: DataFrame, dest: Path): Unit = {
    withTempDir("graft-stage-spec") { tmp =>
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val ls = Files.list(tmp)
      try {
        val part = ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
        Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      } finally ls.close()
    }
  }

  test("media stage refreshes when documents.parquet is regenerated in place") {
    withTempDir("graft-regen-media") { corpus =>
      val docs = graft.Tables.documents(spark, sf)
      writeSingleParquet(docs.orderBy("doc_id").limit(300),
        corpus.resolve("documents.parquet"))
      assert(Multimodal.mediaIngest(spark, corpus.toString).count() == 300)
      // Regenerate the corpus at the SAME path with different content; the
      // stale stage would keep serving 300 payloads.
      writeSingleParquet(docs.orderBy("doc_id").limit(200),
        corpus.resolve("documents.parquet"))
      assert(Multimodal.mediaIngest(spark, corpus.toString).count() == 200,
        "media stage served the previous corpus generation")
    }
  }

  test("st_sessionize stays oracle-green when events.parquet is regenerated with later data") {
    withTempDir("graft-regen-events") { corpus =>
      // Raw read (ts stays epoch-nanos long) so the written file matches the
      // driver layout bit-for-bit in schema.
      val raw = spark.read.parquet(s"$sf/events.parquet")
      val n = raw.count()
      // Generation 1: the EARLIEST half — its max(ts) is far below the full
      // corpus's, which is exactly the hazard setup: a sentinel staged from
      // it cannot clear the later generation's session timeouts.
      writeSingleParquet(raw.orderBy("ts").limit((n / 2).toInt),
        corpus.resolve("events.parquet"))
      def sessSet(df: DataFrame) =
        df.select("user_id", "session_start", "session_end", "n_events")
          .collect().map(_.toSeq).toSet
      assert(sessSet(StreamingQueries.sessionize(spark, corpus.toString)) ==
        sessSet(Events.sessionize(spark, corpus.toString)))
      // Generation 2 at the same path: the full corpus (max ts 2× later).
      writeSingleParquet(raw, corpus.resolve("events.parquet"))
      val got = sessSet(StreamingQueries.sessionize(spark, corpus.toString))
      val want = sessSet(Events.sessionize(spark, corpus.toString))
      assert(got == want,
        s"stale sentinel: ${want.size - got.size} of ${want.size} sessions missing")
    }
  }

  test("superseded stages of the same source are deleted; other corpora coexist") {
    // The stage directories live in java.io.tmpdir, outside both temp
    // corpora: every one this test creates is deleted at its end.
    val stages = scala.collection.mutable.Buffer.empty[java.io.File]
    def stage(src: Path): java.io.File = {
      val d = Staging.stagedDir("graft_spec_probe", s"$src/documents.parquet")
      stages += d
      d
    }
    try withTempDir("graft-regen-clean") { corpus =>
      val docs = graft.Tables.documents(spark, sf)
      writeSingleParquet(docs.limit(50), corpus.resolve("documents.parquet"))
      val d1 = stage(corpus)
      Files.createDirectories(d1.toPath)
      // A different corpus under the same prefix must NOT be treated as stale.
      withTempDir("graft-regen-other") { other =>
        writeSingleParquet(docs.limit(50), other.resolve("documents.parquet"))
        val dOther = stage(other)
        Files.createDirectories(dOther.toPath)
        // Regenerate the first corpus: its new key differs, its old dir dies,
        // the other corpus's stage survives.
        writeSingleParquet(docs.limit(60), corpus.resolve("documents.parquet"))
        val d2 = stage(corpus)
        assert(d2.getName != d1.getName, "content change did not change the key")
        assert(!d1.exists(), "superseded stage not cleaned up")
        assert(dOther.exists(), "unrelated corpus's stage was deleted")
      }
    }
    finally stages.filter(_.exists()).foreach(d => Staging.deleteRecursively(d.toPath))
  }

  test("scoped: a body that throws leaves no directory") {
    var seen: Option[String] = None
    val e = intercept[IllegalStateException] {
      Staging.scoped("graft-scoped-throw") { dir =>
        seen = Some(dir)
        spark.range(10).write.parquet(s"$dir/t.parquet")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(seen.nonEmpty, "the body never ran")
    assert(!Files.exists(Path.of(seen.get)),
      s"${seen.get} outlived a throwing body")
  }

  test("scoped: the result still collects after its directory is gone") {
    var seen: Option[String] = None
    val df = Staging.scoped("graft-scoped-read") { dir =>
      seen = Some(dir)
      spark.range(100).toDF("id").write.parquet(s"$dir/t.parquet")
      spark.read.parquet(s"$dir/t.parquet").filter(col("id") % 2 === 0)
    }
    assert(!Files.exists(Path.of(seen.get)),
      s"${seen.get} outlived the call")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L by 2))
  }
}
