package graft.queries

import graft.SparkSuite
import java.nio.file.Files

/** The native indexer on hand-built documents, against a plain-Scala
  * restatement of its oracle SQL (`TextQueries.invertedIndexSql`): distinct
  * (doc_id, word) pairs, then per word the pair count and the numerically
  * sorted doc_ids.
  */
class TextQueriesSpec extends SparkSuite {

  private val docs: Seq[(Long, String)] = Seq(
    // doc_id 1 twice, sharing words: still one document per word.
    1L -> "Alpha beta, beta gamma",
    1L -> "beta delta Alpha",
    2L -> "",
    3L -> "!!! ... ,,, 123 --",
    4L -> "gamma alpha épée alpha",
    10L -> "delta gamma",
    5L -> null)

  private def oracle(rows: Seq[(Long, String)]): Seq[(String, Long, String)] = {
    val pairs = rows.flatMap { case (id, text) =>
      Option(text).toSeq.flatMap(_.split("[^\\p{L}]+")).filter(_.nonEmpty).map(id -> _)
    }.distinct
    pairs.groupBy(_._2).toSeq.map { case (word, ps) =>
      (word, ps.size.toLong, ps.map(_._1).sorted.mkString(","))
    }.sorted
  }

  test("invertedIndex: repeated doc_id, empty and punctuation-only texts match the oracle") {
    import spark.implicits._
    withTempDir("graft-index") { dirPath =>
      val dir = dirPath.toString
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val out = TextQueries.invertedIndex(spark, dir)
      assert(out.schema.map(f => f.name -> f.dataType.simpleString) ==
        Seq("word" -> "string", "df" -> "bigint", "docs" -> "string"))
      val got = out.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted
      val want = oracle(docs)
      assert(want.contains(("beta", 1L, "1")) && want.contains(("gamma", 3L, "1,4,10")))
      assert(got == want)
    }
  }
}
