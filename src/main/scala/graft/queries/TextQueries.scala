package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.mr.MRApps

/** The reference's two real queries (word count mrapps/wc.go, inverted index
  * mrapps/indexer.go) re-expressed as native DataFrame plans over the
  * `documents` table.
  *
  * Versus the reference's execution: `groupBy.count` runs partial (map-side)
  * aggregation, so shuffle volume is O(distinct words per partition) instead
  * of one record per word *occurrence* (the reference has no combiner —
  * mrapps/wc.go:29-32 ships every token across the shuffle). At 100 TB that
  * is the difference between a metadata-sized shuffle and a data-sized one.
  */
object TextQueries {

  /** wc — tokenize on non-letter runs, count occurrences per word. */
  def wordCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), MRApps.TokenPattern)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  val wordCountSql: String =
    raw"""SELECT word, count(*) AS cnt FROM (
         |  SELECT unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word FROM documents
         |) t WHERE word <> '' GROUP BY word""".stripMargin

  /** indexer — per-doc distinct terms → posting list + document frequency.
    * The per-document distinct is row-local, as in the reference's map
    * (mrapps/indexer.go:20-31): `array_distinct` over one document's tokens,
    * so the only shuffle is the `groupBy(word)`. The df is the size of the
    * `collect_set` of doc_ids, not a row count, so two rows that share a
    * doc_id still count as one document (the oracle's `SELECT DISTINCT
    * doc_id, word`).
    * Posting lists sort numerically by doc_id, rendered as a CSV string so
    * the oracle hash compare is representation-stable across engines.
    * A skewed (stop-word-like) term concentrates its posting list on one
    * reducer, same as the reference (SURVEY.md §7 risk note).
    */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), MRApps.TokenPattern))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(collect_set(col("doc_id")).as("ids"))
      .select(
        col("word"),
        size(col("ids")).cast("long").as("df"),
        array_join(transform(sort_array(col("ids")), _.cast("string")), ",").as("docs"))

  val invertedIndexSql: String =
    raw"""SELECT word, count(*) AS df,
         |  array_to_string(list_sort(list(doc_id)), ',') AS docs
         |FROM (SELECT DISTINCT doc_id, word FROM (
         |    SELECT doc_id, unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word
         |    FROM documents) t
         |  WHERE word <> '') d
         |GROUP BY word""".stripMargin
}
