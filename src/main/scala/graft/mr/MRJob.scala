package graft.mr

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference engine's single datum type: a schema-less string pair
  * (reference: mr/worker.go:15-18). Typed `Dataset[KV]` keeps the generic
  * MR API type-safe while staying inside Tungsten row encoding.
  */
case class KV(key: String, value: String)

/** Spark-native replacement for the reference's whole public API surface
  * (reference: mr/worker.go:180 `Worker(mapf, reducef)`,
  * mr/coordinator.go:202 `MakeCoordinator(files, nReduce)`, and the plugin
  * contract main/mrworker.go:34-51).
  *
  * The coordinator/worker/RPC/S3 plumbing of the reference collapses into
  * Spark internals: DAGScheduler gives the map-before-reduce barrier
  * (coordinator.go:105), task retry + FileCommitProtocol give at-least-once
  * execution with exactly-once output (worker.go:84-94), and the sort-based
  * shuffle replaces the nMap×nReduce JSON intermediate files (worker.go:86).
  *
  * The reduce side is the reference's reduce task, step for step
  * (worker.go:116-154): one exchange partitions the KVs by key into
  * `nReduce` buckets, each bucket is sorted by key, and a loop groups
  * adjacent equal keys and calls `reducef` once per run. That is one
  * shuffle per job, and exactly `nReduce` reduce tasks: AQE never
  * coalesces a repartition to an explicit count.
  *
  * Scale notes: `mapf` sees a whole file as one string — that is the
  * reference's semantic contract (worker.go:54-60), so per-file memory is
  * inherent to the API; `reducef` sees all values of a key, so a skewed key
  * materializes its value list exactly like the reference (worker.go:142-145).
  * Only one key's values are held at a time; the sort spills to disk where
  * the reference's in-memory sort would not.
  * The relational/query layer (graft.queries) never uses this API — it uses
  * algebraic aggregates that stream and combine map-side.
  */
object MRJob {

  /** flatMap(file → KVs) → partition by key → sort → reduce(key, values). */
  def run(spark: SparkSession,
          inputPaths: Seq[String],
          nReduce: Int,
          mapf: (String, String) => Seq[KV],
          reducef: (String, Seq[String]) => String): Dataset[KV] = {
    import spark.implicits._
    // Whole-file input: one record per file, exactly the reference's split
    // granularity (one map task per file, worker.go:41-60).
    val files: Dataset[(String, String)] =
      spark.read.option("wholetext", "true").text(inputPaths: _*)
        .select(input_file_name().as("path"), col("value"))
        .as[(String, String)]
    val mapped: Dataset[KV] = files.flatMap { case (path, contents) =>
      mapf(fileName(path), contents)
    }
    // Bucket r holds the keys hashing to r, like the reference's
    // ihash(key)%nReduce (worker.go:21-25). Spark's hash differs, which is
    // immaterial (SURVEY.md §1.3): the contract is per-key grouping, and
    // bucket r is reduce task r, the one that writes mr-out-<r>.
    mapped
      .repartition(nReduce, col("key"))
      .sortWithinPartitions(col("key"))
      .mapPartitions(reduceSorted(_, reducef))
  }

  /** The reference's reduce loop over a key-sorted bucket
    * (worker.go:135-154): gather each run of equal keys, call `reducef`
    * once per run. Holds one key's values at a time.
    */
  private def reduceSorted(rows: Iterator[KV],
                           reducef: (String, Seq[String]) => String): Iterator[KV] = {
    val sorted = rows.buffered
    new Iterator[KV] {
      def hasNext: Boolean = sorted.hasNext
      def next(): KV = {
        val key = sorted.head.key
        val values = Vector.newBuilder[String]
        while (sorted.hasNext && sorted.head.key == key) values += sorted.next().value
        KV(key, reducef(key, values.result()))
      }
    }
  }

  /** Text sink with the reference's exact `"key value\n"` line format
    * (worker.go:151) — one part file per reduce partition mirrors
    * mr-out-<r> (Spark writes none for an empty partition). Spark's
    * FileCommitProtocol provides the same temp-file + rename idempotent
    * commit as worker.go:156-164.
    */
  def runToText(spark: SparkSession,
                inputPaths: Seq[String],
                nReduce: Int,
                mapf: (String, String) => Seq[KV],
                reducef: (String, Seq[String]) => String,
                outDir: String): Unit =
    run(spark, inputPaths, nReduce, mapf, reducef)
      .select(concat_ws(" ", col("key"), col("value")))
      .write.mode("overwrite").text(outDir)

  /** The raw base name of an `input_file_name()` path. Spark returns the
    * path URL-encoded (`my%20file.txt`); the reference and the sequential
    * oracle name a document by its file name as it is on disk.
    */
  private def fileName(path: String): String = {
    val decoded = new java.net.URI(path).getPath
    decoded.substring(decoded.lastIndexOf('/') + 1)
  }
}

/** The two real applications shipped with the reference, re-expressed as
  * mapf/reducef pairs for the MR-compat API. The query layer re-expresses
  * both natively (graft.queries.TextQueries) — these exist for API parity
  * and the differential golden tests.
  */
object MRApps {
  /** Maximal runs of Unicode letters — Go's
    * `FieldsFunc(c, r => !unicode.IsLetter(r))` (mrapps/wc.go:23-26);
    * Java `\p{L}` matches the same category-L set.
    */
  val TokenPattern = "[^\\p{L}]+"
  def tokenize(contents: String): Array[String] =
    contents.split(TokenPattern).filter(_.nonEmpty)

  /** wc: emit (word,"1") per occurrence; count = number of values
    * (mrapps/wc.go:21-44). */
  val wcMap: (String, String) => Seq[KV] =
    (_, contents) => tokenize(contents).map(w => KV(w, "1")).toSeq
  val wcReduce: (String, Seq[String]) => String =
    (_, values) => values.size.toString

  /** indexer: per-doc distinct words → "<df> <doc1,doc2,...>"
    * (mrapps/indexer.go:20-39). */
  val indexerMap: (String, String) => Seq[KV] =
    (doc, contents) => tokenize(contents).distinct.map(w => KV(w, doc)).toSeq
  val indexerReduce: (String, Seq[String]) => String =
    (_, docs) => s"${docs.size} ${docs.sorted.mkString(",")}"
}
