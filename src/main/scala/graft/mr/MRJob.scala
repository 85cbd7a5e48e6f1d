package graft.mr

import java.io.IOException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.graftbridge.OutputMetricsBridge
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

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
  * (coordinator.go:105), task retry gives at-least-once execution, and the
  * sort-based shuffle replaces the nMap×nReduce JSON intermediate files
  * (worker.go:86). Exactly-once output is the reference's own commit, a
  * temp file renamed per bucket (worker.go:156-164), see [[runToText]].
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
    // Whole-file input: one record per file, and `mapf` is called once per
    // file, like the reference's map task (worker.go:41-60). Spark packs
    // whole files into map tasks: each costs its length plus
    // spark.sql.files.openCostInBytes (4 MiB), and a task takes files up to
    // max(that cost, total / default parallelism), so small files share a
    // task (16 small files at local[4]: 4 map tasks).
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
    * (worker.go:151) and the reference's commit (worker.go:129-164): reduce
    * task r writes bucket r to a temp file and renames it to `part-<r>`, so
    * there is one file per bucket, an empty bucket included (mr-out-<r>).
    * A retried or speculative attempt renames the same bytes over it. The
    * renamed files wait under `_temporary` until the job succeeds; the
    * driver then moves them into `outDir` and writes `_SUCCESS`, so output
    * is visible only once every bucket is done. A failed job leaves no part
    * file. Like `mode("overwrite")`, the old `outDir` is deleted first.
    *
    * Spark's file writer ships the Hadoop conf inside every write task,
    * and each reduce task would deserialize it again; here it is broadcast
    * once per job. Files still go through Hadoop's `FileSystem`, so HDFS
    * and `s3a://` directories work.
    */
  def runToText(spark: SparkSession,
                inputPaths: Seq[String],
                nReduce: Int,
                mapf: (String, String) => Seq[KV],
                reducef: (String, Seq[String]) => String,
                outDir: String): Unit = {
    val out = new Path(outDir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = out.getFileSystem(conf)
    val staging = new Path(out, "_temporary")
    fs.delete(out, true)
    fs.mkdirs(staging)
    val bc = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    try {
      run(spark, inputPaths, nReduce, mapf, reducef)
        .foreachPartition((bucket: Iterator[KV]) => writeBucket(bc.value.value, staging, bucket))
      (0 until nReduce).foreach { r =>
        val name = partName(r)
        if (!fs.rename(new Path(staging, name), new Path(out, name)))
          throw new IOException(s"job commit: cannot move ${new Path(staging, name)} into $out")
      }
      fs.delete(staging, true)
      fs.create(new Path(out, "_SUCCESS"), true).close()
    } catch {
      case e: Throwable =>
        fs.delete(staging, true)
        throw e
    } finally bc.destroy()
  }

  private def partName(r: Int): String = f"part-$r%05d"

  /** Reduce task r's half of the commit: write bucket r to a temp file
    * named for this attempt, then rename it to `staging/part-<r>`. Bytes
    * and lines go to the task's output metrics, as Spark's writers report.
    */
  private def writeBucket(conf: Configuration, staging: Path, bucket: Iterator[KV]): Unit = {
    val tc = TaskContext.get()
    val r = tc.partitionId()
    val part = new Path(staging, partName(r))
    val tmp = new Path(staging, s".${partName(r)}.${tc.taskAttemptId()}.tmp")
    val fs = staging.getFileSystem(conf)
    val os = fs.create(tmp, true)
    var bytes = 0L
    var records = 0L
    try {
      try bucket.foreach { kv =>
        if (kv.key == null || kv.value == null)
          throw new IllegalArgumentException(
            s"bucket $r: null ${if (kv.key == null) "key" else s"value for key '${kv.key}'"}; " +
              "MR keys and values are strings, never null")
        val line = s"${kv.key} ${kv.value}\n".getBytes(StandardCharsets.UTF_8)
        os.write(line)
        bytes += line.length
        records += 1
      } finally os.close()
    } catch {
      case e: Throwable =>
        fs.delete(tmp, false)
        throw e
    }
    // A target left by another attempt holds the same bytes; HDFS-style
    // stores refuse to rename over it, so delete it and rename again.
    if (!fs.rename(tmp, part) && !(fs.delete(part, false) && fs.rename(tmp, part)))
      throw new IOException(s"bucket $r: cannot rename $tmp to $part")
    val metrics = tc.taskMetrics().outputMetrics
    OutputMetricsBridge.setBytesWritten(metrics, bytes)
    OutputMetricsBridge.setRecordsWritten(metrics, records)
  }

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
