package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.mr.{MRApps, MRJob}
import graft.queries.TextQueries

/** One timed operation: `build` constructs the plan (and runs whatever the
  * engine does eagerly while building it); the returned thunk executes it. */
final case class Op(name: String, build: SparkSession => () => Unit)

/** The outcome of one output check. */
final case class Check(name: String, ok: Boolean, detail: String)

sealed trait Workload {
  def ops: Seq[Op]
  /** Every table the workload reads, loaded during set-up. */
  def load(spark: SparkSession): Unit
  /** Runs after the timed passes; results go under `out`. */
  def check(spark: SparkSession, out: Path): Seq[Check]
}

object Workload {
  /** dd_* entries plus the streaming dedup: exact dedup, the staged MinHash
    * form (writes and reads its staging table, then runs the LSH funnel),
    * and st_dedup's micro-batches. */
  val DedupHeavy: Seq[String] = Seq("dd_exact", "dd_minhash_staged", "st_dedup")

  def apply(name: String, tables: String, corpus: String, out: Path): Workload = name match {
    case "mr_corpus" => new MrCorpus(corpus, out)
    case "dedup_heavy" => new Entries(DedupHeavy, Seq("documents", "events"), tables)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** `SparkEntry.queries` entries over the generated tables, each executed
  * through the `noop` sink; checked against DuckDB outside the JVM. */
final class Entries(names: Seq[String], reads: Seq[String], tables: String) extends Workload {
  require(names.forall(SparkEntry.queries.contains), "unknown SparkEntry query")

  val ops: Seq[Op] = names.map { n =>
    Op(n, spark => {
      val df = SparkEntry.queries(n)(spark, tables)
      () => df.write.format("noop").mode("overwrite").save()
    })
  }

  def load(spark: SparkSession): Unit = reads.foreach(t => Tables.load(spark, tables, t))

  /** Writes each entry's rows as parquet plus the oracle SQL of the entries
    * that have one; the comparison itself runs in DuckDB. (Entries whose
    * oracle depends on the corpus, `SparkEntry.dynamicOracleSql`, are not in
    * any workload.) */
  def check(spark: SparkSession, out: Path): Seq[Check] = {
    val results = names.map { n =>
      try {
        SparkEntry.queries(n)(spark, tables).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve("results").resolve(n).toString)
        Check(n, ok = true, "written")
      } catch {
        case e: Throwable => Check(n, ok = false, s"threw: ${e.getMessage}")
      }
    }
    Json.write(out.resolve("oracle_sql.json"), SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    results
  }
}

/** The paper's dataflow on a generated corpus: the MR-compat word count and
  * indexer (one map task per file, nReduce = 10, text sink) and the native
  * `TextQueries` pair over the same lines as a parquet table. */
final class MrCorpus(corpus: String, out: Path) extends Workload {
  private val files: Seq[Path] = Files.list(Paths.get(corpus)).iterator().asScala
    .filter(_.getFileName.toString.endsWith(".txt")).toSeq.sortBy(_.toString)
  private val inputs = files.map(_.toString)
  private val NReduce = 10
  private def sink(op: String) = out.resolve(op).toString

  val ops: Seq[Op] = Seq(
    Op("mr_wc", spark => () =>
      MRJob.runToText(spark, inputs, NReduce, MRApps.wcMap, MRApps.wcReduce, sink("mr_wc"))),
    Op("mr_indexer", spark => () =>
      MRJob.runToText(spark, inputs, NReduce, MRApps.indexerMap, MRApps.indexerReduce,
        sink("mr_indexer"))),
    Op("wc_wordcount", spark => {
      val df = TextQueries.wordCount(spark, corpus)
      () => df.write.format("noop").mode("overwrite").save()
    }),
    Op("wc_inverted_index", spark => {
      val df = TextQueries.invertedIndex(spark, corpus)
      () => df.write.format("noop").mode("overwrite").save()
    }))

  def load(spark: SparkSession): Unit = Tables.documents(spark, corpus)

  val corpusBytes: Long = files.map(Files.size).sum

  /** Input tokens over the corpus (the denominator of shuffled KVs per token). */
  lazy val tokens: Long = SequentialOracle.readFiles(files)
    .map { case (_, c) => SequentialOracle.tokens(c).size.toLong }.sum

  private def sortedLines(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
      .flatMap(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty))
      .sorted

  private def compare(name: String, got: Seq[String], want: Seq[String]): Check = {
    val firstDiff = got.zip(want).indexWhere { case (a, b) => a != b }
    if (got == want) Check(name, ok = true, s"${got.size} lines equal")
    else Check(name, ok = false,
      s"${got.size} vs ${want.size} lines; first difference at line $firstDiff")
  }

  def check(spark: SparkSession, out: Path): Seq[Check] = {
    val inputs = SequentialOracle.readFiles(files)
    val (counts, postings) = SequentialOracle.documentQueries(inputs)
    def guarded(name: String)(body: => Check): Check =
      try body catch { case e: Throwable => Check(name, ok = false, s"threw: ${e.getMessage}") }
    Seq(
      guarded("mr_wc")(compare("mr_wc", sortedLines(sink("mr_wc")),
        SequentialOracle.wordCount(inputs).sorted)),
      guarded("mr_indexer")(compare("mr_indexer", sortedLines(sink("mr_indexer")),
        SequentialOracle.invertedIndex(inputs).sorted)),
      guarded("wc_wordcount") {
        val got = TextQueries.wordCount(spark, corpus).collect()
          .map(r => s"${r.getString(0)} ${r.getLong(1)}").toSeq.sorted
        compare("wc_wordcount", got, counts.map { case (w, c) => s"$w $c" }.toSeq.sorted)
      },
      guarded("wc_inverted_index") {
        val got = TextQueries.invertedIndex(spark, corpus).collect()
          .map(r => s"${r.getString(0)} ${r.getLong(1)} ${r.getString(2)}").toSeq.sorted
        compare("wc_inverted_index", got,
          postings.map { case (w, (df, ids)) => s"$w $df $ids" }.toSeq.sorted)
      })
  }
}
