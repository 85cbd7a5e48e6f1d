package graft.mr

import graft.{ExecutedPlans, SparkSuite}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Differential golden tests, the port of the reference's test-mr.sh scheme
  * (main/test-mr.sh:64-131): the distributed result must equal a
  * single-threaded sequential oracle (port of main/mrsequential.go),
  * compared order-insensitively (the harness `sort`s outputs before cmp).
  */
class MRJobSpec extends SparkSuite {

  /** Sequential oracle — read all files, map, global sort, group adjacent,
    * reduce (main/mrsequential.go:25-87). */
  private def sequential(paths: Seq[String],
                         mapf: (String, String) => Seq[KV],
                         reducef: (String, Seq[String]) => String): Seq[(String, String)] = {
    val intermediate = paths.flatMap { p =>
      val contents = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
      mapf(p.substring(p.lastIndexOf('/') + 1), contents)
    }.sortBy(_.key)
    intermediate.groupBy(_.key).toSeq.map { case (k, kvs) =>
      k -> reducef(k, kvs.map(_.value))
    }
  }

  /** Eight frozen prose files (test resources `mr/`): mixed case,
    * punctuation and non-ASCII letters, one map task per file.
    */
  private val corpus: Seq[String] = {
    val dir = Paths.get(getClass.getResource("/mr").toURI)
    Files.list(dir).iterator().asScala
      .map(_.toString).filter(_.endsWith(".txt")).toSeq.sorted
  }

  private def distributed(mapf: (String, String) => Seq[KV],
                          reducef: (String, Seq[String]) => String): Seq[(String, String)] =
    MRJob.run(spark, corpus, 10, mapf, reducef)
      .collect().toSeq.map(kv => (kv.key, kv.value))

  /** Part files of a `runToText` output directory. */
  private def partFiles(out: String): Seq[Path] =
    Files.list(Paths.get(out)).iterator().asScala.toSeq.filter { p =>
      val f = p.getFileName.toString
      f.startsWith("part-") && !f.endsWith(".crc")
    }

  test("corpus present") { assert(corpus.size == 8) }

  test("wc: distributed equals sequential oracle over the prose corpus") {
    val got = distributed(MRApps.wcMap, MRApps.wcReduce).sorted
    val want = sequential(corpus, MRApps.wcMap, MRApps.wcReduce).sorted
    assert(got.size == want.size)
    assert(got == want)
  }

  test("indexer: distributed equals sequential oracle over the prose corpus") {
    val got = distributed(MRApps.indexerMap, MRApps.indexerReduce).sorted
    val want = sequential(corpus, MRApps.indexerMap, MRApps.indexerReduce).sorted
    assert(got == want)
  }

  test("wc spot checks: known counts stay stable") {
    val counts = distributed(MRApps.wcMap, MRApps.wcReduce).toMap
    // Every word occurs at least once and counts are positive integers.
    assert(counts.nonEmpty)
    assert(counts.values.forall(v => v.toInt > 0))
    // 'the' is the most frequent token of the prose corpus (271 of
    // them; 'and' follows with 139).
    val the = counts("the").toInt
    assert(counts.values.map(_.toInt).max == the)
  }

  test("tokenizer: letters-only runs, Unicode category L") {
    assert(MRApps.tokenize("a b,c;d").toSeq == Seq("a", "b", "c", "d"))
    assert(MRApps.tokenize("héllo wörld").toSeq == Seq("héllo", "wörld"))
    assert(MRApps.tokenize("x1y2z").toSeq == Seq("x", "y", "z"))
    assert(MRApps.tokenize("").toSeq == Seq())
    assert(MRApps.tokenize("123 456").toSeq == Seq())
  }

  test("crash analogue: first-attempt task failure still yields golden wc output") {
    // Port of test-mr.sh:270-317 (crash.so): tasks die mid-flight, the job
    // must still byte-match the no-crash oracle. Deterministic injection —
    // every partition's first attempt throws (heavier than the reference's
    // ~33% random exits); local[4,2] retries make the job complete.
    val attempted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val crashingMap: (String, String) => Seq[KV] = (doc, contents) => {
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && attempted.add(tc.partitionId())) {
        throw new RuntimeException("injected crash (crash.go analogue)")
      }
      MRApps.wcMap(doc, contents)
    }
    val got = MRJob.run(spark, corpus, 10, crashingMap, MRApps.wcReduce)
      .collect().toSeq.map(kv => (kv.key, kv.value)).sorted
    val want = sequential(corpus, MRApps.wcMap, MRApps.wcReduce).sorted
    assert(got == want, "crash-retried output must equal the sequential oracle")
  }

  test("nReduce controls output partition count (mr-out-<r> parity)") {
    val out = Files.createTempDirectory("mrout-n").toString
    MRJob.runToText(spark, corpus.take(2), 10, MRApps.wcMap, MRApps.wcReduce, out)
    val parts = partFiles(out).size
    assert(parts == 10, s"expected 10 output partitions (nReduce), got $parts")
  }

  test("reduce loop: few keys over many buckets, each key reduced exactly once") {
    // 3 keys, each in every file, nReduce 10: every key's values arrive
    // from every map task, and 7 of the 10 buckets get no key at all.
    val dir = Files.createTempDirectory("mr-fewkeys")
    val files = (0 until 4).map { i =>
      val text = (Seq.fill(i + 1)("alpha") ++ Seq.fill(2 * i + 1)("beta") ++ Seq("gamma"))
        .mkString(" ")
      Files.write(dir.resolve(s"f$i.txt"), text.getBytes("UTF-8")).toString
    }
    val out = Files.createTempDirectory("mrout-fewkeys").toString
    MRJob.runToText(spark, files, 10, MRApps.wcMap, MRApps.wcReduce, out)
    val lines = partFiles(out).flatMap(p => Files.readAllLines(p).asScala)
    val got = lines.map { l => val Array(k, v) = l.split(" "); k -> v }
    assert(got.map(_._1).sorted == Seq("alpha", "beta", "gamma"),
      s"each key must appear exactly once: $lines")
    assert(got.sorted == sequential(files, MRApps.wcMap, MRApps.wcReduce).sorted)
    // Spark writes no part file for an empty bucket: count the buckets.
    val run = MRJob.run(spark, files, 10, MRApps.wcMap, MRApps.wcReduce)
    assert(run.rdd.getNumPartitions == 10, "one reduce task per mr-out-<r>")
  }

  test("document names are the raw file names, not URL-encoded") {
    // input_file_name() is URL-encoded: a space reads back as %20. The
    // reference and the oracle name a document by its file name on disk.
    val dir = Files.createTempDirectory("mr-names")
    val file = Files.write(dir.resolve("my fil\u00e9.txt"),
      "alpha beta alpha".getBytes("UTF-8")).toString
    val got = MRJob.run(spark, Seq(file), 3, MRApps.indexerMap, MRApps.indexerReduce)
      .collect().toSeq.map(kv => (kv.key, kv.value)).sorted
    val want = sequential(Seq(file), MRApps.indexerMap, MRApps.indexerReduce).sorted
    assert(want.contains("alpha" -> "1 my fil\u00e9.txt"))
    assert(got == want)
  }

  test("one shuffle per job: the executed plan has exactly one Exchange") {
    // Partition by key, sort within the bucket, reduce adjacent keys — the
    // reference's single reduce-side pass (worker.go:116-154).
    val plans = ExecutedPlans.of(spark) {
      MRJob.run(spark, corpus, 10, MRApps.wcMap, MRApps.wcReduce).collect()
    }
    val exchanges = ExecutedPlans.exchanges(plans)
    assert(exchanges == 1, s"expected one shuffle, got $exchanges:\n${plans.mkString("\n")}")
  }

  test("runToText writes reference line format 'key value'") {
    val out = Files.createTempDirectory("mrout").toString
    MRJob.runToText(spark, corpus.take(1), 3, MRApps.wcMap, MRApps.wcReduce, out)
    val lines = partFiles(out).flatMap(p => Files.readAllLines(p).asScala)
    assert(lines.nonEmpty)
    assert(lines.forall(_.matches("\\S+ \\S+")))
  }
}
