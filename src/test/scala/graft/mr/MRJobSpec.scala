package graft.mr

import graft.{ExecutedPlans, SparkSuite}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TaskContext
import scala.jdk.CollectionConverters._

/** Reduce calls per task attempt, shared by the local-mode tasks of a test. */
object ReduceAttempts {
  val calls = new ConcurrentHashMap[Long, AtomicInteger]()
  val injected = new AtomicInteger(0)
  def call(attemptId: Long): Int =
    calls.computeIfAbsent(attemptId, _ => new AtomicInteger(0)).incrementAndGet()
  def reset(): Unit = { calls.clear(); injected.set(0) }
}

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
    * punctuation and non-ASCII letters; `mapf` sees each file whole.
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

  /** Names in an output directory, none if it does not exist. */
  private def listing(out: String): Set[String] =
    if (!Files.isDirectory(Paths.get(out))) Set.empty
    else Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString).toSet

  /** The state after job commit: exactly `nReduce` part files, nothing
    * left under `_temporary`, `_SUCCESS` present. */
  private def assertCommitted(out: String, nReduce: Int): Unit = {
    val names = listing(out)
    assert(partFiles(out).size == nReduce, s"expected $nReduce part files: $names")
    assert(!names.contains("_temporary"), s"_temporary left behind: $names")
    assert(names.contains("_SUCCESS"), s"no _SUCCESS: $names")
  }

  /** Sorted `"key value"` lines of an output directory against the oracle's. */
  private def assertOracleLines(out: String, files: Seq[String],
                                mapf: (String, String) => Seq[KV],
                                reducef: (String, Seq[String]) => String): Unit = {
    val got = partFiles(out).flatMap(p => Files.readAllLines(p).asScala).sorted
    val want = sequential(files, mapf, reducef).map { case (k, v) => s"$k $v" }.sorted
    assert(got.size == want.size)
    assert(got == want)
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
    withTempDir("mrout-n") { outPath =>
      val out = outPath.toString
      MRJob.runToText(spark, corpus.take(2), 10, MRApps.wcMap, MRApps.wcReduce, out)
      val parts = partFiles(out).size
      assert(parts == 10, s"expected 10 output partitions (nReduce), got $parts")
    }
  }

  test("reduce loop: few keys over many buckets, each key reduced exactly once") {
    // 3 keys, each in every file, nReduce 10: every key's values arrive
    // from every map task, and most of the 10 buckets get no key at all.
    withTempDir("mr-fewkeys") { dir =>
      val files = (0 until 4).map { i =>
        val text = (Seq.fill(i + 1)("alpha") ++ Seq.fill(2 * i + 1)("beta") ++ Seq("gamma"))
          .mkString(" ")
        Files.write(dir.resolve(s"f$i.txt"), text.getBytes("UTF-8")).toString
      }
      withTempDir("mrout-fewkeys") { outPath =>
        val out = outPath.toString
        MRJob.runToText(spark, files, 10, MRApps.wcMap, MRApps.wcReduce, out)
        val lines = partFiles(out).flatMap(p => Files.readAllLines(p).asScala)
        val got = lines.map { l => val Array(k, v) = l.split(" "); k -> v }
        assert(got.map(_._1).sorted == Seq("alpha", "beta", "gamma"),
          s"each key must appear exactly once: $lines")
        assert(got.sorted == sequential(files, MRApps.wcMap, MRApps.wcReduce).sorted)
        // Every bucket writes its file, an empty one included (mr-out-<r>),
        // and part-<r> holds the keys of bucket r: pmod(hash(key), nReduce),
        // the exchange's partition expression.
        val parts = partFiles(out)
        assert(parts.size == 10, s"one part file per bucket: $parts")
        val bucketOf = Seq("alpha", "beta", "gamma").map { k =>
          k -> spark.sql(s"SELECT pmod(hash('$k'), 10)").head().getInt(0)
        }.toMap
        val keysIn = parts.map { p =>
          p.getFileName.toString.stripPrefix("part-").toInt ->
            Files.readAllLines(p).asScala.map(_.split(" ")(0)).toSet
        }.toMap
        assert(keysIn == (0 until 10).map(r => r -> bucketOf.filter(_._2 == r).keySet).toMap,
          s"buckets $bucketOf")
        // beta and gamma share bucket 1, alpha is in 8: 8 part files are empty.
        assert(parts.count(Files.size(_) == 0) == 8, s"buckets $bucketOf")
      }
    }
  }

  test("runToText commit: a reduce attempt that dies mid-bucket is retried, output once") {
    // Every reduce task's first attempt throws on its second key, after
    // its first line went to the temp file; local[4,2] retries it.
    ReduceAttempts.reset()
    val reducef: (String, Seq[String]) => String = (k, vs) => {
      val tc = TaskContext.get()
      if (tc.attemptNumber() == 0 && ReduceAttempts.call(tc.taskAttemptId()) == 2) {
        ReduceAttempts.injected.incrementAndGet()
        throw new RuntimeException("injected reduce crash after one written line")
      }
      MRApps.wcReduce(k, vs)
    }
    withTempDir("mrout-retry") { outPath =>
      val out = outPath.toString
      MRJob.runToText(spark, corpus, 10, MRApps.wcMap, reducef, out)
      assert(ReduceAttempts.injected.get() == 10, "every reduce task's first attempt died")
      assertCommitted(out, 10)
      assert(listing(out).forall(n => !n.endsWith(".tmp")), s"temp file left: ${listing(out)}")
      assertOracleLines(out, corpus, MRApps.wcMap, MRApps.wcReduce)
    }
  }

  test("runToText commit: a failed job leaves no part file and no _SUCCESS") {
    // Output is visible only at job commit (the reference's early_exit
    // contract): a job whose reduce always throws publishes nothing.
    val boom: (String, Seq[String]) => String = (_, _) => throw new RuntimeException("reduce fails")
    withTempDir("mrout-fail") { outPath =>
      val out = outPath.toString
      intercept[Exception](MRJob.runToText(spark, corpus.take(2), 4, MRApps.wcMap, boom, out))
      val names = listing(out)
      assert(!names.exists(_.startsWith("part-")), s"part file published by a failed job: $names")
      assert(!names.contains("_SUCCESS"), s"_SUCCESS written by a failed job: $names")
    }
  }

  test("runToText commit: a rerun overwrites the directory, nReduce 10 then 3") {
    withTempDir("mrout-over") { outPath =>
      val out = outPath.toString
      MRJob.runToText(spark, corpus.take(2), 10, MRApps.wcMap, MRApps.wcReduce, out)
      assertCommitted(out, 10)
      MRJob.runToText(spark, corpus.take(2), 3, MRApps.wcMap, MRApps.wcReduce, out)
      assertCommitted(out, 3)
      assertOracleLines(out, corpus.take(2), MRApps.wcMap, MRApps.wcReduce)
    }
  }

  test("runToText fails fast on a null value, naming the bucket") {
    // Reference strings cannot be nil; a null must not print as "key ".
    val nullBeta: (String, Seq[String]) => String =
      (k, vs) => if (k == "beta") null else MRApps.wcReduce(k, vs)
    withTempDir("mr-null") { dir =>
      val file = Files.write(dir.resolve("f.txt"), "alpha beta gamma".getBytes("UTF-8")).toString
      withTempDir("mrout-null") { outPath =>
        val out = outPath.toString
        val e = intercept[Exception](MRJob.runToText(spark, Seq(file), 3, MRApps.wcMap, nullBeta, out))
        assert(e.getMessage.matches("(?s).*bucket \\d+: null value for key 'beta'.*"), e.getMessage)
        assert(!listing(out).exists(_.startsWith("part-")))
      }
    }
  }

  test("document names are the raw file names, not URL-encoded") {
    // input_file_name() is URL-encoded: a space reads back as %20. The
    // reference and the oracle name a document by its file name on disk.
    withTempDir("mr-names") { dir =>
      val file = Files.write(dir.resolve("my fil\u00e9.txt"),
        "alpha beta alpha".getBytes("UTF-8")).toString
      val got = MRJob.run(spark, Seq(file), 3, MRApps.indexerMap, MRApps.indexerReduce)
        .collect().toSeq.map(kv => (kv.key, kv.value)).sorted
      val want = sequential(Seq(file), MRApps.indexerMap, MRApps.indexerReduce).sorted
      assert(want.contains("alpha" -> "1 my fil\u00e9.txt"))
      assert(got == want)
    }
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
    withTempDir("mrout") { outPath =>
      val out = outPath.toString
      MRJob.runToText(spark, corpus.take(1), 3, MRApps.wcMap, MRApps.wcReduce, out)
      val lines = partFiles(out).flatMap(p => Files.readAllLines(p).asScala)
      assert(lines.nonEmpty)
      assert(lines.forall(_.matches("\\S+ \\S+")))
    }
  }
}
