package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._

/** Execution-semantics probes — ports of the reference's framework-behavior
  * tests (SURVEY.md §2.2 A3/A4/A8, main/test-mr.sh):
  *
  *  - crash.go analogue: tasks that fail once are re-executed and the job's
  *    OUTPUT is exactly-once (Spark task retry + commit protocol replaces
  *    the reference's 10 s deadline + temp-file rename).
  *  - jobcount.go analogue: absent failures, each partition's side effects
  *    run exactly once (no speculation by default).
  *  - early_exit.sh analogue: output becomes visible atomically at job
  *    commit (_SUCCESS marker), never partially.
  */
/** In-JVM concurrency tracker for the mtiming/rtiming analogues — local
  * mode shares one JVM, so atomics observe all task threads. The reference
  * proves worker parallelism by overlapping timestamps
  * (mrapps/mtiming.go:19-79, rtiming.go:17-84); a high-water mark of
  * simultaneously-active UDF invocations is the same statement measured
  * directly.
  */
object ParallelismProbe {
  import java.util.concurrent.atomic.AtomicInteger
  val mapCur = new AtomicInteger(0); val mapMax = new AtomicInteger(0)
  val redCur = new AtomicInteger(0); val redMax = new AtomicInteger(0)
  def enter(cur: AtomicInteger, max: AtomicInteger): Unit = {
    val c = cur.incrementAndGet()
    max.getAndUpdate(m => math.max(m, c))
  }
  def reset(): Unit = { mapCur.set(0); mapMax.set(0); redCur.set(0); redMax.set(0) }
}

class ChaosSpec extends SparkSuite {

  test("crash recovery: first-attempt failure is retried; result is exactly-once") {
    import spark.implicits._
    val data = (1L to 1000L).toDS().repartition(4)
    val out = data.mapPartitions { it =>
      val tc = TaskContext.get()
      // Fail every partition's first attempt — the reference's crash.go
      // kills ~1/3 of tasks; here deterministic for a stable test.
      if (tc.attemptNumber() == 0) throw new RuntimeException("injected crash")
      it
    }.as[Long].collect().sorted
    assert(out.toSeq == (1L to 1000L).toSeq, "retried job must produce exact output")
  }

  test("jobcount: exactly one execution per partition absent failures") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("taskRuns")
    val data = (1 to 800).toDS().repartition(8)
    data.foreachPartition { (_: Iterator[Int]) => acc.add(1) }
    assert(acc.value == 8, s"expected 8 task executions, saw ${acc.value}")
  }

  test("mtiming/rtiming: at least 2 map tasks and 2 reduce tasks run concurrently") {
    import java.nio.file.Files
    import graft.mr.{KV, MRApps, MRJob}
    ParallelismProbe.reset()
    // 8 tiny files → 4 map tasks of 2 files: wholetext packs whole files,
    // each costing the 4 MiB open cost, into splits of total / 4 cores =
    // 8 MiB. The test session runs local[4], so 4 slots.
    withTempDir("graft-mtiming") { dir =>
      (0 until 8).foreach { i =>
        // letter-only words: the wc tokenizer splits on non-letters
        Files.write(dir.resolve(s"f$i.txt"),
          s"uniq${('a' + i).toChar} shared common words".getBytes("UTF-8"))
      }
      val mapf: (String, String) => Seq[KV] = (doc, contents) => {
        ParallelismProbe.enter(ParallelismProbe.mapCur, ParallelismProbe.mapMax)
        try { Thread.sleep(400); MRApps.wcMap(doc, contents) }
        finally ParallelismProbe.mapCur.decrementAndGet()
      }
      val reducef: (String, Seq[String]) => String = (k, vs) => {
        ParallelismProbe.enter(ParallelismProbe.redCur, ParallelismProbe.redMax)
        try { Thread.sleep(150); MRApps.wcReduce(k, vs) }
        finally ParallelismProbe.redCur.decrementAndGet()
      }
      // nReduce = 3 reduce tasks: AQE never coalesces a repartition to an
      // explicit count.
      val out = MRJob.run(spark, Seq(dir.toString + "/*.txt"), 3, mapf, reducef)
        .collect().map(kv => kv.key -> kv.value).toMap
      // Output must still be the sequential oracle's (mtiming also checks
      // correctness, mtiming.go:72-78).
      assert(out("common") == "8" && out("uniqd") == "1")
      assert(ParallelismProbe.mapMax.get() >= 2,
        s"map stage never ran ≥2 tasks concurrently (max=${ParallelismProbe.mapMax.get()})")
      assert(ParallelismProbe.redMax.get() >= 2,
        s"reduce stage never ran ≥2 tasks concurrently (max=${ParallelismProbe.redMax.get()})")
    }
  }

  test("early exit: output is published atomically at job commit") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    withTempDir("graft-commit") { outPath =>
      val out = outPath.toString
      graft.Tables.documents(spark, sf)
        .select(col("doc_id"), col("n_chars"))
        .repartition(4)
        .write.mode("overwrite").parquet(out)
      val files = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString).toSeq
      assert(files.contains("_SUCCESS"), "job commit marker must exist")
      // No task-attempt temp dirs may survive commit.
      assert(!files.exists(_.startsWith("_temporary")), s"uncommitted temp data left: $files")
      val n = spark.read.parquet(out).count()
      assert(n == graft.Tables.documents(spark, sf).count())
    }
  }
}
