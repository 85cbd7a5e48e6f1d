package graft.mr

import java.nio.file.Files
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

/** Process-death + speculation probes, run on `local-cluster[2,1,1024]`
  * (real separate executor JVMs) from a CHILD JVM spawned by
  * ClusterChaosSpec — a second SparkContext can't coexist with the shared
  * test session.
  *
  * Reference analogues:
  *  - "kill": mrapps/crash.go:20-32 kills worker PROCESSES with os.Exit;
  *    the coordinator's 10 s deadline re-issues their tasks
  *    (mr/coordinator.go:141-154). Here a map task halts its executor JVM
  *    on the first attempt; standalone Worker relaunches the executor and
  *    the task-retry path re-runs it. Output must equal the sequential
  *    oracle exactly (test-mr.sh:270-317 differential).
  *  - "speculate": the same 10 s deadline doubles as straggler mitigation
  *    (mr/coordinator.go:215) — a hung worker's task is re-issued
  *    elsewhere. Spark's analogue is spark.speculation: a straggler
  *    attempt sleeps forever-ish, the speculative copy wins, and the job
  *    finishes far under the straggler's sleep.
  */
object ClusterChaosMain {

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val base = SparkSession.builder()
      .master("local-cluster[2,1,1024]")
      .appName(s"graft-cluster-chaos-$mode")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      // Executor JVMs are launched from SPARK_HOME/jars only; graft's
      // compiled classes ride along explicitly.
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
    val spark = (mode match {
      case "speculate" => base
        .config("spark.speculation", "true")
        .config("spark.speculation.interval", "100ms")
        .config("spark.speculation.quantile", "0.5")
        .config("spark.speculation.multiplier", "1.2")
      case _ => base
    }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    mode match {
      case "kill" => killTest(spark)
      case "speculate" => speculateTest(spark)
    }
    spark.stop()
  }

  /** wc golden differential with an executor-JVM halt on the first attempt
    * of one map task.
    */
  private def killTest(spark: SparkSession): Unit = {
    val dir = Files.createTempDirectory("graft-kill")
    val texts = (0 until 6).map(i => s"f$i.txt" ->
      s"shared words here uniq${('a' + i).toChar} more shared")
    texts.foreach { case (n, t) => Files.write(dir.resolve(n), t.getBytes("UTF-8")) }
    // Sequential oracle (plain fold, the reference's mrsequential analogue).
    val oracle: Map[String, String] = texts
      .flatMap { case (n, t) => MRApps.wcMap(n, t) }
      .groupBy(_.key)
      .map { case (k, kvs) => k -> MRApps.wcReduce(k, kvs.map(_.value)) }
    val mapf: (String, String) => Seq[KV] = (doc, contents) => {
      val tc = TaskContext.get()
      // First attempt that maps f0.txt takes its whole executor JVM down —
      // a real process death, not an in-JVM exception.
      if (doc == "f0.txt" && tc.attemptNumber() == 0) Runtime.getRuntime.halt(17)
      MRApps.wcMap(doc, contents)
    }
    val out = try MRJob.run(spark, Seq(dir.toString + "/*.txt"), 2, mapf, MRApps.wcReduce)
      .collect().map(kv => kv.key -> kv.value).toMap
    finally graft.sources.Staging.deleteRecursively(dir)
    require(out == oracle,
      s"post-executor-death output differs from oracle: $out vs $oracle")
    println(s"[clusterchaos] kill OK: ${out.size} keys match oracle after executor death")
  }

  /** Straggler: one task sleeps 12 s while its 3 siblings finish in
    * milliseconds; with spark.speculation on, the scheduler must DECIDE to
    * re-issue it (SparkListenerSpeculativeTaskSubmitted) — the analogue of
    * the reference coordinator's 10 s-deadline re-issue
    * (mr/coordinator.go:141-154,215).
    *
    * Deliberately asserted at the scheduler-decision level: speculative
    * COPIES are only placed on a host with no prior attempt
    * (TaskSetManager.dequeueSpeculativeTask's hasAttemptOnHost exclusion),
    * and every local-cluster worker shares `localhost`, so the rescue
    * itself is unschedulable in any single-host harness. The
    * re-execution-elsewhere path is what killTest covers for real.
    */
  private def speculateTest(spark: SparkSession): Unit = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerSpeculativeTaskSubmitted}
    val sc = spark.sparkContext
    val speculated = new AtomicInteger(0)
    sc.addSparkListener(new SparkListener {
      override def onSpeculativeTaskSubmitted(
          e: SparkListenerSpeculativeTaskSubmitted): Unit = speculated.incrementAndGet()
    })
    val out = sc.parallelize(1 to 400, 4).mapPartitionsWithIndex { (pid, it) =>
      if (pid == 3 && TaskContext.get().attemptNumber() == 0) Thread.sleep(12000)
      it.map(_ * 2)
    }.collect().sorted
    require(out.toSeq == (1 to 400).map(_ * 2),
      "speculation changed the result")
    require(speculated.get() >= 1,
      "scheduler never marked the straggler speculatable")
    println(s"[clusterchaos] speculate OK: exact result; " +
      s"${speculated.get()} speculative re-issue decision(s) for the straggler")
  }
}
