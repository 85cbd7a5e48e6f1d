package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.GraftSession

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: Path, value: Any): Unit = mapper.writeValue(path.toFile, value)
}

/** Runs one workload in this JVM and writes `result.json` (and, when
  * traced, `spans.json`) under `--out`:
  *
  *  1. set-up five times: build the session and load every table the
  *     workload reads (the first set-up counts from JVM start; the others
  *     stop the session and build a fresh one);
  *  2. one cold pass, five warm-up passes, then measured passes until
  *     `--seconds` have elapsed; each pass runs every operation once, in an
  *     order drawn from the seed and the pass number;
  *  3. the output checks, outside the timed passes.
  *
  * When traced, the cold pass and every second measured pass run with the
  * listeners registered, so the trace overhead is measured in the same JVM.
  */
object Main {
  private val Setups = 5
  // The JIT keeps compiling for about a minute after the cold pass. After
  // five more passes, pass times are within about 10% of where they level
  // off on both workloads; a run's time budget goes to measured passes.
  private val WarmupPasses = 5

  private final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                                cores: Int, tables: String, corpus: String, out: Path)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("tables"), m("corpus"), Paths.get(m("out")))
  }

  /** CPU milliseconds (user + system) of the JIT compiler threads, from
    * /proc. Clock ticks are 10 ms (USER_HZ = 100). */
  private def jitCpuMs(): Double = {
    val tasks = Paths.get("/proc/self/task")
    Files.list(tasks).iterator().asScala.map { t =>
      try {
        if (!Files.readString(t.resolve("comm")).contains("CompilerThre")) 0.0
        else {
          val stat = Files.readString(t.resolve("stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * 10.0
        }
      } catch { case _: java.io.IOException => 0.0 } // the thread ended
    }.sum
  }

  private def jvmCounters(): Map[String, Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Map(
      "cpu_ms" -> os.getProcessCpuTime / 1e6,
      "jit_cpu_ms" -> jitCpuMs(),
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "gc_ms" -> gc.toDouble,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen_ms" -> WholeStageCodegenExec.codeGenTime / 1e6)
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.out)
    val workload = Workload(a.workload, a.tables, a.corpus, a.out)

    def newSession(): SparkSession =
      GraftSession("perfbench", s"local[${a.cores}]", a.cores)

    // 1. set-up
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    var spark: SparkSession = null
    var tracer: Tracer = null
    val setups = (1 to Setups).map { i =>
      val t0 = if (i == 1) jvmStartUs else Clock.nowUs()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val s0 = Clock.nowUs()
      spark = newSession()
      val s1 = Clock.nowUs()
      if (a.trace && i == Setups) { tracer = new Tracer(spark); tracer.attach() }
      if (tracer != null) tracer.within("setup", "Tables.load", 0L)(workload.load(spark))
      else workload.load(spark)
      val s2 = Clock.nowUs()
      Map("setup_s" -> (s2 - t0) / 1e6, "session_ms" -> (s1 - s0) / 1e3, "load_ms" -> (s2 - s1) / 1e3)
    }

    // 2. passes
    val sc = spark.sparkContext
    val failures = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def runPass(index: Int, phase: String, traced: Boolean): Map[String, Any] = {
      val order = new scala.util.Random(a.seed * 1000003L + index).shuffle(workload.ops)
      if (tracer != null) {
        if (traced) tracer.attach() else tracer.detach()
      }
      heapPools.foreach(_.resetPeakUsage())
      val before = jvmCounters()
      val passSpan = if (traced) tracer.begin("pass", s"pass $index", 0L) else 0L
      val t0 = System.nanoTime()
      val opTimes = order.map { op =>
        val o0 = System.nanoTime()
        val ok =
          try {
            if (traced) {
              val opSpan = tracer.begin("op", op.name, passSpan)
              try {
                val exec = tracer.within("build", op.name, opSpan)(op.build(spark))
                tracer.within("execute", op.name, opSpan)(exec())
              } finally tracer.end(opSpan)
            } else op.build(spark)()
            true
          } catch {
            case e: Throwable =>
              failures += Map("op" -> op.name, "pass" -> index, "error" -> String.valueOf(e.getMessage))
              false
          }
        val sec = (System.nanoTime() - o0) / 1e9
        // A query's persisted blocks are dead once its action returns; keep
        // them from becoming the next query's memory pressure.
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        Map("name" -> op.name, "s" -> sec, "ok" -> ok)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) {
        tracer.drain()
        tracer.end(passSpan)
      }
      val after = jvmCounters()
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      Map("index" -> index, "phase" -> phase, "traced" -> traced, "wall_s" -> wall,
        "ops" -> opTimes,
        "counters" -> (after.map { case (k, v) => k -> (v - before(k)) } + ("heap_peak_mb" -> heapPeak)))
    }

    // Untimed warm-up passes let the JIT settle after the cold pass; then
    // measured passes run until `seconds` have elapsed, at least one.
    // A traced run alternates untraced and traced measured passes, starting
    // and ending untraced, so each traced pass has an untraced pass on
    // either side to be compared with.
    val passes = scala.collection.mutable.ArrayBuffer(runPass(0, "cold", traced = a.trace))
    (1 to WarmupPasses).foreach(i => passes += runPass(i, "warmup", traced = false))
    val first = passes.size
    val measureStart = System.nanoTime()
    def more: Boolean = {
      val n = passes.size - first
      val elapsed = (System.nanoTime() - measureStart) / 1e9 >= a.seconds
      if (a.trace) n < 3 || n % 2 == 0 || !elapsed else n < 1 || !elapsed
    }
    while (more)
      passes += runPass(passes.size, "measured", traced = a.trace && (passes.size - first) % 2 == 1)
    val rssPeakMb = vmHwmMb()
    if (tracer != null) tracer.detach()

    // 3. output checks
    val checks = workload.check(spark, a.out)
    val extra = workload match {
      case mr: MrCorpus => Map("corpus_bytes" -> mr.corpusBytes, "tokens" -> mr.tokens)
      case _ => Map.empty[String, Any]
    }
    Json.write(a.out.resolve("result.json"), Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "setups" -> setups, "passes" -> passes.toSeq, "rss_peak_mb" -> rssPeakMb,
      "failures" -> failures.toSeq,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))) ++ extra)
    if (tracer != null)
      Json.write(a.out.resolve("spans.json"), tracer.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs)))
    spark.stop()
  }
}
