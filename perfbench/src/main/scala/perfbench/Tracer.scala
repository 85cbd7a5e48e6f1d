package perfbench

import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the trace. Times are epoch microseconds. `parent` is 0
  * when the parent is not known at record time (plan phases and point
  * events); those are attached to the innermost span containing them when
  * the trace is summarised.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startUs: Long, endUs: Long, attrs: Map[String, Double])

object Clock {
  def nowUs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** Span recorder for the traced run. The harness opens `pass`, `op`,
  * `build` and `execute` spans around its calls into the engine; Spark's
  * own listeners add `job` and `stage` spans (jobs find their parent through
  * a local property set on the calling thread), `plan.*` phases from each
  * query's `QueryPlanningTracker`, and point events for AQE re-plans,
  * streaming micro-batches and persisted-block totals. Everything stays in
  * memory until [[spans]] is read at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.HashMap.empty[Long, Span]
  private val PropKey = "perfbench.span"

  private def record(s: Span): Unit = done.synchronized { done += s }

  def begin(kind: String, name: String, parent: Long): Long = {
    val id = ids.incrementAndGet()
    open.synchronized { open(id) = Span(id, parent, kind, name, Clock.nowUs(), 0L, Map.empty) }
    id
  }

  def end(id: Long): Unit = {
    val s = open.synchronized { open.remove(id).get }
    record(s.copy(endUs = Clock.nowUs()))
  }

  /** Runs `body` inside a span; jobs it submits are children of that span. */
  def within[T](kind: String, name: String, parent: Long)(body: => T): T = {
    val id = begin(kind, name, parent)
    val previous = sc.getLocalProperty(PropKey)
    sc.setLocalProperty(PropKey, id.toString)
    try body
    finally {
      sc.setLocalProperty(PropKey, previous)
      end(id)
    }
  }

  def spans: Seq[Span] = done.synchronized(done.toList)

  private def event(kind: String, name: String, atUs: Long, attrs: Map[String, Double]): Unit =
    record(Span(ids.incrementAndGet(), 0L, kind, name, atUs, atUs, attrs))

  private val jobSpanIds = mutable.HashMap.empty[Int, (Long, Long, Long, Int)] // job -> (span, parent, start, stages)
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSums = mutable.HashMap.empty[(Int, Int), mutable.HashMap[String, Double]]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var persistedBytes = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toLong).getOrElse(0L)
      jobSpanIds(e.jobId) = (ids.incrementAndGet(), parent, e.time * 1000L, e.stageIds.size)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpanIds.remove(e.jobId).foreach { case (id, parent, start, stages) =>
        val ok = e.jobResult == JobSucceeded
        record(Span(id, parent, "job", s"job ${e.jobId}", start, e.time * 1000L,
          Map("stages" -> stages.toDouble, "failed" -> (if (ok) 0.0 else 1.0))))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val sums = stageSums.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.HashMap.empty)
      def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
      add("tasks", 1)
      if (e.reason != org.apache.spark.Success) add("task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        add("run_ms", m.executorRunTime.toDouble)
        add("cpu_ms", m.executorCpuTime / 1e6)
        add("sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime).toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add("shuffle_write_ms", m.shuffleWriteMetrics.writeTime / 1e6)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle_read_records", m.shuffleReadMetrics.recordsRead.toDouble)
        add("spill_bytes", m.diskBytesSpilled.toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("input_records", m.inputMetrics.recordsRead.toDouble)
        add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val sums = stageSums.remove((info.stageId, info.attemptNumber())).getOrElse(mutable.HashMap.empty)
      val parentJob = stageJob.get(info.stageId).flatMap(jobSpanIds.get).map(_._1).getOrElse(0L)
      val start = info.submissionTime.getOrElse(0L) * 1000L
      val end = info.completionTime.getOrElse(0L) * 1000L
      record(Span(ids.incrementAndGet(), parentJob, "stage", s"stage ${info.stageId}",
        start, math.max(start, end), sums.toMap))
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        persistedBytes += size - rddBlocks.getOrElse(b.blockId.name, 0L)
        if (size == 0L) rddBlocks.remove(b.blockId.name) else rddBlocks(b.blockId.name) = size
        event("persisted", "rdd blocks", Clock.nowUs(), Map("bytes" -> persistedBytes.toDouble))
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        event("aqe", "re-plan", Clock.nowUs(), Map.empty)
      case _ =>
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, p) =>
      record(Span(ids.incrementAndGet(), 0L, s"plan.$phase", phase,
        p.startTimeMs * 1000L, p.endTimeMs * 1000L, Map.empty))
    }
    val nodes = qe.optimizedPlan.collectWithSubqueries { case p => p }.size
    val at = qe.tracker.phases.values.map(_.startTimeMs * 1000L).minOption.getOrElse(Clock.nowUs())
    event("plan", "logical plan", at, Map("nodes" -> nodes.toDouble))
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      event("stream", "micro-batch", Clock.nowUs(),
        Map("batch_ms" -> p.batchDuration.toDouble, "rows" -> p.numInputRows.toDouble))
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    attached = true
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = if (attached) {
    attached = false
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain(sc)
}
