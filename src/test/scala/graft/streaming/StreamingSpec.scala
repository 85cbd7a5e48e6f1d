package graft.streaming

import graft.SparkSuite
import graft.queries.Events
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ↔ batch parity: the streaming pipelines must produce exactly
  * the batch results once the watermark passes all data (the streaming
  * analogue of the reference's differential harness, SURVEY.md §5).
  */
class StreamingSpec extends SparkSuite {

  private def loadEvents(): Seq[Event] = {
    import spark.implicits._
    graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq
  }

  test("streaming windowed agg equals batch on a closed stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = loadEvents()
    val stream = MemoryStream[Event]
    stream.addData(events)
    val q = Streaming.windowedAgg(stream.toDF())
      .writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("win_agg")
      .select("window_start", "event_type", "n", "sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = Events.windowAgg(spark, sf)
      .select("window_start", "event_type", "n", "sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want)
  }

  test("file-stream source: windowed agg over the parquet stream equals batch") {
    val q = Streaming.windowedAgg(Streaming.eventsStream(spark, sf))
      .writeStream.format("memory").queryName("file_win_agg")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("file_win_agg")
      .select("window_start", "event_type", "n", "sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = Events.windowAgg(spark, sf)
      .select("window_start", "event_type", "n", "sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want)
  }

  test("streaming dedup drops in-watermark duplicates exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = loadEvents().take(2000)
    val dupes = events.take(500) // re-deliver 500 of them (at-least-once)
    val stream = MemoryStream[Event]
    val q = Streaming.dedupeStream(stream.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      stream.addData(events)
      q.processAllAvailable()
      stream.addData(dupes)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_out").count()
    assert(got == events.length,
      s"expected ${events.length} unique events, got $got")
  }

  test("sessionization across many micro-batches: incremental emission, same final set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = loadEvents().sortBy(_.ts)
    val chunks = events.grouped(math.max(1, events.size / 4)).toSeq
    val stream = MemoryStream[Event]
    val q = Streaming.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sessions_mb")
      .outputMode("append").start()
    val emittedPerBatch = scala.collection.mutable.ArrayBuffer[Long]()
    try {
      chunks.foreach { c =>
        stream.addData(c)
        q.processAllAvailable()
        emittedPerBatch += spark.table("sessions_mb").count()
      }
      // Flush open sessions past the watermark.
      val sentinelTs = events.last.ts.plusSeconds(24 * 3600)
      stream.addData(Seq(Event(-1L, sentinelTs, -999L, "sentinel", 0.0)))
      q.processAllAvailable()
      stream.addData(Seq(Event(-2L, sentinelTs.plusSeconds(3600), -999L, "sentinel", 0.0)))
      q.processAllAvailable()
    } finally q.stop()

    // Sessions must arrive incrementally (chronological feed → earlier
    // batches close earlier sessions), not all at the end.
    assert(emittedPerBatch.last > emittedPerBatch.head,
      s"no incremental emission: $emittedPerBatch")

    val got = spark.table("sessions_mb").as[Session].collect()
      .filter(_.user_id != -999L)
      .map(s => (s.user_id, s.start_us, s.end_us, s.n_events, s.duration_us)).toSet
    val want = Events.sessionize(spark, sf)
      .select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events"), col("duration_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == want, s"multi-batch sessions ${got.size} != batch ${want.size}")
  }

  test("stream-stream attribution join matches the batch interval join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = loadEvents()
    val stream = MemoryStream[Event]
    val q = Streaming.attributionJoin(stream.toDF())
      .writeStream.format("memory").queryName("attr_join")
      .outputMode("append").start()
    try {
      stream.addData(events)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attr_join")
      .groupBy("purchase_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Batch truth: inner pairs per purchase (left-join zeros excluded).
    val want = Events.attribution(spark, sf)
      .filter(org.apache.spark.sql.functions.col("clicks_1h_before") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == want, s"stream join sizes ${got.size} vs batch ${want.size}")
  }

  test("stream-stream join: watermark evicts state across micro-batches; output equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = loadEvents().sortBy(_.ts)
    val joinInputRows = events.count(e =>
      e.event_type == "purchase" || e.event_type == "click").toLong
    val chunks = events.grouped(math.max(1, events.size / 6)).toSeq
    val stream = MemoryStream[Event]
    val q = Streaming.attributionJoin(stream.toDF())
      .writeStream.format("memory").queryName("attr_evict")
      .outputMode("append").start()
    val stateRows = scala.collection.mutable.ArrayBuffer[Long]()
    try {
      chunks.foreach { c =>
        stream.addData(c)
        q.processAllAvailable()
        val p = q.lastProgress
        if (p != null && p.stateOperators.nonEmpty)
          stateRows += p.stateOperators.map(_.numRowsTotal).sum
      }
    } finally q.stop()
    // State must be bounded by the watermark horizon (~3 h of traffic),
    // not the stream: with a month-scale chronological feed, the join
    // buffers a small fraction of everything it has ingested.
    assert(stateRows.nonEmpty)
    assert(stateRows.max * 3 < joinInputRows,
      s"join state ${stateRows.max} not evicted (fed $joinInputRows join-side rows; " +
        s"per-batch state: $stateRows)")
    // And eviction must not cost correctness: inner pairs per purchase
    // equal the batch interval join.
    val got = spark.table("attr_evict")
      .groupBy("purchase_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Events.attribution(spark, sf)
      .filter(col("clicks_1h_before") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == want, s"stream join sizes ${got.size} vs batch ${want.size}")
  }

  test("checkpoint restart: dedup state and file sink stay exactly-once across a stop/start") {
    import java.nio.file.Files
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft-ckpt") { ckptPath =>
      val ckpt = ckptPath.toString
      withTempDir("graft-restart-out") { outDirPath =>
        val outDir = outDirPath.toString
        val events = loadEvents().sortBy(_.ts).take(3000)
        val (c1, c2) = events.splitAt(1500)
        val stream = MemoryStream[Event]
        def start() = Streaming.dedupeStream(stream.toDF())
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        val q1 = start()
        try { stream.addData(c1); q1.processAllAvailable() } finally q1.stop()
        // Re-deliver rows still inside the watermark horizon (the
        // dropDuplicatesWithinWatermark contract only covers those), plus the
        // next chunk — the at-least-once pattern across a process restart.
        val wmCut = c1.map(_.ts).max.minusSeconds(1800)
        val redeliver = c1.filter(e => !e.ts.isBefore(wmCut))
        assert(redeliver.nonEmpty, "test data too sparse for an in-watermark re-delivery")
        stream.addData(redeliver)
        stream.addData(c2)
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
        // Checkpointed dedup state must survive the restart (re-delivered rows
        // dropped) and the file sink must commit exactly-once.
        val got = spark.read.parquet(outDir)
        assert(got.count() == events.length,
          s"expected ${events.length} rows after restart, got ${got.count()}")
        assert(got.select("event_id").distinct().count() == events.length)
      }
    }
  }

  test("driver-facing streaming entries (st_window_agg, st_sessionize) equal batch forms") {
    // These are the SparkEntry.queries surface — real streaming executions
    // returning batch DataFrames; the driver oracle-checks them, this test
    // guards them in CI.
    val w = StreamingQueries.windowAgg(spark, sf).collect().map(_.toSeq).toSet
    val wBatch = Events.windowAgg(spark, sf)
      .select("window_start", "event_type", "n", "sum_value")
      .collect().map(_.toSeq).toSet
    assert(w == wBatch)
    val s = StreamingQueries.sessionize(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(_.toSeq).toSet
    val sBatch = Events.sessionize(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(_.toSeq).toSet
    assert(s == sBatch)
  }

  test("st_interval_join equals the batch self-join it restates") {
    // The driver-facing form of the (spec-proven) stream-stream
    // attribution join: run to completion, every (purchase, click≤1h)
    // pair appears exactly once with an exact integer lag.
    val got = StreamingQueries.intervalJoin(spark, sf)
      .collect().map(_.toSeq).toSet
    val want = {
      val e = graft.Tables.events(spark, sf)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("purchase_ts"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      p.join(c, col("user_id") === col("c_user")
          && col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR")
          && col("click_ts") < col("purchase_ts"))
        .select(col("purchase_id"), col("user_id"), col("purchase_ts"), col("click_ts"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("lag_us"))
        .collect().map(_.toSeq).toSet
    }
    assert(got.nonEmpty, "interval join produced no pairs on the fixture corpus")
    assert(got == want, s"stream ${got.size} pairs vs batch ${want.size}")
  }

  test("st_sliding equals a batch replay and every event lands in 2 windows") {
    val got = StreamingQueries.sliding(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // Batch replay of the overlap: each event belongs to the two
    // epoch-aligned 30-min-start windows covering it. DIV, not `/` —
    // Column./ is double division and can land on the wrong side of a
    // bucket boundary.
    val e = graft.Tables.events(spark, sf)
    val win30 = expr("unix_micros(ts) DIV 1800000000 * 1800000000")
    val batch = e.select(col("event_type"), col("value"),
      explode(array(timestamp_micros(win30),
        timestamp_micros(win30 - lit(1800000000L)))).as("window_start"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == batch, s"sliding agg diverges from the batch replay " +
      s"(missing ${(batch -- got).take(3)}, extra ${(got -- batch).take(3)})")
    // conservation: each event counted exactly twice across all windows
    val totalCounted = got.toSeq.map(_._3).sum
    assert(totalCounted == 2 * e.count(), "events must land in exactly 2 windows")
  }

  test("st_dedup equals batch DISTINCT and actually drops duplicate keys") {
    val got = StreamingQueries.dedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSet
    val want = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("hour"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSet
    assert(got == want, s"streaming distinct diverges from batch " +
      s"(missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)})")
    // The dedup must be load-bearing: the corpus has multiple events per
    // (user, type, hour), so output < input proves state actually dropped
    // rows rather than passing the stream through.
    val total = graft.Tables.events(spark, sf).count()
    assert(got.size < total, "no duplicates dropped — dedup state inert")
  }

  test("interleaved invocations keep distinct sinks — no temp-view clobber") {
    // The returned DataFrames read their memory-sink temp views LAZILY: with
    // a fixed sink name, running the same entry again before reading the
    // first result re-pointed the first DataFrame at the SECOND corpus's
    // rows. Both results are held unread across the second run, then checked
    // against their own batch forms.
    val sfBig = "/root/testdata/sf0.01"
    val wSmall = StreamingQueries.windowAgg(spark, sf)   // unread…
    val wBig = StreamingQueries.windowAgg(spark, sfBig)  // …while this runs
    val sSmall = StreamingQueries.sessionize(spark, sf)
    val sBig = StreamingQueries.sessionize(spark, sfBig)
    def winSet(df: org.apache.spark.sql.DataFrame) =
      df.select("window_start", "event_type", "n", "sum_value")
        .collect().map(_.toSeq).toSet
    assert(winSet(wSmall) == winSet(Events.windowAgg(spark, sf)),
      "first windowAgg result was clobbered by the second invocation")
    assert(winSet(wBig) == winSet(Events.windowAgg(spark, sfBig)))
    def sessSet(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "session_start", "session_end", "n_events")
        .collect().map(_.toSeq).toSet
    assert(sessSet(sSmall) == sessSet(Events.sessionize(spark, sf)),
      "first sessionize result was clobbered by the second invocation")
    assert(sessSet(sBig) == sessSet(Events.sessionize(spark, sfBig)))
  }

  test("streaming sessionization equals batch sessionize after watermark close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = loadEvents()
    val maxTs = events.map(_.ts).max
    // Sentinel event for a user id outside the real range, 12h after the
    // last real event: advances the watermark past every open session's
    // timeout so all real sessions emit.
    val sentinel = Event(-1L, maxTs.plusSeconds(12 * 3600), -999L, "sentinel", 0.0)

    val stream = MemoryStream[Event]
    val q = Streaming.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      stream.addData(events)
      q.processAllAvailable()
      stream.addData(Seq(sentinel))
      q.processAllAvailable()
      // One more empty-ish trigger so timeouts scheduled at the new
      // watermark fire.
      stream.addData(Seq(sentinel.copy(event_id = -2L, ts = sentinel.ts.plusSeconds(3600))))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("sessions").as[Session].collect()
      .filter(_.user_id != -999L)
      .map(s => (s.user_id, s.start_us, s.end_us, s.n_events,
        math.round(s.sum_value * 100).toDouble / 100, s.duration_us)).toSet

    val want = Events.sessionize(spark, sf)
      .select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events"), col("sum_value"),
        col("duration_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSet

    assert(got.size == want.size, s"session count ${got.size} != ${want.size}")
    assert(got == want)
  }
}
