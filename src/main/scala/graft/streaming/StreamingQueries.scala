package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Driver-visible streaming entries: each runs a REAL Structured Streaming
  * execution (file source → stateful operator → sink) to completion over
  * the static events table and returns the final result as a batch
  * DataFrame, so the streaming paths sit in `SparkEntry.queries` under the
  * same DuckDB oracle gate as everything else — not only behind
  * StreamingSpec's in-process parity tests.
  *
  * The memory sink holds only the AGGREGATED result (windows/sessions —
  * thousands of rows), never raw events; at production scale the same
  * pipelines write to Kafka/Delta sinks and these entries exist to pin
  * their semantics against the batch oracle at test scale.
  */
object StreamingQueries {

  /** Memory-sink temp-view names are per-invocation: the returned DataFrame
    * reads the sink view lazily, so a FIXED name would let a second
    * invocation clobber the first's still-unread result (two bench laps, or
    * windowAgg over two corpora in one session). A monotone counter keeps
    * names unique for the lifetime of the JVM; the per-run views are tiny
    * (aggregated rows only) and die with the session.
    */
  private val sinkCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private def freshSink(prefix: String): String =
    s"${prefix}_${sinkCounter.incrementAndGet()}"

  /** Run `start` with the bounded-replay streaming confs applied and the
    * session values restored after the stream is CONSTRUCTED (both confs
    * are read once at query start): 8 state partitions (every micro-batch
    * commits a delta file PER state partition — see sessionize's note; a
    * real deployment sizes this to key cardinality), and optionally the
    * no-data micro-batch disabled.
    *
    * noDataMicroBatches (round 19, measured): after a batch advances the
    * watermark, Spark runs a spontaneous EMPTY micro-batch so
    * watermark-driven output/state-eviction happens promptly — for
    * st_interval_join that empty batch plus its planning gap cost 0.7 s
    * of a 2.3 s wall (JobBreakdown: job 10 = 372 ms + 346 ms gap) while
    * emitting nothing: an inner interval join emits matches in the batch
    * that processes them, dedup emits first-arrivals in-batch, and the
    * complete-mode window aggregates re-emit the full result at every
    * commit — none of the four AvailableNow entries' sink contents
    * depend on the sweep (oracle-checked unchanged). st_sessionize is
    * the one entry whose OUTPUT needs the sweep (the timeout sweep IS
    * what closes sessions) and keeps the default.
    */
  private def withBoundedReplayConfs[T](spark: SparkSession,
      noDataBatch: Boolean)(start: => T): T = {
    val savedPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val savedNoData = spark.conf.getOption(noDataKey)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      spark.conf.set(noDataKey, noDataBatch.toString)
      start
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", savedPartitions)
      savedNoData match {
        case Some(v) => spark.conf.set(noDataKey, v)
        case None => spark.conf.unset(noDataKey)
      }
    }
  }

  /** st_window_agg — the incremental tumbling-window aggregation
    * (Streaming.windowedAgg) over the events parquet as a file stream, run
    * to completion. Complete output mode: the sink row count is the number
    * of (hour, event_type) groups, which is bounded by the time range, not
    * the event volume. The approx n_users column is dropped from the
    * oracle-checked projection (approx_count_distinct has no exact
    * oracle; the batch ev_window_agg checks the exact variant).
    */
  def windowAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val sink = freshSink("st_window_agg_sink")
    val q = withBoundedReplayConfs(spark, noDataBatch = false)(
      Streaming.windowedAgg(Streaming.eventsStream(spark, sfDir))
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    q.awaitTermination()
    spark.table(sink)
      .select(col("window_start"), col("event_type"), col("n"), col("sum_value"))
  }

  val windowAggSql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
      |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** st_sliding — the sliding-window variant (1 h window, 30 min slide)
    * run to completion the same way as st_window_agg. The oracle restates
    * the overlap directly: each event belongs to the two epoch-aligned
    * 30-minute-start windows that cover it.
    */
  def sliding(spark: SparkSession, sfDir: String): DataFrame = {
    val sink = freshSink("st_sliding_sink")
    val q = withBoundedReplayConfs(spark, noDataBatch = false)(
      Streaming.slidingAgg(Streaming.eventsStream(spark, sfDir))
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    q.awaitTermination()
    spark.table(sink)
  }

  val slidingSql: String =
    """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
      |w AS (
      |  SELECT event_type, value,
      |    unnest([time_bucket(INTERVAL '30 minutes', ts),
      |            time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
      |      AS window_start
      |  FROM e)
      |SELECT window_start, event_type, count(*) AS n,
      |  round(sum(value), 2) AS sum_value
      |FROM w GROUP BY 1, 2""".stripMargin

  /** st_sessionize — the flatMapGroupsWithState sessionizer over the events
    * file stream, run to completion with every session CLOSED, so output
    * equals the batch form exactly.
    *
    * Closing the trailing open session per user needs the watermark to
    * pass its timeout, and a static file never advances the watermark past
    * its own max event time — so the stream is unioned with a 2-row
    * sentinel stream (ids < 0, 12 h and 13 h past the real max),
    * rate-limited to one file per trigger: the first sentinel batch pushes
    * the watermark past every real timeout, the second triggers the timeout
    * sweep that emits them. Sentinel rows are filtered from the output.
    * This is the standard "punctuation" close-out a bounded replay of an
    * unbounded pipeline uses; at scale the stream simply keeps running and
    * sessions close on real traffic.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sink = freshSink("st_sessionize_sink")

    val real = Streaming.eventsStream(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))

    // The sentinel files are a pure function of the corpus (two 1-row
    // parquet files at max(ts)+12h/13h), so they are staged ONCE per
    // corpus — re-deriving max(ts) and running two write jobs per
    // invocation charged ~1 s of pure setup to every bench lap. The stage
    // is keyed by the events file's content fingerprint (Staging.stagedDir):
    // the sentinel BAKES IN max(ts), so serving it for a regenerated corpus
    // whose events run later would leave the watermark short of the real
    // timeouts and silently drop sessions.
    val sentinelDir = graft.sources.Staging.stagedDir(
      "graft_sentinel_v2", s"$sfDir/events.parquet").toPath
    if (!Files.exists(sentinelDir.resolve("_STAGED"))) {
      Files.createDirectories(sentinelDir)
      // Max event time from parquet column statistics (min/max per row
      // group) — an aggregate-only scan, no full decode at scale.
      val maxTs = graft.Tables.events(spark, sfDir)
        .agg(max(col("ts"))).head().getTimestamp(0).toInstant
      def writeSentinel(n: Int, id: Long, at: java.time.Instant): Unit = {
        val part = Files.createTempDirectory(s"graft-sentinel-p$n")
        Seq((id, at, -999L, "sentinel", 0.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value")
          .coalesce(1).write.mode("overwrite").parquet(part.toString)
        val ls = Files.list(part) // Files.list holds a directory fd — close it
        try {
          val file = ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
          Files.move(file, sentinelDir.resolve(s"s$n.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        } finally ls.close()
        graft.sources.Staging.deleteRecursively(part)
      }
      writeSentinel(1, -1L, maxTs.plusSeconds(12 * 3600))
      Files.write(sentinelDir.resolve("_STAGED"), Array.emptyByteArray)
    }

    val sentinels = spark.readStream
      .schema(real.schema)
      .option("pathGlobFilter", "*.parquet") // not the _STAGED marker
      .parquet(sentinelDir.toString)

    // State-store partition count (= shuffle partitions at query start) is
    // a per-deployment knob: every micro-batch commits a delta file PER
    // STATE PARTITION, so a bounded replay with ~10⁳ keys pays 32 commits
    // per batch for nothing. 8 keeps the sweep batch cheap here; a real
    // cluster deployment sizes it to key cardinality, not this constant.
    // noDataBatch stays TRUE: the spontaneous post-watermark micro-batch
    // IS the timeout sweep that closes (and emits) every session.
    val q = withBoundedReplayConfs(spark, noDataBatch = true)(
      Streaming.sessionize(real.union(sentinels).as[Event])
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start())
    try {
      // Batch 0 carries the corpus plus the sentinel, so the watermark
      // lands at sentinel−1h > every real timeout when the batch commits;
      // the spontaneous no-data micro-batch Spark runs after a watermark
      // advance (spark.sql.streaming.noDataMicroBatches.enabled, default
      // on) then fires every session timeout. processAllAvailable (not
      // AvailableNow) waits for that sweep too — two micro-batches total.
      q.processAllAvailable()
    } finally q.stop()

    spark.table(sink)
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"),
        round(col("sum_value"), 2).as("sum_value"),
        col("duration_us"))
  }

  /** st_dedup — streaming exact dedup run as a driver query: distinct
    * (user_id, event_type, hour) via `dropDuplicatesWithinWatermark` over
    * the events file stream. The state-scale story is the point: seen-key
    * state is evicted once the watermark passes a key's event time + 1 h,
    * so an unbounded at-least-once ingest holds O(keys-per-watermark-
    * horizon) state, not O(stream). Determinism: the pre-dedup projection
    * carries ONLY the dedup key columns (plus the watermark column, which
    * the key subsumes via date_trunc), so whichever physical row arrives
    * first per key yields the same output row — arrival order can't leak
    * into results, and the bounded single-batch replay equals batch
    * DISTINCT exactly (watermark starts at 0, so nothing in batch 0 is
    * late-dropped).
    */
  def dedup(spark: SparkSession, sfDir: String): DataFrame = {
    val sink = freshSink("st_dedup_sink")
    val keyed = Streaming.eventsStream(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("hour"), col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour")
      .select(col("user_id"), col("event_type"), col("hour"))
    val q = withBoundedReplayConfs(spark, noDataBatch = false)(
      keyed.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start())
    q.awaitTermination()
    spark.table(sink)
  }

  val dedupSql: String =
    """SELECT DISTINCT user_id, event_type,
      |  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour
      |FROM events""".stripMargin

  /** st_interval_join — the stream-stream event-time interval join
    * (Streaming.attributionJoin: purchases matched to the same user's
    * clicks in the preceding hour) run to completion over the events
    * parquet and placed under the driver's DuckDB oracle. The operator
    * itself has been spec-proven since round 4 — INCLUDING the property
    * that matters at scale: with both sides watermarked and an event-time
    * range in the join condition, buffered rows are evicted once the
    * watermark passes their interval bound, so an unbounded ingest holds
    * O(watermark-horizon) join state, not O(stream) (StreamingSpec
    * asserts numRowsTotal stays a small fraction of the rows fed). What
    * was missing was the driver-facing entry: the only stream-stream JOIN
    * in `queries` — every other st_ entry is aggregation/dedup-shaped.
    * Bounded replay in one AvailableNow batch: the watermark starts below
    * everything, no row is late-dropped, and inner-join append output is
    * arrival-order independent — exactly the batch self-join the oracle
    * restates.
    */
  def intervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val sink = freshSink("st_interval_join_sink")
    val q = withBoundedReplayConfs(spark, noDataBatch = false)(
      Streaming.attributionJoin(Streaming.eventsStream(spark, sfDir))
        .select(col("purchase_id"), col("p_user").as("user_id"),
          col("p_ts").as("purchase_ts"), col("c_ts").as("click_ts"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start())
    q.awaitTermination()
    spark.table(sink)
  }

  val intervalJoinSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id,
      |  CAST(p.ts AS TIMESTAMP) AS purchase_ts,
      |  CAST(c.ts AS TIMESTAMP) AS click_ts,
      |  epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP))
      |    AS lag_us
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      |  AND p.event_type = 'purchase' AND c.event_type = 'click'
      |  AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '1 hour'
      |  AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)""".stripMargin

  /** Same session semantics as ev_sessionize's oracle, without the
    * session_no bookkeeping column (the streaming form identifies sessions
    * by their bounds, not an ordinal).
    */
  val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN us - lag(us) OVER w IS NULL
      |      OR us - lag(us) OVER w > 30*60*1000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |numbered AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM flagged)
      |SELECT user_id,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events, round(sum(value), 2) AS sum_value,
      |  max(us) - min(us) AS duration_us
      |FROM numbered GROUP BY user_id, session_no""".stripMargin
}
