package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `sfDir`. Loading is a plain
  * `spark.read.parquet` so Catalyst gets full pushdown/pruning: filters and
  * projections land in the scan (`PushedFilters` / `ReadSchema`), and at
  * cluster scale the same call reads a partitioned directory unchanged.
  */
object Tables {
  /** Per-session memo of the loaded relation (round 20): every
    * `spark.read.parquet` call runs a 1-task SCHEMA-INFERENCE job (the
    * distributed footer read — "parquet at Tables.scala" in any job
    * listing), so re-constructing the DataFrame per query per lap paid
    * ~90–200 ms × |tables referenced| before a single row moved —
    * JobBreakdown measured q2_join spending 5 serial such jobs ≈ 0.5 s
    * of a 1.3 s wall. The DataFrame is immutable and its plan is
    * re-usable, so one construction per (session, path) serves every
    * consumer. This memoizes PLAN METADATA only — no rows, no results:
    * every action still scans parquet (the no-result-caching rule).
    * Staleness contract: a table regenerated IN PLACE mid-session is
    * not re-listed — same contract as Spark's own per-DataFrame file
    * index; every driver/bench/verify invocation is a fresh session.
    * Keyed weakly on the session so stopped test sessions are not
    * pinned.
    */
  private val planCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    loadStaged(spark, s"$sfDir/$name.parquet")

  /** Memoized bare-path variant for IMMUTABLE tables: the driver tables
    * and the `_SUCCESS`-guarded content-keyed staging products (a
    * regenerated corpus changes the staging PATH, so the memo never
    * spans generations). Never use it for a table a lifecycle entry
    * rewrites in-session (the re-stage-per-invocation `*_staged`
    * staging dirs, the delta chains' batch tables) — the memo would
    * serve the pre-write file listing.
    */
  private[graft] def loadStaged(spark: SparkSession, path: String): DataFrame = {
    val perSession = planCache.synchronized {
      var m = planCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        planCache.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent(path, p => spark.read.parquet(p))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** `events.ts` has shipped in two vintages of the driver testdata:
    * TIMESTAMP(NANOS) (which Spark 4 rejects outright, PARQUET_TYPE_ILLEGAL,
    * unless `spark.sql.legacy.parquet.nanosAsLong=true` — set at session
    * build in GraftSession, since a loader must not mutate session conf as a
    * side effect) and plain timestamp[us]. Branch on the arriving dtype:
    * an epoch-nanos long is floor-divided to µs — integer division, since
    * 2024 epoch-nanos ≈ 1.7e18 exceeds double's 2^53 exact range — while a
    * native timestamp passes through untouched. DuckDB's
    * CAST(ts AS TIMESTAMP) handles both vintages the same way, keeping
    * oracles aligned. Normalizing here (not per-query) keeps the data
    * contract in one place; SchemaCanarySpec fails loud if a third vintage
    * ever appears.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case TimestampType => df
      case TimestampNTZType =>
        // timestamp[us] with isAdjustedToUTC=false infers as NTZ; the
        // session TZ is pinned UTC so this cast is a no-op on the stored
        // micros, and it keeps every downstream consumer (watermarks,
        // Instant encoders, unix_micros parity) on one timestamp type.
        df.withColumn("ts", col("ts").cast(TimestampType))
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case other =>
        throw new IllegalStateException(
          s"events.ts drifted to unsupported dtype $other (expected " +
            "timestamp, timestamp_ntz, or epoch-nanos long); update Tables.events")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}

/** Session factory with the settings this engine assumes everywhere.
  *
  * local[32] on the test box, but every knob is chosen for the 1000-executor
  * case: AQE re-plans skew/shuffle sizes at runtime, shuffle partitions track
  * cores (never the 200 default), and auto-broadcast stays on so dimension
  * tables (region/nation/...) never shuffle.
  */
object GraftSession {
  /** The session-scoped SQL settings, kept apart from the builder so a
    * spec can apply exactly these to a child session.
    */
  private[graft] val SqlConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // The join-regime rule, stated once. Unless a join carries an
    // explicit hint, AQE re-plans it from the MEASURED size of its
    // materialized shuffle stages and
    //  - broadcasts a side under the runtime broadcast threshold
    //    (spark.sql.adaptive.autoBroadcastJoinThreshold, unset, so the
    //    10 MB spark.sql.autoBroadcastJoinThreshold default);
    //  - else hash-builds a side under threshold × shuffle partitions
    //    that is also 3× smaller than the other side (the planner's
    //    shuffled-hash rule, which preferSortMergeJoin=false enables);
    //  - else sort-merges, the spill-safe plan for big pair sets.
    // JoinRegimeSpec pins all three on a checkpointed pair set. The
    // trade-off on record (ADVICE r13): a shuffled-hash build cannot
    // spill, so the rule bounds it at about one broadcast threshold per
    // partition; corpus×corpus self-joins (dd_substring's admission
    // join) fail the 3× test and keep the spillable sort-merge.
    "spark.sql.join.preferSortMergeJoin" -> "false",
    // events.ts is TIMESTAMP(NANOS) parquet — Spark 4 rejects it unless
    // nanos are read as long (Tables.events then divides to µs).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  def apply(appName: String = "graft",
            master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
            shufflePartitions: Int = 32,
            extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
    SqlConfs.foreach { case (k, v) => builder.config(k, v) }
    extraConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
