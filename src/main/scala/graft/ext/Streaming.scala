package graft.ext

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType
import graft.queries.QueryDef
import graft.schema.Schemas

/** Structured Streaming surface (SURVEY.md §2.10). The reference is a
  * @daily batch DAG; its honest streaming mapping is a file-source stream
  * with Trigger.AvailableNow over the landing directory. Beyond parity,
  * this module adds the event-stream operators a training-data pipeline
  * needs: event-time tumbling/sliding windows with watermarks, session
  * windows, and dedup-within-watermark.
  *
  * Every transform below takes a DataFrame (batch OR streaming — the
  * logic is identical; Catalyst plans stateful versions for streams),
  * so the batch oracle queries (q28/q29) and these streaming paths share
  * semantics. A Kafka source would plug in via
  * `spark.readStream.format("kafka")...` behind the same transforms —
  * config-gated since the sandbox has no broker (and no kafka connector
  * jar); the file source exercises the identical downstream plan.
  */
object Streaming {

  /** The ONE definition of the bounded-replay stream width; a cluster
    * deploy sets `graft.stream.shuffle.width` on the session instead.
    *
    * WHY: every stateful streaming operator opens one state-store
    * instance per shuffle partition per store (a stream-stream join opens
    * FOUR per partition per side) in EVERY micro-batch, and the
    * HDFS-backed provider pays file create/commit (~50 ms on ≤4 rows) per
    * instance per batch. On the bounded single-box replays the battery
    * runs, that fixed cost dominates the data: q317 measured 14.5 s at
    * 32 partitions vs 5.7 s at 4, and 2 beats 4 by 10–20% on every
    * replay (q322 6.2→5.1 s, q317 4.6→4.1, q271 1.9→1.7), while 1
    * collapses the batch-0 join/agg compute onto one task and loses
    * (q322 7.4, q152 4.4). The width is baked into each query's
    * EPHEMERAL checkpoint at batch 0, so it is a per-run deploy knob: a
    * production cluster sizes it to executors × cores like any stateful
    * job. The Verify gate runs the same driver, so correctness and bench
    * always run the same width.
    */
  val LocalReplayWidth = 2

  /** Name prefix of every temporary directory the stream driver makes. */
  val TmpPrefix = "graft_stream_"

  private val WidthKey = "spark.sql.shuffle.partitions"
  // the replay never needs the trailing NO-DATA micro-batch, which costs
  // ~1 s of pure state-store commit per run (profiled on q322): the
  // sentinel contract ([[appendWatermarkSentinels]]) flushes every real
  // window without it
  private val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Session confs a replay sets; [[land]] restores all of them. The
    * state-store provider is set by the transformWithState operators
    * while their plan is built.
    */
  private val ReplayConfs =
    Seq(WidthKey, NoDataKey, "spark.sql.streaming.stateStore.providerClass")

  private def withReplayConfs[T](s: SparkSession)(body: => T): T = {
    val prior = ReplayConfs.map(k => k -> s.conf.getOption(k))
    s.conf.set(WidthKey, s.conf.getOption("graft.stream.shuffle.width")
      .getOrElse(LocalReplayWidth.toString))
    s.conf.set(NoDataKey, "false")
    try body finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Run `stream` as ONE bounded query — the reference's @daily batch
    * loop expressed as Trigger.AvailableNow (process everything currently
    * in the source, then stop) — handing each micro-batch and its id to
    * `sink`. The checkpoint is a temporary directory, deleted when the
    * query ends or fails.
    */
  def drain(stream: DataFrame, outputMode: String)(sink: (DataFrame, Long) => Unit): Unit = {
    val ckpt = Files.createTempDirectory(TmpPrefix + "ck")
    try stream.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()
      .awaitTermination()
    finally QueryDef.rmTree(ckpt)
  }

  /** The parquet landing of one micro-batch. In complete mode every batch
    * carries the whole result table and overwrites the sink. In append and
    * update mode each batch lands under `batch_id=<id>/` with dynamic
    * partition overwrite, so a RETRIED batch replaces its own partition
    * instead of duplicating it — exactly-once files from at-least-once
    * batch delivery, without a transactional table format.
    */
  private[graft] def landing(sink: String, outputMode: String)(batch: DataFrame, id: Long): Unit =
    if (outputMode == "complete") batch.write.mode("overwrite").parquet(sink)
    else batch.withColumn("batch_id", lit(id)).write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(sink)

  /** [[drain]] `stream` through [[landing]] into a temporary sink and
    * return the landed rows, materialized (localCheckpoint) so the sink
    * can be deleted before the caller reads them; append and update
    * results carry the `batch_id` column. `stream` is built inside the
    * replay confs ([[LocalReplayWidth]], no no-data batches), which are
    * restored afterwards, whatever its operators set meanwhile.
    */
  def land(spark: SparkSession, outputMode: String)(stream: => DataFrame): DataFrame = {
    val sink = Files.createTempDirectory(TmpPrefix + "sink")
    try {
      val streamed = withReplayConfs(spark) {
        val df = stream
        drain(df, outputMode)(landing(sink.toString, outputMode))
        df.schema
      }
      // declared, so a replay that emitted no rows reads back empty
      val landed =
        if (outputMode == "complete") streamed else streamed.add("batch_id", LongType)
      spark.read.schema(landed).parquet(sink.toString).localCheckpoint(true)
    } finally QueryDef.rmTree(sink)
  }

  /** Replay the `eventsFile` fixture as a file-source stream through
    * `query` and [[land]] the result. File streams need a directory
    * source, so the file is copied into a temporary one, deleted at the
    * end. With a `sentinelIdBase`, [[appendWatermarkSentinels]] follows
    * the copy, for queries whose append-mode output is held back by the
    * watermark.
    */
  def replay(
      spark: SparkSession, eventsFile: String, outputMode: String,
      sentinelIdBase: Option[Long] = None)(query: DataFrame => DataFrame): DataFrame = {
    val src = Files.createTempDirectory(TmpPrefix + "src")
    try {
      Files.copy(Paths.get(eventsFile), src.resolve("events.parquet"))
      sentinelIdBase.foreach(appendWatermarkSentinels(spark, eventsFile, src, _))
      land(spark, outputMode)(query(eventsFileStream(spark, src.toString)))
    } finally QueryDef.rmTree(src)
  }

  /** File-source stream over an events parquet directory (replays the
    * fixture as a stream), one file per micro-batch, so a multi-file
    * source exercises multi-batch accumulation.
    */
  def eventsFileStream(spark: SparkSession, dir: String): DataFrame = {
    // A streaming source needs a DECLARED schema, but the fixture's ts has
    // shipped as both TIMESTAMP(NANOS) (→ legacy nanos-as-long) and plain
    // TIMESTAMP(MICROS) (→ TIMESTAMP_NTZ) across generations. One batch
    // footer read picks the right declaration — same adaptivity as
    // Tables.load, driver-side only (never in the streaming hot path).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // An initially EMPTY source directory is a normal file-stream startup
    // state — the probe read throws (no footers to infer from), and the
    // stream falls back to the declared nanos schema rather than failing
    // before any file arrives.
    val nanosAsLong =
      try spark.read.parquet(dir).schema("ts").dataType ==
        org.apache.spark.sql.types.LongType
      catch { case _: org.apache.spark.sql.AnalysisException => true }
    val schema =
      if (nanosAsLong) Schemas.eventsRaw else Schemas.eventsRawMicros
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    if (nanosAsLong) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Tumbling event-time window counts with a watermark for state expiry.
    * In append mode a window emits once the watermark passes its end —
    * late events beyond `watermark` are dropped deterministically.
    */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("value_sum"))

  /** Sliding window (overlapping) — same stateful agg, denser windows. */
  def slidingCounts(
      events: DataFrame, window_ : String = "1 hour", slide: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Session windows per user (gap-based, the streaming twin of
    * Sessions.assign): state merges as events arrive, emits on watermark.
    */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("value_sum"))

  /** Streaming dedup by key with bounded state: duplicates arriving
    * within the watermark horizon are dropped; state for old keys is
    * reclaimed as the watermark advances (the unbounded-state footgun of
    * plain dropDuplicates on streams).
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each click joins purchases by the same
    * user within `horizon` AFTER the click. Watermarks on both sides +
    * the time-range join condition are what let Spark bound the join
    * state (rows older than watermark+horizon are evicted) — without
    * them a stream-stream join buffers forever.
    */
  def clickToPurchase(
      clicks: DataFrame, purchases: DataFrame,
      watermark: String = "1 hour", horizon: String = "INTERVAL 1 HOUR"): DataFrame = {
    val c = clicks
      .selectExpr("user_id", "ts AS click_ts", "event_id AS click_id")
      .withWatermark("click_ts", watermark)
    val p = purchases
      .selectExpr("user_id AS p_user", "ts AS p_ts", "event_id AS p_id", "value AS p_value")
      .withWatermark("p_ts", watermark)
    c.join(
      p,
      expr(s"user_id = p_user AND p_ts >= click_ts AND p_ts <= click_ts + $horizon"))
      .select(col("user_id"), col("click_id"), col("p_id"), col("click_ts"), col("p_ts"), col("p_value"))
  }

  /** Kafka source for the same event schema, parsed from JSON values —
    * plugs into every transform below exactly like the file source
    * (config-gated: the sandbox has no broker and no kafka connector
    * jar, so this compiles but can only run where
    * spark-sql-kafka-0-10 is on the classpath; the file stream
    * exercises the identical downstream plans).
    */
  def kafkaEvents(spark: SparkSession, bootstrapServers: String, topic: String): DataFrame =
    decodeKafkaEvents(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load())

  /** The wire-format half of [[kafkaEvents]]: binary `value` (Kafka's
    * record payload column) → typed event columns. Factored out so the
    * decode — everything about the Kafka path EXCEPT the socket — has
    * execution evidence in this sandbox (StreamingSpec runs it over a
    * batch relation with the connector's exact value schema; the source
    * itself needs spark-sql-kafka-0-10 on the classpath, not resolvable
    * offline — see COVERAGE.md).
    */
  def decodeKafkaEvents(records: DataFrame): DataFrame = {
    val eventJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    records
      .select(from_json(col("value").cast("string"), eventJson).as("e"))
      .select("e.*")
  }

  /** Arbitrary stateful processing via mapGroupsWithState — the escape
    * hatch when windowed aggs can't express the state machine. Running
    * per-user totals: state is one (count, sum) pair per key, updated
    * per micro-batch, emitted in update mode. At scale state lives in
    * the state store (RocksDB-backed on a real cluster), partitioned by
    * the group key.
    *
    * NOTE: this variant uses NoTimeout — state grows with the key
    * universe forever, which is only acceptable for bounded key domains
    * (demo/replay). Unbounded key universes need
    * [[runningUserAggBounded]], which expires idle state.
    */
  final case class UserRunning(user_id: Long, n_events: Long, value_sum: Double)

  def runningUserAgg(events: DataFrame): org.apache.spark.sql.Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          var (n, s) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          UserRunning(user, n, s)
      }
  }

  /** Production form of [[runningUserAgg]]: event-time TTL on the
    * per-key state. Each update arms an EventTimeTimeout at (last seen
    * event time + ttl); when the watermark passes it, the state fires
    * one final tombstone row (expired=true) and is REMOVED from the
    * store — state size tracks the ACTIVE key set, not the all-time key
    * universe, which is the difference between bounded and unbounded
    * memory on a 100 TB/day stream. A key seen again after expiry
    * restarts from zero (StreamingSpec pins exactly that).
    */
  final case class UserRunningExpiry(
      user_id: Long, n_events: Long, value_sum: Double, expired: Boolean)

  def runningUserAggBounded(
      events: DataFrame, watermark: String = "1 hour",
      ttlMs: Long = 3600000L): org.apache.spark.sql.Dataset[UserRunningExpiry] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events
      .select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[(Long, Double, Long)]) =>
          if (state.hasTimedOut) {
            val (n, s, _) = state.get
            state.remove()
            UserRunningExpiry(user, n, s, expired = true)
          } else {
            var (n, s, maxTs) = state.getOption.getOrElse((0L, 0.0, 0L))
            rows.foreach { r => n += 1; s += r._3; maxTs = math.max(maxTs, r._2.getTime) }
            state.update((n, s, maxTs))
            // timeout must sit at or after the current watermark, or the
            // runtime rejects it (a straggler key whose ttl already
            // elapsed expires at the next watermark tick instead)
            state.setTimeoutTimestamp(
              math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1))
            UserRunningExpiry(user, n, s, expired = false)
          }
      }
  }

  /** Spark 4 `transformWithState` form of the running per-user totals —
    * the successor API to mapGroupsWithState: typed state handles
    * (ValueState/ListState/MapState) with DECLARATIVE per-state TTL
    * (the store evicts expired entries itself — no hand-rolled timeout
    * bookkeeping), timers, and a RocksDB-backed store. This is the shape
    * new stateful operators should take on Spark 4+; the
    * mapGroupsWithState variants above remain as the portable baseline.
    */
  private class RunningTotalsProcessor(ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), UserRunning] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)](
        "totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaDouble),
        ttl)
    override def handleInputRows(
        user: Long, rows: Iterator[(Long, Double)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserRunning] = {
      var (n, s) = if (totals.exists()) totals.get() else (0L, 0.0)
      rows.foreach { r => n += 1; s += r._2 }
      totals.update((n, s))
      Iterator.single(UserRunning(user, n, s))
    }
  }

  /** transformWithState requires the RocksDB state store provider; TTL
    * requires processing-time semantics (TimeMode.ProcessingTime). Pass
    * ttl=None for unbounded state (TimeMode.None) — only for bounded
    * key domains, same caveat as [[runningUserAgg]].
    *
    * NOTE: under TimeMode.ProcessingTime the engine keeps scheduling
    * micro-batches to advance processing time (TTL sweeps), so
    * `processAllAvailable` on a continuous trigger never settles —
    * drive bounded runs with Trigger.AvailableNow (which also exercises
    * checkpoint-restart state durability; StreamingSpec does exactly
    * that).
    */
  def runningUserAggTws(
      events: DataFrame,
      ttl: Option[java.time.Duration] = Some(java.time.Duration.ofHours(1)))
      : org.apache.spark.sql.Dataset[UserRunning] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig}
    val spark = events.sparkSession
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val timeMode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    val ttlConf = ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
    events
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor(ttlConf), timeMode, OutputMode.Update())
  }

  /** Exact-integer running totals — the oracle-gated variant of
    * [[runningUserAggTws]] (battery q156): the value column arrives
    * pre-converted to 1e-4 units (long), so state accumulation is
    * order-free across rows, micro-batches, AND restarts — a hash-exact
    * contract a Double-summing state cannot give (per-key long totals
    * overflow only past ~9e14 in value units, far beyond any per-user
    * sum; use DECIMAL state if a key can aggregate the whole corpus).
    * TimeMode.None / no TTL is the bounded-replay configuration — an
    * unbounded key universe needs the TTL form (see runningUserAggTws).
    */
  final case class UserTotals(user_id: Long, n_events: Long, units: Long)

  private class ExactTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), UserTotals] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)](
        "totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        user: Long, rows: Iterator[(Long, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotals] = {
      var (n, u) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { r => n += 1; u += r._2 }
      totals.update((n, u))
      Iterator.single(UserTotals(user, n, u))
    }
  }

  /** `events` must carry (user_id: Long, units: Long). Emits the running
    * (n_events, units) per key each micro-batch in update mode.
    */
  def runningUserTotalsExact(events: DataFrame): org.apache.spark.sql.Dataset[UserTotals] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    events
      .select(col("user_id"), col("units"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new ExactTotalsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** First sentinel event time (2027-01-01 UTC, micros) — readouts that
    * cannot exclude sentinels structurally filter event times below this.
    */
  val SentinelEpochUs: Long = 1798761600000000L

  /** Append far-future sentinel files to a file-stream source dir so an
    * AvailableNow replay flushes watermark-held state (outer-join
    * eviction, buffered windows). Each file carries one `signup` and one
    * `purchase` row at `user_id = -1` — rows on BOTH sides of the
    * q271-family join, because the GLOBAL watermark is the min of the
    * per-side watermarks. Batch 2 advances the watermark past every real
    * row's horizon; batch 3 evicts. Ordering is pinned twice (distinct
    * mtimes AND lexicographic `zz_` names); the sentinel ts is cloned
    * into the SAME physical type the fixture shipped (nanos-long or
    * timestamp), with the legacy-nanos conf set BEFORE the probe read so
    * the helper works in a fresh session on any fixture generation.
    * Callers exclude `user_id < 0` rows from their readout.
    */
  def appendWatermarkSentinels(
      spark: SparkSession, fixtureEventsPath: String,
      srcDir: java.nio.file.Path, idBase: Long, nSentinels: Int = 2): Unit = {
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(fixtureEventsPath)
    val tsIsLong =
      raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
    def sentinelTs(us: Long) =
      if (tsIsLong) lit(us * 1000L)
      else timestamp_micros(lit(us)).cast(raw.schema("ts").dataType)
    // 2027-01-01 + (k−1) days UTC — years past the fixture's 2024 span.
    // nSentinels = 2 suffices for ANY stateful-operator chain depth
    // (join → window agg included): eviction runs against the watermark
    // computed from the PREVIOUS batch's data, so sentinel batch 1
    // advances it and sentinel batch 2 evicts under it. Chained
    // operators do NOT cost one batch each — Spark's WatermarkPropagator
    // simulates cross-operator propagation within a batch, shifting the
    // downstream eviction watermark by EVENT-TIME delays (the join
    // interval + watermark delay, hours), which the DAY-spaced sentinels
    // dominate. Pinned by StreamingSpec "sentinel-flush contract":
    // with no-data micro-batches disabled, nSentinels = 1 leaves the
    // tail windows stuck in state and nSentinels = 2 flushes every real
    // window of the chained q322 shape — so the flush does not depend on
    // spark.sql.streaming.noDataMicroBatches.enabled.
    (1 to nSentinels).map(k => (k, SentinelEpochUs + (k - 1) * 86400000000L))
      .foreach { case (k, us) =>
      val types = spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row("signup", idBase * k),
          org.apache.spark.sql.Row("purchase", idBase * k - 1L)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "__t", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(
            "__id", org.apache.spark.sql.types.LongType))))
      val sent = raw.limit(1).crossJoin(types)
        .select(col("__id").as("event_id"), sentinelTs(us).as("ts"),
          lit(-1L).as("user_id"), col("__t").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
      val scratch = Files.createTempDirectory(TmpPrefix + "sentinel")
      try {
        sent.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
        val ls = Files.list(scratch)
        val part =
          try ls.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
          finally ls.close()
        val dest = srcDir.resolve(f"zz_sentinel_$k.parquet")
        Files.copy(part, dest)
        Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() + k * 20000L))
      } finally QueryDef.rmTree(scratch)
    }
  }
}
