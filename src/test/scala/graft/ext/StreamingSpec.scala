package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** File streams need a directory source — stage the fixture file into
    * a temp dir once.
    */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  private val batch = Seq(
    (1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
    (2L, ts("2024-01-01 10:10:00"), 7L, "click", 2.0, "{}"),
    (2L, ts("2024-01-01 10:10:00"), 7L, "click", 2.0, "{}"), // duplicate event_id
    (3L, ts("2024-01-01 11:05:00"), 7L, "view", 3.0, "{}"), // next hour, new session (>30min gap)
    (4L, ts("2024-01-01 10:20:00"), 8L, "view", 4.0, "{}")
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("kafka wire decode: binary JSON values → typed event columns (connector-less half)") {
    // The sandbox cannot resolve spark-sql-kafka-0-10 (offline), so the
    // kafka SOURCE has no execution path here — but the decode stage is
    // provider-independent: feed it a batch relation shaped like the
    // connector's output (value: binary) and pin schema + values.
    val wire = Seq(
      """{"event_id":1,"ts":"2024-01-01 10:00:00","user_id":7,"event_type":"click","value":1.5,"props":"{}"}""",
      """{"event_id":2,"ts":"2024-01-01 10:10:00","user_id":8,"event_type":"view","value":2.5,"props":"{\"k\":1}"}""",
      "not json at all")
      .toDF("raw").select(col("raw").cast("binary").as("value"))
    val out = Streaming.decodeKafkaEvents(wire)
    assert(out.schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      "event_id" -> "bigint", "ts" -> "timestamp", "user_id" -> "bigint",
      "event_type" -> "string", "value" -> "double", "props" -> "string"))
    val rows = out.orderBy(col("event_id").asc_nulls_last).collect()
    assert(rows.length == 3)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(3) == "click" &&
      rows(0).getDouble(4) == 1.5 && rows(0).getTimestamp(1) == ts("2024-01-01 10:00:00"))
    assert(rows(1).getLong(0) == 2L && rows(1).getString(5) == """{"k":1}""")
    // malformed payload → null row (PERMISSIVE), never a crash mid-stream
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(3))
  }

  test("kafka source itself is compile-only offline: provider lookup fails without the connector") {
    // Pin the documented limitation (COVERAGE.md): constructing the
    // source plan requires the kafka DataSource provider, which is not
    // on the offline classpath. If this test ever fails, a connector
    // jar appeared — promote kafkaEvents to a real round-trip test.
    val e = intercept[Exception] {
      Streaming.kafkaEvents(spark, "localhost:9092", "events").schema
    }
    assert(String.valueOf(e.getMessage).toLowerCase.contains("kafka"), e.getMessage)
  }

  test("batch sessionize splits on the gap and aggregates per session") {
    val out = Sessions.summarize(
      Sessions.assign(batch.dropDuplicates("event_id"), "user_id", "ts", 1800, Seq($"event_id")),
      "user_id", "ts", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    // user 7: session 0 = events 1,2; session 1 = event 3. user 8: one session.
    assert(out == Set((7L, 0L, 2L), (7L, 1L, 1L), (8L, 0L, 1L)))
  }

  /** Excludes the windows of the replay's watermark sentinels. */
  private val realWindows = col("window_start") < timestamp_micros(lit(Streaming.SentinelEpochUs))

  test("file-source stream: tumbling window counts via Trigger.AvailableNow") {
    // the replay runs no no-data batch, so append-mode windows flush
    // through the watermark sentinels
    val result = Streaming.replay(
        spark, s"$sf0001/events.parquet", "append", sentinelIdBase = Some(-300L)) {
      Streaming.tumblingCounts(_, "1 hour", "2 hours")
    }.filter(realWindows)
    // compare against the identical batch plan
    val expected = graft.Tables.load(spark, sf0001, "events")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .count().count()
    assert(result.count() > 0 && result.count() <= expected)
    // watermark in append mode holds back only the open tail windows
    assert(result.select(sum("n")).head().getLong(0) <= 1000)
  }

  test("streaming dedup within watermark drops in-horizon duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    mem.addData(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:00:05"), 1.0), // dup key within watermark
      (2L, ts("2024-01-01 10:01:00"), 2.0))
    val deduped = Streaming.dedupWithinWatermark(
      mem.toDF().toDF("event_id", "ts", "value"), "1 hour")
    val out = Streaming.land(spark, "append")(deduped)
    assert(out.select("event_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("stream-stream interval join matches clicks to in-horizon purchases") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long, Double)]
    clicks.addData(
      (7L, ts("2024-01-01 10:00:00"), 1L),
      (8L, ts("2024-01-01 10:00:00"), 2L))
    purchases.addData(
      (7L, ts("2024-01-01 10:30:00"), 100L, 9.99), // in horizon
      (7L, ts("2024-01-01 12:30:00"), 101L, 5.00), // beyond 1h horizon
      (9L, ts("2024-01-01 10:10:00"), 102L, 1.00)) // no matching click
    val joined = Streaming.clickToPurchase(
      clicks.toDF().toDF("user_id", "ts", "event_id")
        .withColumn("value", lit(0.0)).withColumn("props", lit("{}")),
      purchases.toDF().toDF("user_id", "ts", "event_id", "value")
        .withColumn("props", lit("{}")))
    val out = Streaming.land(spark, "append")(joined)
    val rows = out.collect().map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("p_id")))
    assert(rows.toSet == Set((1L, 100L)))
  }

  test("sessionize matches a sequential gap-walk on random inputs (pinned seeds)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    for (seed <- Seq(31L, 32L)) {
      val evs = Gen.listOfN(80, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 5000L)))
        .apply(Gen.Parameters.default, Seed(seed)).get
        .zipWithIndex
        .map { case ((u, sec), i) => (u, new Timestamp(sec * 1000), i.toLong) }
      val got = Sessions
        .assign(evs.toDF("user_id", "ts", "eid"), "user_id", "ts", 600L,
          Seq(col("eid")))
        .collect()
        .map(r => r.getAs[Long]("eid") -> r.getAs[Long]("session_id"))
        .toMap
      // sequential reference: walk each user's events in (ts, eid) order,
      // new session when the gap exceeds 600s
      val expected = evs.groupBy(_._1).toSeq.flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e._2.getTime, e._3))
        var sid = -1L; var prev = Long.MinValue
        sorted.map { case (_, t, eid) =>
          val sec = t.getTime / 1000
          if (prev == Long.MinValue || sec - prev > 600L) sid += 1
          prev = sec
          eid -> sid
        }
      }.toMap
      assert(got == expected, s"seed $seed")
    }
  }

  test("stream-static join enriches the stream against a batch dimension") {
    val stream = Streaming.eventsFileStream(spark, eventsDir)
    // static dim: deterministic user tier from the batch side
    val dim = graft.Tables.load(spark, sf0001, "events")
      .select($"user_id").distinct()
      .withColumn("tier", when(pmod($"user_id", lit(2)) === 0, "even").otherwise("odd"))
    val enriched = stream.join(dim, "user_id")
      .groupBy($"tier").agg(count(lit(1)).as("n"))
    val result = Streaming.land(spark, "complete")(enriched)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = graft.Tables.load(spark, sf0001, "events")
      .withColumn("tier", when(pmod($"user_id", lit(2)) === 0, "even").otherwise("odd"))
      .groupBy($"tier").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(result == expected && result.nonEmpty)
  }

  test("foreachBatch sink lands every row exactly once, keyed by batch id") {
    val landed = Streaming.land(spark, "append")(Streaming.eventsFileStream(spark, eventsDir))
    val src = graft.Tables.load(spark, sf0001, "events")
    assert(landed.count() == src.count())
    assert(landed.select("event_id").distinct().count() ==
      src.select("event_id").distinct().count())
    assert(landed.select("batch_id").distinct().count() >= 1)
    // a retried batch (its id landed twice) replaces its own partition
    // and leaves the other batches' partitions alone
    val sink = java.nio.file.Files.createTempDirectory("graft_febatch")
    try {
      val batch = src.filter(col("event_id") % 100 === 0)
      val n = batch.count()
      assert(n > 0)
      for (id <- Seq(7L, 7L, 8L)) Streaming.landing(sink.toString, "append")(batch, id)
      val relanded = spark.read.parquet(sink.toString)
      assert(relanded.filter(col("batch_id") === 7L).count() == n)
      assert(relanded.count() == 2 * n)
    } finally graft.queries.QueryDef.rmTree(sink)
  }

  test("mapGroupsWithState: running per-user totals accumulate across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val agg = Streaming.runningUserAgg(mem.toDF().toDF("user_id", "value"))
    val q = agg.writeStream.format("memory").queryName("running_test")
      .outputMode("update").start()
    mem.addData((7L, 1.0), (7L, 2.0), (8L, 5.0))
    q.processAllAvailable()
    mem.addData((7L, 4.0))
    q.processAllAvailable()
    q.stop()
    // update mode appends one row per key per batch; the LAST row per key
    // carries the running total
    val last = spark.table("running_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    assert(last(7L) == (7L, 3L, 7.0)) // 3 events, sum 1+2+4
    assert(last(8L) == (8L, 1L, 5.0))
  }

  test("bounded stateful agg: idle state expires via event-time TTL and restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    // watermark delay 10 min, TTL 1 h
    val agg = Streaming.runningUserAggBounded(
      mem.toDF().toDF("user_id", "ts", "value"), "10 minutes", ttlMs = 3600000L)
    val q = agg.writeStream.format("memory").queryName("bounded_test")
      .outputMode("update").start()
    // batch 1: users 7 and 8 at 10:00
    mem.addData((7L, ts("2024-01-01 10:00:00"), 1.0), (8L, ts("2024-01-01 10:00:00"), 5.0))
    q.processAllAvailable()
    // batch 2: user 9 far in the future — advances the watermark past
    // 10:00 + TTL after this batch commits
    mem.addData((9L, ts("2024-01-01 20:00:00"), 2.0))
    q.processAllAvailable()
    // batch 3: another future event triggers the timeout sweep (timeouts
    // fire on the batch AFTER the watermark advances)
    mem.addData((9L, ts("2024-01-01 20:30:00"), 3.0))
    q.processAllAvailable()
    // batch 4: user 7 reappears — state must have been REMOVED, so the
    // running count restarts from zero
    mem.addData((7L, ts("2024-01-01 20:40:00"), 9.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("bounded_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // expiry tombstones carry the final totals for 7 and 8
    assert(rows.contains((7L, 1L, 1.0, true)), s"no expiry tombstone for 7: ${rows.toSeq}")
    assert(rows.contains((8L, 1L, 5.0, true)), s"no expiry tombstone for 8: ${rows.toSeq}")
    // user 7's post-expiry row restarts at n=1/sum=9.0 (not 2/10.0)
    assert(rows.contains((7L, 1L, 9.0, false)), s"state not reset for 7: ${rows.toSeq}")
  }

  test("transformWithState (Spark 4 API): RocksDB state survives a checkpointed restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    // runningUserAggTws flips the session to the RocksDB provider —
    // restore the prior provider afterwards so sibling tests keep the
    // default store
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val priorProvider = spark.conf.getOption(providerKey)
    try {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tws").toString
    val mem = MemoryStream[(Long, Double)]
    val agg = Streaming.runningUserAggTws(
      mem.toDF().toDF("user_id", "value"), Some(java.time.Duration.ofHours(1)))
    val collected = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    def runOnce(): Unit = {
      // Trigger.Once: exactly one micro-batch per start, then STOP.
      // Under TimeMode.ProcessingTime the operator reports "needs
      // another batch" after EVERY batch (TTL sweeps), so both a
      // continuous trigger and AvailableNow's MultiBatchExecutor loop
      // forever — Once is the bounded driver for processing-time state.
      // Sink is foreachBatch (memory sink refuses checkpoint recovery).
      val q = agg.writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[Streaming.UserRunning], _: Long) =>
            collected.synchronized {
              collected ++= batch.collect().map(u => (u.user_id, u.n_events, u.value_sum))
            }
            ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").trigger(Trigger.Once()).start()
      q.awaitTermination()
    }
    mem.addData((7L, 1.0), (7L, 2.0), (8L, 5.0))
    runOnce()
    // second RUN (not just a second batch): state reloads from the
    // RocksDB checkpoint, so user 7 continues from (2, 3.0)
    mem.addData((7L, 4.0))
    runOnce()
    val last = collected.groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    assert(last(7L) == (7L, 3L, 7.0), s"state lost across restart: ${collected.toSeq}")
    assert(last(8L) == (8L, 1L, 5.0))
    } finally {
      priorProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("sentinel-flush contract: chained join→window-agg flushes with 2 sentinel batches, sticks with 1 (no-data batches OFF)") {
    // Pins the appendWatermarkSentinels contract the q317/q322 call sites
    // rely on, WITHOUT the no-data-micro-batch safety net:
    //   - eviction runs against the watermark computed from the PREVIOUS
    //     batch's data, so 1 sentinel batch advances the watermark but
    //     leaves the tail window stuck in state (no batch runs after it);
    //   - 2 sentinel batches flush EVERY real window even for the CHAINED
    //     q322 shape (stream-stream join → tumbling window agg), because
    //     cross-operator watermark propagation happens within a batch
    //     (event-time-shifted by the join interval, which the day-spaced
    //     sentinels dominate) — chain depth does NOT cost a batch per
    //     operator.
    // The fixture is ADVERSARIAL by construction: its last purchase IS the
    // global max event time, so the real-data batch's own watermark can
    // never cover the tail window (the driver fixture happens to have
    // late non-purchase events that mask the hazard — measured: n=1
    // flushes everything on sf0.001).
    def inst(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val fixture = Seq(
      // early pair: window 2024-01-01 00:00 — flushes even under the
      // real-data batch's watermark (max − 2h − join delay ≫ 01:00)
      (1L, inst("2024-01-01T00:00:00Z"), 3L, "signup", 0.0, "{}"),
      (2L, inst("2024-01-01T00:30:00Z"), 3L, "purchase", 5.0, "{}"),
      // tail pair: the purchase at 2024-01-02T23:30 is the MAX event, so
      // its window (23:00) can only flush via sentinel batches
      (3L, inst("2024-01-02T22:00:00Z"), 1L, "signup", 0.0, "{}"),
      (4L, inst("2024-01-02T23:30:00Z"), 1L, "purchase", 7.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val earlyUs = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val tailUs = java.time.Instant.parse("2024-01-02T23:00:00Z").toEpochMilli * 1000L
    val expected = Set(earlyUs, tailUs)
    def runChained(n: Int): Set[Long] = {
      val src = java.nio.file.Files.createTempDirectory(s"graft_sentspec${n}_src")
      try {
        val scratch = java.nio.file.Files.createTempDirectory(s"graft_sentspec${n}_w")
        fixture.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
        val part = new java.io.File(scratch.toString).listFiles()
          .find(f => f.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath, src.resolve("events.parquet"))
        graft.queries.QueryDef.rmTree(scratch)
        Streaming.appendWatermarkSentinels(
          spark, src.resolve("events.parquet").toString, src, -900L, nSentinels = n)
        // land runs the query with no-data micro-batches OFF
        Streaming.land(spark, "append") {
          val es = Streaming.eventsFileStream(spark, src.toString)
          val signups = es.filter(col("event_type") === "signup")
            .select(col("user_id"), col("ts").as("s_ts"))
            .withWatermark("s_ts", "2 hours")
          val purchases = es.filter(col("event_type") === "purchase")
            .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
            .withWatermark("p_ts", "2 hours")
          signups.join(purchases,
            col("p_uid") === col("user_id") &&
              col("p_ts") >= col("s_ts") &&
              col("p_ts") <= col("s_ts") + expr("INTERVAL 2 HOURS"))
            .groupBy(window(col("p_ts"), "1 hour").as("w"))
            .agg(count(lit(1)).as("n_pairs"))
            .select(unix_micros(col("w.start")).as("wstart_us"), col("n_pairs"))
        }
          .filter(col("wstart_us") < Streaming.SentinelEpochUs)
          .collect().map(_.getLong(0)).toSet
      } finally graft.queries.QueryDef.rmTree(src)
    }
    val (one, two) = (runChained(1), runChained(2))
    assert(two == expected,
      s"2 sentinels must flush every real window: missing ${expected -- two}")
    // 1 sentinel: the batch it rides in still evicts under the PREVIOUS
    // (real-data) watermark — early window out, tail window stuck
    assert(one == Set(earlyUs),
      s"1 sentinel must flush the early window and hold the tail; got $one")
  }

  test("session_window streaming agg matches gaps-and-islands session count") {
    val streamed = Streaming.replay(
        spark, s"$sf0001/events.parquet", "append", sentinelIdBase = Some(-500L)) {
      Streaming.sessionAgg(_, "30 minutes", "10 minutes")
    }.filter(col("user_id") >= 0)
    val batchSessions = Sessions.assign(
      graft.Tables.load(spark, sf0001, "events"), "user_id", "ts", 1800, Seq($"event_id"))
      .select("user_id", "session_id").distinct().count()
    // append mode emits only watermark-closed sessions; bounded replay
    // closes all but the per-user tails
    val n = streamed.count()
    assert(n > 0 && n <= batchSessions)
  }

  test("replay leaves no driver temp dir and no replay conf behind, also when the query fails mid-stream") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def driverDirs() = tmp.listFiles().map(_.getName)
      .filter(_.startsWith(Streaming.TmpPrefix)).toSet
    val confKeys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.stateStore.providerClass")
    def confs() = confKeys.map(spark.conf.getOption)
    val (dirsBefore, confsBefore) = (driverDirs(), confs())
    def run(value: org.apache.spark.sql.Column) =
      Streaming.replay(spark, s"$sf0001/events.parquet", "append", sentinelIdBase = Some(-600L)) {
        _.select(col("event_id"), value.as("v"))
      }
    assert(run(col("value")).count() > 0)
    assert(driverDirs() -- dirsBefore == Set.empty)
    assert(confs() == confsBefore)
    // the real-data batch lands; the first sentinel batch then throws
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(when(col("user_id") < 0, raise_error(lit("sentinel boom"))).otherwise(col("value")))
    }
    assert(e.getMessage.contains("sentinel boom"), e.getMessage)
    assert(driverDirs() -- dirsBefore == Set.empty)
    assert(confs() == confsBefore)
  }
}
