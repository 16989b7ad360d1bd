package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Pins for the streaming battery entries (q151/q152).
  *
  * The load-bearing pin is session_window's merge-boundary contract: the
  * q152 oracle splits sessions when the inter-event gap STRICTLY exceeds
  * 30 minutes, so Spark must merge an event arriving at last_ts + gap
  * exactly. If a Spark upgrade ever flipped that boundary, the synthetic
  * fixture here fails loudly instead of the oracle hash diverging only
  * when a fixture happens to contain an exact-gap pair (it currently
  * contains none — OracleTokenBoundSpec-style, the assumption is pinned,
  * not hoped).
  */
class Extended11Spec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("session_window merges an exact-gap event and splits just past it (batch twin)") {
    // u1: 10:00:00, 10:30:00 (diff == gap → must merge), 11:00:00.000001
    //     (diff > gap by 1µs from the merged session's last event → split)
    // u2: one event — session of one
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, Timestamp.from(ts("2024-01-01 10:30:00").toInstant), 1.0),
      (1L, {
        val t = ts("2024-01-01 11:00:00"); t.setNanos(1000); t
      }, 1.0),
      (2L, ts("2024-01-01 09:00:00"), 1.0))
      .toDF("user_id", "ts", "value")
    val sessions = df
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("st"),
        col("session_window.end").as("en"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(sessions.toSeq == Seq(
      // exact-gap event merged: one session 10:00 → 10:30 + 30min = 11:00
      (1L, "2024-01-01 10:00:00.0", "2024-01-01 11:00:00.0", 2L),
      // 1µs past the boundary: its own session, end = start + gap
      (1L, "2024-01-01 11:00:00.000001", "2024-01-01 11:30:00.000001", 1L),
      (2L, "2024-01-01 09:00:00.0", "2024-01-01 09:30:00.0", 1L)),
      s"session_window boundary contract changed: ${sessions.toSeq}")
  }

  test("q151: streamed hourly rollup equals the batch twin's plan on the fixture") {
    val streamed = graft.SparkEntry.queries("q151_stream_hourly")(spark, sf0001).collect()
    val batch = graft.Tables.load(spark, sf0001, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(graft.ops.Num.roundTo(col("value"), 4)
          .cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("__vs"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"),
        graft.ops.Num.roundTo(col("__vs").cast("double"), 4).as("value_sum_r"))
      .orderBy("hour_start", "event_type")
      .collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("q152: streamed sessionization equals the batch session_window plan on the fixture") {
    val streamed = graft.SparkEntry.queries("q152_stream_sessions")(spark, sf0001).collect()
    val batch = graft.Tables.load(spark, sf0001, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.ops.Num.roundTo(col("value"), 4)
          .cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("__vs"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("start_s"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("end_s"),
        col("n_events"),
        graft.ops.Num.roundTo(col("__vs").cast("double"), 4).as("value_sum_r"))
      .orderBy("user_id", "start_s")
      .collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("q153: BFS hops equal an independent driver-side BFS replay") {
    // collect the tiny nation-level edge list and replay BFS with a plain
    // Scala queue — a structurally different implementation cross-checks
    // the iterative broadcast-join loop (and its 6-round bound: distances
    // here must all be < 6 for the replay to be the true BFS)
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val ord = spark.read.parquet(s"$sf0001/orders.parquet")
    val cust = spark.read.parquet(s"$sf0001/customer.parquet")
    val supp = spark.read.parquet(s"$sf0001/supplier.parquet")
    val edges = li.select($"l_orderkey", $"l_suppkey")
      .join(ord.select($"o_orderkey", $"o_custkey"), $"l_orderkey" === $"o_orderkey")
      .join(cust.select($"c_custkey", $"c_nationkey".as("u")), $"o_custkey" === $"c_custkey")
      .join(supp.select($"s_suppkey", $"s_nationkey".as("v")), $"l_suppkey" === $"s_suppkey")
      .select($"u", $"v").distinct()
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
    val adj = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._2).toSet }
    val dist = scala.collection.mutable.Map(0L -> 0)
    val queue = scala.collection.mutable.Queue(0L)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      for (v <- adj.getOrElse(u, Set.empty) if !dist.contains(v)) {
        dist(v) = dist(u) + 1; queue += v
      }
    }
    assert(dist.values.forall(_ < 6), "replay exceeded the 6-round bound")
    val got = graft.SparkEntry.queries("q153_bfs_hops")(spark, sf0001).collect()
      .map(r => r.getAs[Number](0).longValue ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1))))
    val nations = spark.read.parquet(s"$sf0001/nation.parquet")
      .select($"n_nationkey".cast("long")).as[Long].collect().toSet
    val expected = nations.toSeq.sorted.map(v => v -> dist.get(v).map(_.toInt))
    assert(got.toSeq == expected)
    // the walk genuinely iterated: at least one vertex beyond hop 1
    assert(dist.values.exists(_ >= 2) || dist.size < nations.size)
  }

  test("q154: triangle credits equal an independent set-based replay") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val ord = spark.read.parquet(s"$sf0001/orders.parquet")
    val cust = spark.read.parquet(s"$sf0001/customer.parquet")
    val supp = spark.read.parquet(s"$sf0001/supplier.parquet")
    val und = li.select($"l_orderkey", $"l_suppkey")
      .join(ord.select($"o_orderkey", $"o_custkey"), $"l_orderkey" === $"o_orderkey")
      .join(cust.select($"c_custkey", $"c_nationkey".as("u")), $"o_custkey" === $"c_custkey")
      .join(supp.select($"s_suppkey", $"s_nationkey".as("w")), $"l_suppkey" === $"s_suppkey")
      .filter($"u" =!= $"w")
      .select(least($"u", $"w").as("a"), greatest($"u", $"w").as("b")).distinct()
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .toSet
    // brute-force: every vertex triple with all three canonical edges
    val verts = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val credits = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      i <- verts.indices; j <- (i + 1) until verts.size; k <- (j + 1) until verts.size
      (x, y, z) = (verts(i), verts(j), verts(k))
      if und((x, y)) && und((y, z)) && und((x, z))
    } Seq(x, y, z).foreach(v => credits(v) += 1L)
    val got = graft.SparkEntry.queries("q154_triangles")(spark, sf0001).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1))
    val nations = spark.read.parquet(s"$sf0001/nation.parquet")
      .select($"n_nationkey".cast("long")).as[Long].collect().toSet
    assert(got.toSeq == nations.toSeq.sorted.map(v => v -> credits(v)))
    assert(credits.values.sum > 0, "fixture graph must contain triangles")
  }

  test("prefixJaccardJoin: exact 0.9 boundary included, just-below excluded") {
    // A vs B: |A|=|B|=19, |A∩B|=18 → J = 18/20 = 0.9 EXACTLY — the
    // integer threshold (10·i ≥ 9·(na+nb−i)) must include it.
    // A vs C: |C|=19, |A∩C|=17 → J = 17/21 < 0.9 — excluded.
    val shared = (1 to 18).map(i => s"t$i")
    val a = (shared :+ "onlya").mkString(" ")
    val b = (shared :+ "onlyb").mkString(" ")
    val c = (shared.drop(1) ++ Seq("onlyc1", "onlyc2")).mkString(" ")
    val probe = Seq((1L, a)).toDF("doc_id", "text")
    val corpus = Seq((2L, b), (3L, c)).toDF("doc_id", "text")
    val got = graft.ext.Dedup.prefixJaccardJoin(probe, corpus, "doc_id", "text", 9, 10)
      .select("a_id", "b_id", "na", "nb", "inter").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((1L, 2L, 19L, 19L, 18L)), got.toSeq.toString)
  }

  test("q155: cross-set prefix join equals a brute-force all-pairs replay at sf0.01") {
    // replicate Text.tokensNorm driver-side (trim→lower→split \\s+) and
    // compute every probe×corpus Jaccard with sets — no prefix filter, no
    // length filter — so the pruned plan is checked against an
    // implementation that cannot share its bugs
    val sf001 = "/root/testdata/sf0.01"
    def tokSets(pred: Long => Boolean) =
      spark.read.parquet(s"$sf001/documents.parquet")
        .select($"doc_id", $"text").collect()
        .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase
          .split("\\s+").filter(_.nonEmpty).toSet)
        .filter(t => pred(t._1)).toMap
    val probes = tokSets(_ % 101 == 0)
    val corpus = tokSets(_ % 101 != 0)
    val expected = (for {
      (pa, sa) <- probes; (pb, sb) <- corpus
      i = (sa & sb).size
      if i * 10 >= (sa.size + sb.size - i) * 9
    } yield (pa, pb, sa.size.toLong, sb.size.toLong, i.toLong))
      .toSeq.sortBy(t => (t._1, t._2))
    val got = graft.SparkEntry.queries("q155_prefix_join")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == expected)
    assert(expected.nonEmpty, "fixture must contain cross-set near-dups at tau=0.9")
  }

  test("q156 machinery: state accumulates across REAL multi-batch replay, latest row wins") {
    import org.apache.spark.sql.types.DecimalType
    // force 3 micro-batches: split the fixture into 3 files, 1 per trigger
    val events = graft.Tables.load(spark, sf0001, "events")
    val srcDir = java.nio.file.Files.createTempDirectory("q156_multi").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sf0001/events.parquet").repartition(3)
      .write.mode("overwrite").parquet(srcDir)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    val landed = graft.ext.Streaming.land(spark, "update") {
      val stream = graft.ext.Streaming.eventsFileStream(spark, srcDir)
        .select($"user_id",
          (graft.ops.Num.roundTo($"value", 4).cast(DecimalType(18, 4)) * 10000)
            .cast("long").as("units"))
      graft.ext.Streaming.runningUserTotalsExact(stream).toDF()
    }
    graft.queries.QueryDef.rmTree(java.nio.file.Paths.get(srcDir))
    assert(spark.conf.getOption(providerKey) == prior,
      "the driver restores the state-store provider the plan set")
    assert(landed.select("batch_id").distinct().count() >= 3,
      "replay must actually micro-batch (one file per trigger)")
    val latest = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"batch_id".desc)
    val got = landed.withColumn("rn", row_number().over(latest)).filter($"rn" === 1)
      .select($"user_id", $"n_events", $"units")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val expected = events
      .select($"user_id",
        (graft.ops.Num.roundTo($"value", 4).cast(DecimalType(18, 4)) * 10000)
          .cast("long").as("units"))
      .groupBy("user_id").agg(count(lit(1)).as("n"), sum("units").as("u"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == expected.toSeq,
      "final state after multi-batch accumulation must equal the batch aggregate")
  }

  test("q157: weighted distances equal an independent 6-round Bellman-Ford replay") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val ord = spark.read.parquet(s"$sf0001/orders.parquet")
    val cust = spark.read.parquet(s"$sf0001/customer.parquet")
    val supp = spark.read.parquet(s"$sf0001/supplier.parquet")
    val edges = li.select($"l_orderkey", $"l_suppkey")
      .join(ord.select($"o_orderkey", $"o_custkey"), $"l_orderkey" === $"o_orderkey")
      .join(cust.select($"c_custkey", $"c_nationkey".as("u")), $"o_custkey" === $"c_custkey")
      .join(supp.select($"s_suppkey", $"s_nationkey".as("v")), $"l_suppkey" === $"s_suppkey")
      .groupBy($"u", $"v").count()
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue, r.getLong(2)))
    // plain-map min-plus replay, same 6-round bound as the query
    var dist = Map(0L -> 0L)
    for (_ <- 1 to 6) {
      val relaxed = edges.flatMap { case (u, v, w) => dist.get(u).map(d => v -> (d + w)) }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1).map { case (k, ds) => k -> ds.map(_._2).min }
    }
    val got = graft.SparkEntry.queries("q157_weighted_paths")(spark, sf0001).collect()
      .map(r => r.getAs[Number](0).longValue ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val nations = spark.read.parquet(s"$sf0001/nation.parquet")
      .select($"n_nationkey".cast("long")).as[Long].collect().toSet
    assert(got.toSeq == nations.toSeq.sorted.map(v => v -> dist.get(v)))
    // weights matter: a reachable vertex's cost must exceed its hop count
    // (pair-count weights, not unit hops — at sf0.001 every direct edge
    // weighs >= 8, while the unreachable 14 nations stay NULL because only
    // 10 supplier nations exist at that scale)
    assert(dist.exists { case (v, d) => v != 0L && d > 1L })
    assert(dist.size > 1 && dist.size < nations.size)
  }
}
