package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ext.Streaming
import graft.ops.Num
import QueryDef.tbl

/** Round-7 batch: a driver-visible STREAMING entry. Every other battery
  * query is a batch plan; `ext/Streaming.scala` was spec-tested only. q151
  * closes that gap: its Spark side runs an actual `StreamingQuery`
  * (`Streaming.replay`: file-source replay → stateful window agg →
  * idempotent foreachBatch parquet sink), so the oracle hash-match certifies
  * the streaming execution path end-to-end, not a batch twin.
  */
object Extended11 {

  /** Walk bound shared by the q153 Spark loop and its oracle's recursive
    * CTE — identical cutoffs keep the engines in lockstep even on a
    * component whose diameter exceeded the bound.
    */
  private val BfsMaxHops = 6

  /** Bellman-Ford rounds shared by the q157 Spark loop and its GENERATED
    * unrolled-CTE oracle (q144's pattern — recursion would enumerate
    * paths; min-plus rounds keep each CTE vertex-sized). 6 < |V|-1, so
    * distances are the 6-hop-bounded optimum on BOTH engines — identical
    * by construction even where unconverged.
    */
  private val BfRounds = 6

  private def bellmanFordSql: String = {
    val rounds = (1 to BfRounds).map { k =>
      s"""d$k AS (
         |  SELECT v, min(dist) AS dist FROM (
         |    SELECT v, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.v, p.dist + e.w AS dist
         |    FROM d${k - 1} p JOIN eg e ON e.u = p.v)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH eg AS (SELECT c.c_nationkey AS u, s.s_nationkey AS v,
       |              CAST(count(*) AS BIGINT) AS w
       |            FROM lineitem l
       |            JOIN orders o ON l.l_orderkey = o.o_orderkey
       |            JOIN customer c ON o.o_custkey = c.c_custkey
       |            JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |            GROUP BY 1, 2),
       |d0 AS (SELECT n_nationkey AS v, CAST(0 AS BIGINT) AS dist
       |       FROM nation WHERE n_nationkey = 0),
       |$rounds
       |SELECT n.n_nationkey AS v, d.dist AS cost
       |FROM nation n LEFT JOIN d$BfRounds d ON d.v = n.n_nationkey
       |ORDER BY v""".stripMargin
  }

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  val all: Seq[QueryDef] = Seq(

    // Streaming hourly event rollup, the stream-executed twin of q28.
    // Shape: file-source stream (AvailableNow replay of the fixture —
    // on a real deployment this is the landing directory or Kafka via
    // Streaming.kafkaEvents; the downstream plan is identical) →
    // tumbling 1h window agg → COMPLETE-mode foreachBatch that
    // idempotently overwrites a parquet target each micro-batch.
    // Complete mode (not append+watermark) because a bounded replay must
    // emit EVERY window including the open tail, or the result could not
    // equal the batch oracle. Money-ish sums enter state as
    // DECIMAL(18,4) of the pre-rounded value, so accumulation is exact
    // and order-free across micro-batch boundaries — the hash survives
    // any file/batch interleaving. At 100 TB/day the same plan runs
    // append-mode with a watermark bounding state; complete mode is the
    // replay/backfill configuration.
    QueryDef(
      "q151_stream_hourly",
      (s, dir) =>
        Streaming.replay(s, s"$dir/events.parquet", "complete") {
          _.groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(
              count(lit(1)).as("n"),
              sum(R(col("value"), 4).cast(DecimalType(18, 4))).as("__vs"))
        }
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
            col("event_type"), col("n"),
            R(col("__vs").cast("double"), 4).as("value_sum_r"))
          .orderBy("hour_start", "event_type"),
      Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
              |  event_type, count(*) AS n,
              |  ${rs("CAST(sum(CAST(" + rs("value", 4) + " AS DECIMAL(18,4))) AS DOUBLE)", 4)}
              |    AS value_sum_r
              |FROM events GROUP BY 1, 2
              |ORDER BY hour_start, event_type""".stripMargin)),

    // Streaming sessionization executed as a real StreamingQuery —
    // session_window state merging (the stateful operator q29's batch
    // gaps-and-islands plan cannot exercise) under AvailableNow replay.
    // session_window semantics, pinned in Extended11Spec on an
    // exact-boundary fixture: an event at last_ts + gap EXACTLY still
    // merges (split only when the gap is strictly exceeded), and
    // session_end = last event ts + gap. The oracle replays those
    // semantics as µs-precision gaps-and-islands (split at
    // diff > 1.8e9 µs), start = min(ts), end = max(ts) + 30 min.
    // Complete mode for the same reason as q151: a bounded replay must
    // emit the tail sessions; append+watermark is the production shape.
    QueryDef(
      "q152_stream_sessions",
      (s, dir) =>
        Streaming.replay(s, s"$dir/events.parquet", "complete") {
          _.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
            .agg(
              count(lit(1)).as("n_events"),
              sum(R(col("value"), 4).cast(DecimalType(18, 4))).as("__vs"))
        }
          .select(
            col("user_id"),
            date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("start_s"),
            date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("end_s"),
            col("n_events"),
            R(col("__vs").cast("double"), 4).as("value_sum_r"))
          .orderBy("user_id", "start_s"),
      // µs-precision islands: epoch_us avoids the double rounding a
      // fractional epoch() would introduce at session boundaries
      Some(s"""WITH e AS (
              |  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
              |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
              |  FROM events),
              |f AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
              |                THEN 1 ELSE 0 END AS is_new
              |      FROM e),
              |g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |                                  ROWS UNBOUNDED PRECEDING) AS sid
              |      FROM f)
              |SELECT user_id,
              |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
              |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS end_s,
              |  count(*) AS n_events,
              |  ${rs("CAST(sum(CAST(" + rs("value", 4) + " AS DECIMAL(18,4))) AS DOUBLE)", 4)}
              |    AS value_sum_r
              |FROM g GROUP BY user_id, sid
              |ORDER BY user_id, start_s""".stripMargin)),

    // BFS shortest-hops from nation 0 over the directed trade graph
    // (customer-nation → supplier-nation, the q144 edge relation
    // unweighted). The heavy work — the 4-way fact rollup producing the
    // edge relation — is distributed; the ITERATION state is dimension-
    // bounded (≤ |nation|² = 625 edges by schema at ANY data scale), so
    // the 6 relaxation rounds run on the driver over the collected edge
    // list (TinyGraph decision rule) instead of paying ~5 scheduler
    // rounds per hop for microseconds of integer arithmetic. Pure
    // integer arithmetic — no rounding contract needed; row-identical
    // to the former distributed least()/min() relaxation by monotone
    // induction. The oracle is a recursive CTE whose UNION dedup keeps
    // (v, dist) pairs finite on the cyclic graph.
    QueryDef(
      "q153_bfs_hops",
      (s, dir) => {
        val eg = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey").as("u")),
            col("o_custkey") === col("c_custkey"))
          .join(tbl(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey").as("w")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("u"), col("w").as("v")).distinct()
        val adj = graft.ops.TinyGraph.collectBounded(eg, "q153 trade edges")
          .map(r => (r.getInt(0), r.getInt(1)))
          .groupMap(_._1)(_._2)
        val vtx = graft.ops.TinyGraph.collectBounded(
          tbl(s, dir, "nation").select(col("n_nationkey")), "q153 vertices")
          .map(_.getInt(0))
        val hops = scala.collection.mutable.Map(0 -> 0)
        (1 to BfsMaxHops).foreach { _ =>
          hops.toSeq.foreach { case (u, du) =>
            adj.getOrElse(u, Array.empty[Int]).foreach { v =>
              if (!hops.contains(v) || hops(v) > du + 1) hops(v) = du + 1
            }
          }
        }
        val rows: java.util.List[org.apache.spark.sql.Row] =
          java.util.Arrays.asList(vtx.sorted.map(v =>
            org.apache.spark.sql.Row(v, hops.get(v).map(Int.box).orNull)): _*)
        s.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("hops",
              org.apache.spark.sql.types.IntegerType))))
          .orderBy("v")
      },
      Some(s"""WITH RECURSIVE eg AS (
              |  SELECT DISTINCT c.c_nationkey AS u, s.s_nationkey AS v
              |  FROM lineitem l
              |  JOIN orders o ON l.l_orderkey = o.o_orderkey
              |  JOIN customer c ON o.o_custkey = c.c_custkey
              |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
              |walk(v, dist) AS (
              |  SELECT CAST(0 AS BIGINT), 0
              |  UNION
              |  SELECT eg.v, walk.dist + 1
              |  FROM walk JOIN eg ON eg.u = walk.v
              |  WHERE walk.dist < $BfsMaxHops),
              |d AS (SELECT v, min(dist) AS hops FROM walk GROUP BY 1)
              |SELECT n.n_nationkey AS v, d.hops
              |FROM nation n LEFT JOIN d ON d.v = n.n_nationkey
              |ORDER BY v""".stripMargin)),

    // Per-nation triangle participation on the undirected trade graph —
    // the motif-counting template (community structure, clustering
    // coefficient numerators). Edges canonicalize to a < b, so each
    // triangle materializes exactly once as (a < b < c) from two joins
    // plus a closing-edge check; every triangle credits its three
    // vertices. Integer-exact. At 100 TB the same shape runs with
    // degree-ordered orientation (replace vertex-id order with degree
    // rank) so wedge fan-out is bounded by arboricity, and the edge
    // relation bucket-joins on its first key — no all-pairs stage exists
    // to begin with.
    QueryDef(
      "q154_triangles",
      (s, dir) => {
        val base = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey").as("u")),
            col("o_custkey") === col("c_custkey"))
          .join(tbl(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey").as("w")),
            col("l_suppkey") === col("s_suppkey"))
          .filter(col("u") =!= col("w"))
          .select(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b"))
          .distinct()
          .transform(graft.ops.Ckpt.apply)
        // the canonical nation-level edge relation is dimension-sized →
        // broadcast both closure probes (the stats-opaque Ckpt relation
        // would otherwise default to a sort-merge self-join); at corpus
        // scale the closure join shuffle-partitions on its first key
        val tri = base.as("e1")
          .join(broadcast(base.as("e2")), col("e1.b") === col("e2.a"))
          .join(broadcast(base.as("e3")),
            col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
          .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
        val credits = tri.select(col("x").as("v"))
          .unionAll(tri.select(col("y").as("v")))
          .unionAll(tri.select(col("z").as("v")))
          .groupBy("v").agg(count(lit(1)).as("n_tri"))
        tbl(s, dir, "nation").select(col("n_nationkey").as("v"))
          .join(broadcast(credits), Seq("v"), "left")
          .select(col("v"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
          .orderBy("v")
      },
      // MATERIALIZED: base is referenced three times in the closure join;
      // without it DuckDB inlines the 4-way fact join into every arm and
      // OOMs at sf0.1 — compute the dimension-sized edge relation once
      Some("""WITH base AS MATERIALIZED (
              |  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
              |         greatest(c.c_nationkey, s.s_nationkey) AS b
              |  FROM lineitem l
              |  JOIN orders o ON l.l_orderkey = o.o_orderkey
              |  JOIN customer c ON o.o_custkey = c.c_custkey
              |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
              |  WHERE c.c_nationkey <> s.s_nationkey),
              |tri AS (
              |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
              |  FROM base e1
              |  JOIN base e2 ON e2.a = e1.b
              |  JOIN base e3 ON e3.a = e1.a AND e3.b = e2.b),
              |credits AS (
              |  SELECT v, count(*) AS n_tri FROM (
              |    SELECT x AS v FROM tri
              |    UNION ALL SELECT y FROM tri
              |    UNION ALL SELECT z FROM tri)
              |  GROUP BY 1)
              |SELECT n.n_nationkey AS v, coalesce(credits.n_tri, 0) AS n_tri
              |FROM nation n LEFT JOIN credits ON credits.v = n.n_nationkey
              |ORDER BY v""".stripMargin)),

    // Cross-set similarity join with PREFIX FILTERING (PPJoin family,
    // Xiao 2008): exact token-set Jaccard ≥ 0.9 between a benchmark
    // probe slice (doc_id ≡ 0 mod 101) and the remaining corpus — the
    // exact sibling of q103's LSH decontamination. Candidate generation
    // is bounded by the PROBES' rare-token prefixes under a shared
    // (corpus-df, token) order, so corpus-side cluster structure — which
    // makes any all-pairs self-join output quadratic on near-identical
    // corpora — never amplifies work beyond the probes' true matches.
    // Thresholds compare as integers (10·inter ≥ 9·(na+nb−inter)): no
    // floating-point tie can flip pair membership across engines; only
    // the reported Jaccard rounds.
    QueryDef(
      "q155_prefix_join",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        graft.ext.Dedup
          .prefixJaccardJoin(
            docs.filter(col("doc_id") % 101 === 0),
            docs.filter(col("doc_id") % 101 =!= 0),
            "doc_id", "text", 9, 10)
          .select(col("a_id"), col("b_id"), col("na"), col("nb"), col("inter"),
            R(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jaccard_r"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH tp AS (
              |  SELECT DISTINCT doc_id,
              |    unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              |                       x -> x <> '')) AS tok
              |  FROM documents WHERE doc_id % 101 = 0),
              |tc AS (
              |  SELECT DISTINCT doc_id,
              |    unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              |                       x -> x <> '')) AS tok
              |  FROM documents WHERE doc_id % 101 <> 0),
              |dfreq AS (SELECT tok, count(*) AS df FROM tc GROUP BY 1),
              |np AS (SELECT doc_id, count(*) AS n FROM tp GROUP BY 1),
              |nc AS (SELECT doc_id, count(*) AS n FROM tc GROUP BY 1),
              |prep AS (
              |  SELECT t.doc_id, t.tok, np.n
              |  FROM tp t LEFT JOIN dfreq USING (tok) JOIN np USING (doc_id)
              |  QUALIFY row_number() OVER (PARTITION BY t.doc_id
              |                             ORDER BY coalesce(dfreq.df, 0), t.tok)
              |          <= np.n - ((np.n * 9 + 9) // 10) + 1),
              |prec AS (
              |  SELECT t.doc_id, t.tok, nc.n
              |  FROM tc t LEFT JOIN dfreq USING (tok) JOIN nc USING (doc_id)
              |  QUALIFY row_number() OVER (PARTITION BY t.doc_id
              |                             ORDER BY coalesce(dfreq.df, 0), t.tok)
              |          <= nc.n - ((nc.n * 9 + 9) // 10) + 1),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
              |         a.n AS na, b.n AS nb
              |  FROM prep a JOIN prec b ON a.tok = b.tok
              |  WHERE least(a.n, b.n) * 10 >= greatest(a.n, b.n) * 9),
              |inter AS (
              |  SELECT c.a_id, c.b_id, c.na, c.nb, count(*) AS inter
              |  FROM cand c
              |  JOIN tp ta ON ta.doc_id = c.a_id
              |  JOIN tc tb ON tb.doc_id = c.b_id AND tb.tok = ta.tok
              |  GROUP BY 1, 2, 3, 4)
              |SELECT a_id, b_id, na, nb, inter,
              |  ${rs("CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)", 6)}
              |    AS jaccard_r
              |FROM inter
              |WHERE inter * 10 >= (na + nb - inter) * 9
              |ORDER BY a_id, b_id""".stripMargin)),

    // Arbitrary stateful processing under the oracle gate: per-user
    // running totals via transformWithState (typed ValueState, RocksDB
    // provider) executed as a real update-mode StreamingQuery. Values
    // enter state as exact 1e-4-unit longs, so accumulation is
    // order-free across rows, micro-batches, and restarts — the only
    // contract under which a stateful stream can HASH-MATCH a batch
    // oracle. Each batch's updates land with their batch id; the
    // read-back keeps the LATEST row per key, which is the final state
    // regardless of how the replay happened to micro-batch.
    QueryDef(
      "q156_stream_state_totals",
      (s, dir) =>
        Streaming.replay(s, s"$dir/events.parquet", "update") { es =>
          Streaming.runningUserTotalsExact(es.select(col("user_id"),
            (R(col("value"), 4).cast(DecimalType(18, 4)) * 10000).cast("long").as("units")))
            .toDF()
        }
          .groupBy(col("user_id"))
          .agg(max(struct(col("batch_id"), col("n_events"), col("units"))).as("last"))
          .select(col("user_id"), col("last.n_events").as("n_events"),
            R(col("last.units").cast("double") / 10000.0, 4).as("value_sum_r"))
          .orderBy("user_id"),
      Some(s"""WITH u AS (
              |  SELECT user_id,
              |    CAST(CAST(${rs("value", 4)} AS DECIMAL(18,4)) * 10000 AS BIGINT) AS units
              |  FROM events)
              |SELECT user_id, count(*) AS n_events,
              |  ${rs("CAST(sum(units) AS DOUBLE) / 10000.0", 4)} AS value_sum_r
              |FROM u GROUP BY 1
              |ORDER BY user_id""".stripMargin)),

    // Weighted shortest paths from nation 0 (Bellman-Ford, min-plus
    // semiring) over the trade graph, edge cost = trade-pair count. The
    // weighted-edge rollup stays distributed; the six relaxation rounds
    // run on the driver over the dimension-bounded edge list (TinyGraph
    // decision rule — the weighted sibling of q153). All-long
    // arithmetic: bit-exact on any engine, no rounding contract.
    // Unreachable-at-6-hops vertices report NULL on both sides by
    // construction.
    QueryDef(
      "q157_weighted_paths",
      (s, dir) => {
        val eg = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey").as("u")),
            col("o_custkey") === col("c_custkey"))
          .join(tbl(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey").as("w")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("u"), col("w").as("v")).agg(count(lit(1)).as("wt"))
        val adj = graft.ops.TinyGraph.collectBounded(eg, "q157 trade edges")
          .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
          .groupMap(_._1)(e => (e._2, e._3))
        val vtx = graft.ops.TinyGraph.collectBounded(
          tbl(s, dir, "nation").select(col("n_nationkey")), "q157 vertices")
          .map(_.getInt(0))
        val dist = scala.collection.mutable.Map(0 -> 0L)
        (1 to BfRounds).foreach { _ =>
          dist.toSeq.foreach { case (u, du) =>
            adj.getOrElse(u, Array.empty[(Int, Long)]).foreach { case (v, w) =>
              if (!dist.contains(v) || dist(v) > du + w) dist(v) = du + w
            }
          }
        }
        val rows: java.util.List[org.apache.spark.sql.Row] =
          java.util.Arrays.asList(vtx.sorted.map(v =>
            org.apache.spark.sql.Row(v, dist.get(v).map(Long.box).orNull)): _*)
        s.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("cost",
              org.apache.spark.sql.types.LongType))))
          .orderBy("v")
      },
      Some(bellmanFordSql)))

}
