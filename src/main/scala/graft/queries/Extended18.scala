package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ext.Text
import graft.ops.Num
import QueryDef.tbl

/** Round-8 second batch: four more analytics shapes absent from the first
  * 183 queries — a Benford first-digit audit (the fraud/data-quality
  * screen), last-touch marketing attribution (windowed credit assignment),
  * calendar-true lag-k autocorrelation (seasonality diagnostics beyond
  * q166's decomposition), and reciprocal-rank fusion (the multi-signal
  * ranking combiner used by retrieval stacks).
  *
  * Determinism follows the house contract (QueryDef scaladoc). Shared
  * irrational constants (Benford log10 probabilities, the χ² critical
  * value) are rendered ONCE in Scala and spliced verbatim into both
  * engines, so every downstream float op starts from bit-identical
  * literals.
  */
object Extended18 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  /** Benford P(d) = log10(1 + 1/d) as exact shortest-double literals —
    * one CASE expression shared verbatim by Spark (expr) and DuckDB.
    */
  private val BenfordCase: String =
    (1 to 9).map(d => s"WHEN d = $d THEN ${math.log10(1 + 1.0 / d)}E0")
      .mkString("CASE ", " ", " ELSE NULL END")

  /** χ²(8 df) upper critical value at α = 0.05, inlined both sides.
    * E-notation forces a DOUBLE literal in BOTH parsers (bare decimals
    * parse as DECIMAL in each, with engine-specific comparison rules).
    */
  private val Chi2Crit = "15.507E0"

  /** q185: attribution lookback window in microseconds (24 h). */
  private val LookbackUs = 86400000000L

  /** q186: calendar lags probed (short-term memory and weekly season). */
  private val Lags = Seq(1, 7)

  /** q187: RRF smoothing constant (the standard k=60) and report depth. */
  private val RrfK = 60
  private val TopK = 5

  val all: Seq[QueryDef] = Seq(

    // ----- q184: Benford first-digit audit ------------------------------
    // Does each priority class's order-value population follow Benford's
    // law? The classic fraud / synthetic-data screen. Exactness: the
    // leading digit comes from the DECIMAL STRING of floor(price) (no
    // float log10), the 9-digit dimension is generated so zero-count
    // digits still contribute their expected-count term, the log10
    // probabilities are spliced as identical literals, and the χ² sum
    // accumulates rounded terms in DECIMAL (order-free). Shape: one scan,
    // one (priority, digit) hash agg, a broadcast join onto the 45-row
    // dimension grid, one final 5-row agg — nothing grows with data.
    QueryDef(
      "q184_benford",
      (s, dir) => {
        val cnt = tbl(s, dir, "orders")
          .select(col("o_orderpriority").as("pri"),
            substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
              .cast("int").as("d"))
          .groupBy(col("pri"), col("d"))
          .agg(count(lit(1)).as("o"))
        val dim = tbl(s, dir, "orders").select(col("o_orderpriority").as("pri"))
          .distinct()
          .select(col("pri"), explode(sequence(lit(1), lit(9))).as("d"))
        val full = dim.join(cnt, Seq("pri", "d"), "left")
          .withColumn("o", coalesce(col("o"), lit(0L)))
          .withColumn("n", sum(col("o")).over(Window.partitionBy(col("pri"))))
          .withColumn("p", expr(BenfordCase))
          .withColumn("e", col("n").cast("double") * col("p"))
          .withColumn("term",
            R((col("o").cast("double") - col("e")) *
              (col("o").cast("double") - col("e")) / col("e"), 8)
              .cast(DecimalType(24, 8)))
        full.groupBy(col("pri"))
          .agg(max(col("n")).as("n"),
            sum(col("term")).as("chi2"),
            max(when(col("d") === 1,
              R(col("o").cast("double") / col("n").cast("double"), 6)))
              .as("d1_share_r"))
          .select(col("pri"), col("n"),
            R(col("chi2").cast("double"), 4).as("chi2_r"),
            col("d1_share_r"),
            (col("chi2").cast("double") > expr(Chi2Crit)).as("reject"))
          .orderBy("pri")
      },
      Some(s"""WITH src AS (
              |  SELECT o_orderpriority AS pri,
              |    CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS d
              |  FROM orders),
              |cnt AS (SELECT pri, d, count(*) AS o FROM src GROUP BY 1, 2),
              |dim AS (
              |  SELECT pri, CAST(r.d AS INTEGER) AS d
              |  FROM (SELECT DISTINCT pri FROM src) p CROSS JOIN range(1, 10) r(d)),
              |full_ AS (
              |  SELECT dim.pri, dim.d, coalesce(cnt.o, 0) AS o
              |  FROM dim LEFT JOIN cnt ON cnt.pri = dim.pri AND cnt.d = dim.d),
              |w AS (
              |  SELECT *, CAST(sum(o) OVER (PARTITION BY pri) AS BIGINT) AS n,
              |    $BenfordCase AS p
              |  FROM full_),
              |t AS (
              |  SELECT *, CAST(n AS DOUBLE) * p AS e FROM w),
              |t2 AS (
              |  SELECT pri, d, o, n,
              |    CAST(${rs("(CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e", 8)}
              |      AS DECIMAL(24,8)) AS term
              |  FROM t)
              |SELECT pri, max(n) AS n,
              |  ${rs("CAST(sum(term) AS DOUBLE)", 4)} AS chi2_r,
              |  max(CASE WHEN d = 1
              |    THEN ${rs("CAST(o AS DOUBLE) / CAST(n AS DOUBLE)", 6)} END) AS d1_share_r,
              |  CAST(sum(term) AS DOUBLE) > $Chi2Crit AS reject
              |FROM t2 GROUP BY 1 ORDER BY pri""".stripMargin)),

    // ----- q185: last-touch attribution ---------------------------------
    // Credit each purchase to the user's most recent PRIOR non-purchase
    // event within a 24 h lookback — the marketing-attribution shape
    // (last touch; the window frame generalizes to first-touch/linear).
    // Determinism: the "most recent prior" is a lexicographic MAX over a
    // zero-padded (epoch, event_id, type) encoding — a total order, so
    // same-timestamp ties resolve identically on both engines; revenue
    // sums are rounded-term DECIMAL. Shape: ONE user-partitioned running
    // window over the events scan (no self-join), then a types-sized agg.
    QueryDef(
      "q185_attribution",
      (s, dir) => {
        val enc = format_string("%020d|%012d|%s",
          unix_micros(col("ts")), col("event_id"), col("event_type"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val e = tbl(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"))
          .withColumn("prev",
            max(when(col("event_type") =!= "purchase", enc)).over(w))
          .filter(col("event_type") === "purchase")
          .withColumn("attr", when(
            col("prev").isNotNull &&
              unix_micros(col("ts")) - substring_index(col("prev"), "|", 1)
                .cast("long") <= LookbackUs,
            substring_index(col("prev"), "|", -1)).otherwise(lit("(none)")))
        e.groupBy(col("attr"))
          .agg(count(lit(1)).as("n_conv"),
            sum(R(col("value"), 4).cast(DecimalType(18, 4))).as("rev"))
          .withColumn("tot", sum(col("n_conv")).over(Window.partitionBy()))
          .select(col("attr"), col("n_conv"),
            R(col("rev").cast("double"), 4).as("revenue_r"),
            R(col("n_conv").cast("double") / col("tot").cast("double"), 6)
              .as("share_r"))
          .orderBy("attr")
      },
      Some(s"""WITH e AS (
              |  SELECT user_id, ts, event_id, event_type, value,
              |    max(CASE WHEN event_type <> 'purchase'
              |      THEN printf('%020d|%012d|%s', epoch_us(ts), event_id, event_type) END)
              |      OVER (PARTITION BY user_id ORDER BY ts, event_id
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
              |  FROM events),
              |p AS (
              |  SELECT CASE WHEN prev IS NOT NULL
              |      AND epoch_us(ts) - CAST(split_part(prev, '|', 1) AS BIGINT) <= $LookbackUs
              |    THEN split_part(prev, '|', 3) ELSE '(none)' END AS attr,
              |    value
              |  FROM e WHERE event_type = 'purchase'),
              |g AS (
              |  SELECT attr, count(*) AS n_conv,
              |    sum(CAST(${rs("value", 4)} AS DECIMAL(18,4))) AS rev
              |  FROM p GROUP BY 1),
              |w AS (SELECT *, CAST(sum(n_conv) OVER () AS BIGINT) AS tot FROM g)
              |SELECT attr, n_conv,
              |  ${rs("CAST(rev AS DOUBLE)", 4)} AS revenue_r,
              |  ${rs("CAST(n_conv AS DOUBLE) / CAST(tot AS DOUBLE)", 6)} AS share_r
              |FROM w ORDER BY attr""".stripMargin)),

    // ----- q186: calendar-true lag-k autocorrelation --------------------
    // Pearson autocorrelation of each event type's daily count series at
    // lags 1 and 7 — the "does my metric have weekly season / short-term
    // memory" diagnostic that complements q166's decomposition. CALENDAR
    // semantics: pairs join on day−k (a missing day drops the pair)
    // rather than row-lag, so gaps cannot silently misalign the series.
    // Exactness: counts are integers, so all six moment sums are exact
    // BIGINTs; the Pearson division is the single shared float op.
    // Shape: one daily hash agg, then a self-equi-join of the
    // calendar-bounded daily relation (broadcast-sized at any data
    // scale) fanned out 2× for the lag dimension.
    QueryDef(
      "q186_autocorr",
      (s, dir) => {
        val daily = tbl(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
        val cur = daily
          .withColumn("k", explode(array(Lags.map(lit): _*)))
          .withColumn("pday", expr("date_sub(day, k)"))
        val pairs = cur.join(
          daily.select(col("event_type"), col("day").as("pday"),
            col("c").as("cy")),
          Seq("event_type", "pday"))
        pairs.groupBy(col("event_type"), col("k"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("c")).as("sx"), sum(col("cy")).as("sy"),
            sum(col("c") * col("cy")).as("sxy"),
            sum(col("c") * col("c")).as("sxx"),
            sum(col("cy") * col("cy")).as("syy"))
          .select(col("event_type"), col("k").as("lag_k"), col("n_pairs"),
            R((col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double") *
                (col("n_pairs") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
              .as("acf_r"))
          .orderBy("event_type", "lag_k")
      },
      Some(s"""WITH daily AS (
              |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
              |  FROM events GROUP BY 1, 2),
              |cur AS (
              |  SELECT d.event_type, d.day, d.c, CAST(k.k AS INTEGER) AS k,
              |    d.day - CAST(k.k AS INTEGER) AS pday
              |  FROM daily d CROSS JOIN (VALUES (${Lags.mkString("), (")})) k(k)),
              |pairs AS (
              |  SELECT cur.event_type, cur.k, cur.c, p.c AS cy
              |  FROM cur JOIN daily p
              |    ON p.event_type = cur.event_type AND p.day = cur.pday),
              |m AS (
              |  SELECT event_type, k, count(*) AS n_pairs,
              |    CAST(sum(c) AS BIGINT) AS sx, CAST(sum(cy) AS BIGINT) AS sy,
              |    CAST(sum(c * cy) AS BIGINT) AS sxy,
              |    CAST(sum(c * c) AS BIGINT) AS sxx,
              |    CAST(sum(cy * cy) AS BIGINT) AS syy
              |  FROM pairs GROUP BY 1, 2)
              |SELECT event_type, k AS lag_k, n_pairs,
              |  ${rs("CAST(n_pairs * sxy - sx * sy AS DOUBLE) / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE) * CAST(n_pairs * syy - sy * sy AS DOUBLE))", 6)} AS acf_r
              |FROM m ORDER BY event_type, lag_k""".stripMargin)),

    // ----- q187: reciprocal-rank fusion ---------------------------------
    // Combine two independent per-source document rankings (by raw size
    // and by token count) into one fused top-5 via RRF — the standard
    // score-free rank combiner for multi-signal retrieval. Determinism:
    // both input ranks are total (desc key, doc_id tie-break); RRF scores
    // are sums of reciprocals of identical integers, so the fused order —
    // also doc_id-tie-broken — is bit-stable on both engines. SCALE
    // SHAPE: the two input ranks are per-SOURCE (~20 keys) over raw docs
    // — N/20 single-task sorts as plain windows — so both come from
    // PrefixSum.rank (coarse cells + exact offsets); the fused top-5
    // window stays native because its `row_number <= k` filter plans a
    // WindowGroupLimit (per-key input pruned to k per map task before the
    // final per-key rank).
    QueryDef(
      "q187_rrf_fusion",
      (s, dir) => {
        import graft.ops.PrefixSum
        val ntok = size(Text.tokensNorm(col("text"))).cast("long")
        val base = tbl(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"),
            ntok.as("n_tokens"))
        val bySrc = Window.partitionBy(col("source"))
        // Ckpt between the chained ranks: each PrefixSum.rank runs an
        // eager boundary agg + subtotal agg + join over its input, so
        // without a barrier the second rank re-executes the first's whole
        // pipeline (incl. per-row tokensNorm sizing) ~4x — the q172 rule
        val r1d = graft.ops.Ckpt(PrefixSum.rank(base, Seq("source"),
          col("n_chars"), ascending = false, Seq(col("doc_id")), "r1"))
        val withRanks = PrefixSum.rank(
          r1d, Seq("source"), col("n_tokens"), ascending = false, Seq(col("doc_id")), "r2")
        val fused = withRanks
          .withColumn("rrf",
            lit(1.0) / (lit(RrfK) + col("r1")) + lit(1.0) / (lit(RrfK) + col("r2")))
          .withColumn("rank", row_number().over(
            bySrc.orderBy(col("rrf").desc, col("doc_id"))))
          .filter(col("rank") <= TopK)
        fused.select(col("source"), col("rank").cast("long").as("rank"),
            col("doc_id"), col("r1").cast("long").as("r1"),
            col("r2").cast("long").as("r2"),
            R(col("rrf"), 6).as("rrf_r"))
          .orderBy("source", "rank")
      },
      Some(s"""WITH base AS (
              |  SELECT source, doc_id, n_chars,
              |    len(${TextQueries.wsSql}) AS n_tokens
              |  FROM documents),
              |rk AS (
              |  SELECT *,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY n_chars DESC, doc_id) AS r1,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY n_tokens DESC, doc_id) AS r2
              |  FROM base),
              |f AS (
              |  SELECT *, 1E0 / ($RrfK + r1) + 1E0 / ($RrfK + r2) AS rrf FROM rk),
              |t AS (
              |  SELECT *, row_number() OVER (PARTITION BY source
              |    ORDER BY rrf DESC, doc_id) AS rnk FROM f)
              |SELECT source, CAST(rnk AS BIGINT) AS rank, doc_id,
              |  CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2,
              |  ${rs("rrf", 6)} AS rrf_r
              |FROM t WHERE rnk <= $TopK ORDER BY source, rank""".stripMargin))
  )
}
