package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ext.Text
import graft.ops.Num
import QueryDef.{hash32Sql, tbl}

/** Round-9 batch: operational-scale tooling and statistics the battery
  * did not yet cover — join-key skew advisory (the pre-flight check that
  * picks `Scale.saltedJoin` parameters), higher-moment profiling
  * (skewness/kurtosis from exact moment sums), the Mann–Kendall
  * non-parametric trend test (the distribution-free sibling of the
  * regression battery), join-cardinality estimation WITHOUT executing
  * the join (the planner's Σ c_l·c_r identity plus a deterministic
  * sampled estimator), hashing-trick feature buckets (the
  * fixed-dimension featurizer behind linear baselines at corpus scale),
  * and position-based (U-shaped) attribution completing the q185/q214
  * attribution family.
  *
  * Determinism follows the house contract (QueryDef scaladoc): integer
  * arithmetic end-to-end where possible, rounded-term DECIMAL
  * accumulation for float sums, engine-neutral md5 hashing, shared IEEE
  * expression shapes for the final divisions, total ORDER BYs.
  */
object Extended28 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  private val wsSql = "string_split_regex(trim(lower(text)), '\\s+')"

  /** q220 lookback, shared with q185/q214. */
  private val LookbackUs = 86400000000L

  val all: Seq[QueryDef] = Seq(

    // ----- q215: join-key skew advisor ----------------------------------
    // The pre-shuffle health check run before any big equi-join at
    // 100 TB: per-key row counts on the join key, distribution stats
    // (max, mean, exact p99), and for the 5 hottest keys a concrete
    // salt recommendation n_salt = ceil(key_rows / target) with
    // target = 4× the mean key size — exactly the `n` a caller passes
    // to Scale.saltedJoin. Shape: ONE hash agg over the fact table +
    // a 1-row stats agg broadcast into the top-5; integer arithmetic
    // for the recommendation (floor-division parity pinned by casting
    // after a double divide of exact ≤2^52 integers on both engines).
    QueryDef(
      "q215_skew_advisor",
      (s, dir) => {
        val cnts = tbl(s, dir, "orders")
          .groupBy(col("o_custkey").as("key"))
          .agg(count(lit(1)).as("key_rows"))
        val stats = cnts.agg(
          count(lit(1)).as("n_keys"),
          sum(col("key_rows")).as("total"),
          max(col("key_rows")).as("max_rows"),
          percentile(col("key_rows"), lit(0.99)).as("p99"))
        val top = cnts.orderBy(col("key_rows").desc, col("key").asc).limit(5)
        top.crossJoin(broadcast(stats))
          .withColumn("target",
            greatest(lit(1L),
              (lit(4L) * col("total") / col("n_keys")).cast("long")))
          .withColumn("n_salt",
            ((col("key_rows") + col("target") - 1) / col("target")).cast("long"))
          .select(col("key"), col("key_rows"), col("n_salt"),
            col("n_keys"), col("max_rows"),
            R(col("total").cast("double") / col("n_keys").cast("double"), 4)
              .as("mean_r"),
            R(col("p99"), 4).as("p99_r"),
            R(col("max_rows").cast("double") /
              (col("total").cast("double") / col("n_keys").cast("double")), 4)
              .as("skew_r"))
          .orderBy(col("key_rows").desc, col("key"))
      },
      Some(s"""WITH cnts AS (
              |  SELECT o_custkey AS key, count(*) AS key_rows
              |  FROM orders GROUP BY 1),
              |stats AS (
              |  SELECT count(*) AS n_keys,
              |    CAST(sum(key_rows) AS BIGINT) AS total,
              |    max(key_rows) AS max_rows,
              |    quantile_cont(key_rows, 0.99) AS p99
              |  FROM cnts),
              |top AS (
              |  SELECT * FROM cnts ORDER BY key_rows DESC, key LIMIT 5),
              |t AS (
              |  SELECT top.*, stats.*,
              |    greatest(1, (4 * total) // n_keys) AS target
              |  FROM top CROSS JOIN stats)
              |SELECT key, key_rows,
              |  (key_rows + target - 1) // target AS n_salt,
              |  n_keys, max_rows,
              |  ${rs("CAST(total AS DOUBLE) / CAST(n_keys AS DOUBLE)", 4)} AS mean_r,
              |  ${rs("p99", 4)} AS p99_r,
              |  ${rs("CAST(max_rows AS DOUBLE) / (CAST(total AS DOUBLE) / CAST(n_keys AS DOUBLE))", 4)} AS skew_r
              |FROM t ORDER BY key_rows DESC, key""".stripMargin)),

    // ----- q216: higher-moment profile (skewness / kurtosis) ------------
    // Population skewness and excess kurtosis of event value per type —
    // the tail-shape screen run before choosing normalizations (q137's
    // MAD and q199's control chart assume near-symmetry; this measures
    // it). Exactness: the four power sums accumulate ROUNDED-term
    // DECIMAL(38,6) (order-free); every downstream moment is a shared
    // closed-form float over those exact sums, with m2^1.5 spelled
    // m2·√m2 (sqrt is IEEE-correctly-rounded on both engines; pow is
    // not). Shape: ONE map-side projection + one hash agg — no joins,
    // no windows; scales as a pure scan.
    QueryDef(
      "q216_higher_moments",
      (s, dir) => {
        val dec = DecimalType(38, 6)
        val vr = R(col("value"), 4)
        val e = tbl(s, dir, "events")
          .select(col("event_type"),
            R(vr, 6).cast(dec).as("t1"),
            R(vr * vr, 6).cast(dec).as("t2"),
            R(vr * vr * vr, 4).cast(dec).as("t3"),
            R(vr * vr * vr * vr, 2).cast(dec).as("t4"))
        val agg = e.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("t1")).cast("double").as("s1"),
            sum(col("t2")).cast("double").as("s2"),
            sum(col("t3")).cast("double").as("s3"),
            sum(col("t4")).cast("double").as("s4"))
        val nd = col("n").cast("double")
        val mean = col("s1") / nd
        val m2 = col("s2") / nd - mean * mean
        val m3 = col("s3") / nd - lit(3.0) * mean * (col("s2") / nd) +
          lit(2.0) * mean * mean * mean
        val m4 = col("s4") / nd - lit(4.0) * mean * (col("s3") / nd) +
          lit(6.0) * mean * mean * (col("s2") / nd) -
          lit(3.0) * mean * mean * mean * mean
        agg.select(col("event_type"), col("n"),
            R(mean, 6).as("mean_r"),
            R(m2, 6).as("var_r"),
            R(m3 / (m2 * sqrt(m2)), 6).as("skew_r"),
            R(m4 / (m2 * m2) - lit(3.0), 6).as("kurt_r"))
          .orderBy("event_type")
      },
      Some {
        val vrs = rs("value", 4)
        s"""WITH t AS (
           |  SELECT event_type,
           |    CAST(${rs(s"($vrs)", 6)} AS DECIMAL(38,6)) AS t1,
           |    CAST(${rs(s"($vrs) * ($vrs)", 6)} AS DECIMAL(38,6)) AS t2,
           |    CAST(${rs(s"($vrs) * ($vrs) * ($vrs)", 4)} AS DECIMAL(38,6)) AS t3,
           |    CAST(${rs(s"($vrs) * ($vrs) * ($vrs) * ($vrs)", 2)} AS DECIMAL(38,6)) AS t4
           |  FROM events),
           |a AS (
           |  SELECT event_type, count(*) AS n,
           |    CAST(sum(t1) AS DOUBLE) AS s1, CAST(sum(t2) AS DOUBLE) AS s2,
           |    CAST(sum(t3) AS DOUBLE) AS s3, CAST(sum(t4) AS DOUBLE) AS s4
           |  FROM t GROUP BY 1),
           |m AS (
           |  SELECT event_type, n,
           |    s1 / CAST(n AS DOUBLE) AS mean,
           |    s2 / CAST(n AS DOUBLE) - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m2,
           |    s3 / CAST(n AS DOUBLE) - 3E0 * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE)) + 2E0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m3,
           |    s4 / CAST(n AS DOUBLE) - 4E0 * (s1 / CAST(n AS DOUBLE)) * (s3 / CAST(n AS DOUBLE)) + 6E0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE)) - 3E0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m4
           |  FROM a)
           |SELECT event_type, n,
           |  ${rs("mean", 6)} AS mean_r,
           |  ${rs("m2", 6)} AS var_r,
           |  ${rs("m3 / (m2 * sqrt(m2))", 6)} AS skew_r,
           |  ${rs("m4 / (m2 * m2) - 3E0", 6)} AS kurt_r
           |FROM m ORDER BY event_type""".stripMargin
      }),

    // ----- q217: Mann–Kendall trend test --------------------------------
    // Distribution-free monotonic-trend detection on the daily count
    // series per event type — the non-parametric sibling of q124's
    // regression slope (no normality or linearity assumed; the standard
    // first look at drift in ops metrics). Exactness: S and the
    // tie-corrected variance NUMERATOR stay pure BIGINT; z is one shared
    // float shape over them; the trend label compares the ROUNDED z so
    // the classification can never split engines. Shape: the pair
    // relation is calendar-bounded (≤ days² per type — a constant, never
    // data-sized), so the self-join broadcasts at any corpus scale.
    QueryDef(
      "q217_mann_kendall",
      (s, dir) => {
        val e = tbl(s, dir, "events")
        val daily = e.groupBy(col("event_type"),
            (unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("d"))
          .agg(count(lit(1)).as("c"))
        val a = daily.select(col("event_type"), col("d").as("d1"), col("c").as("c1"))
        val b = daily.select(col("event_type").as("et2"), col("d").as("d2"),
          col("c").as("c2"))
        val sstat = a.join(b,
            col("event_type") === col("et2") && col("d1") < col("d2"))
          .groupBy(col("event_type"))
          .agg(sum(when(col("c2") > col("c1"), 1L)
            .when(col("c2") < col("c1"), -1L).otherwise(0L)).as("s_stat"))
        val nd = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
        val ties = daily.groupBy(col("event_type"), col("c"))
          .agg(count(lit(1)).as("t"))
          .groupBy(col("event_type"))
          .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).as("tie_term"))
        val vn = col("n_days") * (col("n_days") - 1) * (lit(2L) * col("n_days") + 5) -
          col("tie_term")
        val res = nd.join(sstat, "event_type").join(ties, "event_type")
          .withColumn("var_num", vn)
          .withColumn("z",
            when(col("s_stat") > 0,
              (col("s_stat") - 1).cast("double") /
                sqrt(col("var_num").cast("double") / 18.0))
              .when(col("s_stat") < 0,
                (col("s_stat") + 1).cast("double") /
                  sqrt(col("var_num").cast("double") / 18.0))
              .otherwise(lit(0.0)))
          .withColumn("z_r", R(col("z"), 6))
        res.select(col("event_type"), col("n_days"), col("s_stat"),
            col("var_num"),
            col("z_r"),
            when(col("z_r") > 1.959964, "increasing")
              .when(col("z_r") < -1.959964, "decreasing")
              .otherwise("none").as("trend"))
          .orderBy("event_type")
      },
      Some(s"""WITH daily AS (
              |  SELECT event_type, epoch_us(ts) // 86400000000 AS d, count(*) AS c
              |  FROM events GROUP BY 1, 2),
              |sstat AS (
              |  SELECT a.event_type,
              |    CAST(sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
              |  FROM daily a JOIN daily b
              |    ON b.event_type = a.event_type AND a.d < b.d
              |  GROUP BY 1),
              |nd AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1),
              |ties AS (
              |  SELECT event_type,
              |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
              |  FROM (SELECT event_type, c, count(*) AS t FROM daily GROUP BY 1, 2)
              |  GROUP BY 1),
              |r AS (
              |  SELECT nd.event_type, n_days, s_stat,
              |    n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var_num
              |  FROM nd JOIN sstat USING (event_type) JOIN ties USING (event_type)),
              |z AS (
              |  SELECT *, CASE
              |    WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
              |    WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
              |    ELSE 0E0 END AS zv
              |  FROM r)
              |SELECT event_type, n_days, s_stat, var_num,
              |  ${rs("zv", 6)} AS z_r,
              |  CASE WHEN ${rs("zv", 6)} > 1.959964 THEN 'increasing'
              |       WHEN ${rs("zv", 6)} < -1.959964 THEN 'decreasing'
              |       ELSE 'none' END AS trend
              |FROM z ORDER BY event_type""".stripMargin)),

    // ----- q218: join-cardinality estimation ----------------------------
    // How big will this join be, WITHOUT running it — the planner
    // question behind every broadcast/salt/AQE decision at 100 TB.
    // Two estimators side by side with ground truth: (a) the exact
    // identity |A ⋈ B| = Σ_k c_A(k)·c_B(k) computed from two per-key
    // count aggs joined on key (aggregate-sized input, never the join
    // output), and (b) a deterministic 1/16 KEY sample (first md5 hex
    // digit of the key = '0' — engine-neutral, and sampling KEYS not
    // rows keeps per-key fan-out intact) scaled ×16. The actual join
    // runs too, so the output certifies (a) exactly and measures (b)'s
    // error honestly. All counts BIGINT; the error ratio is one shared
    // float.
    QueryDef(
      "q218_join_cardinality",
      (s, dir) => {
        def profile(name: String, l: DataFrame, lk: String,
            r: DataFrame, rk: String): DataFrame = {
          val lc = l.groupBy(col(lk).as("k")).agg(count(lit(1)).as("cl"))
          val rc = r.groupBy(col(rk).as("k")).agg(count(lit(1)).as("cr"))
          val j = lc.join(rc, "k")
            .withColumn("sampled",
              substring(md5(col("k").cast("string")), 1, 1) === "0")
          val est = j.agg(
            count(lit(1)).as("n_common"),
            sum(col("cl") * col("cr")).as("predicted_rows"),
            (coalesce(sum(when(col("sampled"), col("cl") * col("cr"))), lit(0L)) * 16)
              .as("est_sampled"))
          val lhs = lc.agg(count(lit(1)).as("lhs_keys"))
          val rhs = rc.agg(count(lit(1)).as("rhs_keys"))
          val actual = l.select(col(lk).as("k"))
            .join(r.select(col(rk).as("k")), "k")
            .agg(count(lit(1)).as("actual_rows"))
          lhs.crossJoin(rhs).crossJoin(est).crossJoin(actual)
            .select(lit(name).as("join_name"), col("lhs_keys"), col("rhs_keys"),
              col("n_common"), col("predicted_rows"), col("actual_rows"),
              col("est_sampled"),
              R(col("est_sampled").cast("double") /
                col("actual_rows").cast("double") - lit(1.0), 4).as("err_r"))
        }
        val orders = tbl(s, dir, "orders")
        val li = tbl(s, dir, "lineitem")
        val cust = tbl(s, dir, "customer")
        profile("customer_orders", cust, "c_custkey", orders, "o_custkey")
          .unionAll(profile("orders_lineitem", orders, "o_orderkey", li, "l_orderkey"))
          .orderBy("join_name")
      },
      Some {
        def cte(p: String, lt: String, lk: String, rt: String, rk: String) =
          s"""${p}lc AS (SELECT $lk AS k, count(*) AS cl FROM $lt GROUP BY 1),
             |${p}rc AS (SELECT $rk AS k, count(*) AS cr FROM $rt GROUP BY 1),
             |${p}j AS (SELECT *, substr(md5(CAST(k AS VARCHAR)), 1, 1) = '0' AS sampled
             |       FROM ${p}lc JOIN ${p}rc USING (k)),
             |${p}est AS (SELECT count(*) AS n_common,
             |         CAST(sum(cl * cr) AS BIGINT) AS predicted_rows,
             |         CAST(coalesce(sum(CASE WHEN sampled THEN cl * cr END), 0) * 16 AS BIGINT) AS est_sampled
             |       FROM ${p}j),
             |${p}lhs AS (SELECT count(*) AS lhs_keys FROM ${p}lc),
             |${p}rhs AS (SELECT count(*) AS rhs_keys FROM ${p}rc),
             |${p}act AS (SELECT count(*) AS actual_rows
             |       FROM (SELECT $lk AS k FROM $lt) l JOIN (SELECT $rk AS k FROM $rt) r USING (k))""".stripMargin
        def row(p: String, name: String) =
          s"""SELECT '$name' AS join_name, lhs_keys, rhs_keys, n_common,
             |  predicted_rows, actual_rows, est_sampled,
             |  ${rs("CAST(est_sampled AS DOUBLE) / CAST(actual_rows AS DOUBLE) - 1E0", 4)} AS err_r
             |FROM ${p}lhs CROSS JOIN ${p}rhs CROSS JOIN ${p}est CROSS JOIN ${p}act""".stripMargin
        s"""WITH ${cte("a", "customer", "c_custkey", "orders", "o_custkey")},
           |${cte("b", "orders", "o_orderkey", "lineitem", "l_orderkey")}
           |SELECT * FROM (
           |${row("a", "customer_orders")}
           |UNION ALL
           |${row("b", "orders_lineitem")})
           |ORDER BY join_name""".stripMargin
      }),

    // ----- q219: hashing-trick feature buckets --------------------------
    // The fixed-dimension featurizer (Weinberger 2009 hashing trick)
    // that lets linear baselines run over an unbounded vocabulary:
    // every token maps to one of 64 buckets by an engine-neutral md5
    // hash; per bucket the profile reports occupancy, type count
    // (collisions), and the dominant token via an order-encoded argmax
    // (count desc, then token desc — fixed-width zero-padded count ‖
    // token, parsed back by POSITION so no separator can collide with
    // token bytes). Shape: one token explode → (bucket, token) hash agg
    // → 64-row rollup; output bounded by the bucket count at any corpus
    // size.
    QueryDef(
      "q219_feature_hash",
      (s, dir) => {
        val tok = tbl(s, dir, "documents")
          .select(explode(Text.tokensNorm(col("text"))).as("t"))
          .filter(col("t") =!= "")
          .withColumn("b", Text.tokenHash32(col("t")) % 64)
        val bt = tok.groupBy(col("b"), col("t")).agg(count(lit(1)).as("c"))
        bt.groupBy(col("b"))
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            max(concat(format_string("%019d", col("c")), col("t"))).as("enc"))
          .select(col("b").as("bucket"), col("n_tokens"), col("n_types"),
            substring(col("enc"), 20, 1000000).as("top_token"),
            R(substring(col("enc"), 1, 19).cast("long").cast("double") /
              col("n_tokens").cast("double"), 6).as("top_share_r"))
          .orderBy("bucket")
      },
      Some(s"""WITH tok AS (
              |  SELECT t FROM (SELECT unnest($wsSql) AS t FROM documents)
              |  WHERE t <> ''),
              |bt AS (
              |  SELECT ${hash32Sql("t")} % 64 AS b, t, count(*) AS c
              |  FROM tok GROUP BY 1, 2),
              |agg AS (
              |  SELECT b, CAST(sum(c) AS BIGINT) AS n_tokens,
              |    count(*) AS n_types,
              |    max(printf('%019d', c) || t) AS enc
              |  FROM bt GROUP BY 1)
              |SELECT b AS bucket, n_tokens, n_types,
              |  substr(enc, 20) AS top_token,
              |  ${rs("CAST(CAST(substr(enc, 1, 19) AS BIGINT) AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)} AS top_share_r
              |FROM agg ORDER BY bucket""".stripMargin)),

    // ----- q220: position-based (U-shaped) attribution ------------------
    // The third standard attribution model beside q185 (last-touch) and
    // q214 (linear): first and last touches get 40% each, interior
    // touches split the remaining 20% (k=1 → 100%, k=2 → 50/50,
    // untouched → '(none)' in full). Shape: q214's entity-keyed
    // purchase × touch join, ONE (tt_us, event_id)-ordered window for
    // positions; credits as rounded-term DECIMALs. Invariant by
    // construction: Σ credit = number of purchases (spec-pinned).
    QueryDef(
      "q220_position_attribution",
      (s, dir) => {
        val dec = DecimalType(24, 12)
        val e = tbl(s, dir, "events")
        val purch = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("pid"),
            unix_micros(col("ts")).as("pt"))
        val touch = e.filter(col("event_type") =!= "purchase")
          .select(col("user_id").as("u2"), col("event_type").as("tt"),
            col("event_id").as("te"), unix_micros(col("ts")).as("tt_us"))
        val joined = purch.join(touch,
            col("user_id") === col("u2") &&
              col("tt_us") >= col("pt") - LookbackUs && col("tt_us") < col("pt"),
            "left")
          .withColumn("k", count(col("tt")).over(Window.partitionBy(col("pid"))))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("pid")).orderBy(col("tt_us"), col("te"))))
        val credited = joined
          .withColumn("attr", coalesce(col("tt"), lit("(none)")))
          .withColumn("credit",
            when(col("k") === 0, lit(1.0))
              .when(col("k") === 1, lit(1.0))
              .when(col("k") === 2, lit(0.5))
              .when(col("rn") === 1 || col("rn") === col("k"), lit(0.4))
              .otherwise(lit(0.2) / (col("k") - 2).cast("double")))
          .withColumn("cr", R(col("credit"), 12).cast(dec))
        credited.groupBy(col("attr"))
          .agg(sum(col("cr")).as("credits"),
            count(lit(1)).as("n_rows"),
            countDistinct(col("pid")).as("n_purchases_touched"))
          .select(col("attr"),
            R(col("credits").cast("double"), 6).as("credit_r"),
            col("n_rows"), col("n_purchases_touched"))
          .orderBy("attr")
      },
      Some(s"""WITH purch AS (
              |  SELECT user_id, event_id AS pid, epoch_us(ts) AS pt
              |  FROM events WHERE event_type = 'purchase'),
              |touch AS (
              |  SELECT user_id AS u2, event_type AS tt, event_id AS te,
              |    epoch_us(ts) AS tt_us
              |  FROM events WHERE event_type <> 'purchase'),
              |joined AS (
              |  SELECT purch.*, touch.tt, touch.te, touch.tt_us
              |  FROM purch LEFT JOIN touch
              |    ON touch.u2 = purch.user_id
              |    AND touch.tt_us >= purch.pt - $LookbackUs
              |    AND touch.tt_us < purch.pt),
              |w AS (
              |  SELECT *, count(tt) OVER (PARTITION BY pid) AS k,
              |    row_number() OVER (PARTITION BY pid ORDER BY tt_us, te) AS rn
              |  FROM joined),
              |credited AS (
              |  SELECT coalesce(tt, '(none)') AS attr, pid,
              |    CASE WHEN k = 0 THEN 1E0
              |         WHEN k = 1 THEN 1E0
              |         WHEN k = 2 THEN 0.5E0
              |         WHEN rn = 1 OR rn = k THEN 0.4E0
              |         ELSE 0.2E0 / CAST(k - 2 AS DOUBLE) END AS credit
              |  FROM w),
              |c2 AS (
              |  SELECT attr, pid,
              |    CAST(${rs("credit", 12)} AS DECIMAL(24,12)) AS cr
              |  FROM credited)
              |SELECT attr,
              |  ${rs("CAST(sum(cr) AS DOUBLE)", 6)} AS credit_r,
              |  count(*) AS n_rows,
              |  count(DISTINCT pid) AS n_purchases_touched
              |FROM c2 GROUP BY 1 ORDER BY attr""".stripMargin))
  )
}
