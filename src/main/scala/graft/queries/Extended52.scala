package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Num
import QueryDef.tbl

/** Round-9 eighteenth batch: intermittent-demand forecasting, a
  * principal-component kernel, and corpus term burstiness —
  *
  *  - q293 Croston's method: the forecaster for SPARSE demand series
  *    (q230's Holt smooths every period; on mostly-zero series it
  *    chases zeros — Croston separately smooths demand SIZE and
  *    inter-arrival GAP on demand occurrences only, forecasting
  *    size/gap). Per-part sequential state → the aggregate-HOF fold
  *    with per-step 4-dp rounding and a WITH RECURSIVE oracle (the
  *    q230/q272 house contract).
  *  - q294 top principal component by power iteration on the 3×3
  *    correlation matrix of (quantity, price, discount): moments are
  *    exact integer DECIMAL(38,0) sums (q228/q290 cast-parity recipe),
  *    correlations close-form off them, and the 16-step iteration runs
  *    as ONE aggregate HOF over a 1-row matrix relation with 12-dp
  *    per-step rounding — both engines walk the identical vector
  *    sequence. The oracle steps the same iteration via WITH RECURSIVE.
  *  - q295 Church–Gale term burstiness: variance-to-mean ratio of
  *    per-document counts over ALL documents (zeros included — the
  *    closed form needs only Σw, Σw², D). Separates topical/content
  *    words (bursty, VMR ≫ 1) from function words (VMR ≈ 1) — the
  *    lexical screen TF-IDF (q65) and surprisal (q117) don't give.
  *
  * Scale shapes: q293/q295 are one keyed aggregate plus bounded
  * per-entity folds; q294 is one scan-to-scalar moment aggregate with
  * all iteration on a broadcast 1-row relation.
  */
object Extended52 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  private val wsSql = "string_split_regex(trim(lower(text)), '\\s+')"

  /** Croston smoothing constant (size and interval share it). */
  private val Alpha = "0.2"

  /** Demand-day band: below 3 there is nothing to smooth; above 40 the
    * series is dense enough that plain Holt applies (and the band keeps
    * the per-part fold bounded at any corpus size).
    */
  private val MinDays = 3
  private val MaxDays = 40

  val all: Seq[QueryDef] = Seq(

    // ----- q293: Croston intermittent-demand forecast ----------------
    QueryDef(
      "q293_croston",
      (s, dir) => {
        val daily = tbl(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("part"),
            floor(unix_micros(col("l_shipdate").cast("timestamp")) /
              lit(86400000000L)).as("day"))
          .agg(sum(col("l_quantity").cast(DecimalType(18, 0))).cast("long").as("y"))
        val ser = daily.groupBy(col("part"))
          .agg(count(lit(1)).as("n_days"),
            sort_array(collect_list(struct(col("day"), col("y")))).as("arr"))
          .filter(col("n_days").between(MinDays, MaxDays))
        val zStep = rs(s"${Alpha}D * e.y + (1.0D - ${Alpha}D) * acc.z", 4)
        val aStep = rs(s"${Alpha}D * (e.day - acc.pd) + (1.0D - ${Alpha}D) * acc.a", 4)
        val fold = expr(
          s"""aggregate(arr,
             |  named_struct('z', CAST(0.0 AS DOUBLE), 'a', CAST(0.0 AS DOUBLE),
             |    'pd', CAST(0 AS BIGINT), 'i', CAST(0 AS BIGINT)),
             |  (acc, e) -> named_struct(
             |    'z', CASE WHEN acc.i = 0 THEN CAST(e.y AS DOUBLE) ELSE $zStep END,
             |    'a', CASE WHEN acc.i = 0 THEN CAST(1.0 AS DOUBLE) ELSE $aStep END,
             |    'pd', e.day,
             |    'i', acc.i + 1))""".stripMargin)
        ser.withColumn("st", fold)
          .select(col("part"), col("n_days"),
            R(col("st.z"), 4).as("size_r"),
            R(col("st.a"), 4).as("interval_r"),
            R(col("st.z") / col("st.a"), 4).as("forecast_r"))
          .orderBy("part")
      },
      Some {
        val zStep = rs(s"$Alpha * s.y + (1.0 - $Alpha) * h.z", 4)
        val aStep = rs(s"$Alpha * (s.day - h.pd) + (1.0 - $Alpha) * h.a", 4)
        s"""WITH RECURSIVE daily AS (
           |  SELECT l_partkey AS part,
           |    CAST(floor(epoch_us(l_shipdate) / 86400e6) AS BIGINT) AS day,
           |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))) AS BIGINT) AS y
           |  FROM lineitem GROUP BY part, day),
           |cnt AS (
           |  SELECT part, COUNT(*) AS n_days FROM daily GROUP BY part
           |  HAVING COUNT(*) BETWEEN $MinDays AND $MaxDays),
           |ser AS (
           |  SELECT d.part,
           |    CAST(row_number() OVER (PARTITION BY d.part ORDER BY d.day) AS BIGINT) AS i,
           |    d.day, d.y
           |  FROM daily d JOIN cnt ON cnt.part = d.part),
           |cr AS (
           |  SELECT part, i, day AS pd, CAST(y AS DOUBLE) AS z,
           |    CAST(1.0 AS DOUBLE) AS a
           |  FROM ser WHERE i = 1
           |  UNION ALL
           |  SELECT s.part, s.i, s.day AS pd, $zStep AS z, $aStep AS a
           |  FROM cr h JOIN ser s ON s.part = h.part AND s.i = h.i + 1)
           |SELECT cr.part, cnt.n_days,
           |  ${rs("z", 4)} AS size_r,
           |  ${rs("a", 4)} AS interval_r,
           |  ${rs("z / a", 4)} AS forecast_r
           |FROM cr JOIN cnt ON cnt.part = cr.part
           |WHERE cr.i = cnt.n_days
           |ORDER BY cr.part""".stripMargin
      }),

    // ----- q294: top principal component via power iteration ---------
    QueryDef(
      "q294_pca_power",
      (s, dir) => {
        val dec = DecimalType(38, 0)
        val t = tbl(s, dir, "lineitem").select(
          col("l_quantity").as("x"),
          R(col("l_extendedprice") * 100.0, 0).as("y"),
          R(col("l_discount") * 100.0, 0).as("z"))
        val m = t.agg(
          count(lit(1)).as("n"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum(col("z").cast(dec)).as("sz"),
          sum((col("x") * col("x")).cast(dec)).as("sxx"),
          sum((col("y") * col("y")).cast(dec)).as("syy"),
          sum((col("z") * col("z")).cast(dec)).as("szz"),
          sum((col("x") * col("y")).cast(dec)).as("sxy"),
          sum((col("x") * col("z")).cast(dec)).as("sxz"),
          sum((col("y") * col("z")).cast(dec)).as("syz"))
        def d(c: String) = col(c).cast("double")
        val nn = col("n").cast("double")
        def cov(sij: String, si: String, sj: String) =
          nn * d(sij) - d(si) * d(sj)
        val withR = m
          .withColumn("rxy", cov("sxy", "sx", "sy") /
            sqrt(cov("sxx", "sx", "sx") * cov("syy", "sy", "sy")))
          .withColumn("rxz", cov("sxz", "sx", "sz") /
            sqrt(cov("sxx", "sx", "sx") * cov("szz", "sz", "sz")))
          .withColumn("ryz", cov("syz", "sy", "sz") /
            sqrt(cov("syy", "sy", "sy") * cov("szz", "sz", "sz")))
        // 16 power steps as ONE fold over a constant index sequence; the
        // lambda reads the correlation columns from the enclosing row.
        // Per-step 12-dp rounding keeps both engines on one vector walk.
        def wExpr(a: String, b: String, c: String) =
          rs(s"$a * acc.v1 + $b * acc.v2 + $c * acc.v3", 12)
        val w1 = wExpr("1.0D", "rxy", "rxz")
        val w2 = wExpr("rxy", "1.0D", "ryz")
        val w3 = wExpr("rxz", "ryz", "1.0D")
        val nrm = s"sqrt($w1 * $w1 + $w2 * $w2 + $w3 * $w3)"
        val fold = expr(
          s"""aggregate(sequence(1, 16),
             |  named_struct('v1', CAST(${rs("1.0D / sqrt(3.0D)", 12)} AS DOUBLE),
             |    'v2', CAST(${rs("1.0D / sqrt(3.0D)", 12)} AS DOUBLE),
             |    'v3', CAST(${rs("1.0D / sqrt(3.0D)", 12)} AS DOUBLE)),
             |  (acc, k) -> named_struct(
             |    'v1', ${rs(s"$w1 / $nrm", 12)},
             |    'v2', ${rs(s"$w2 / $nrm", 12)},
             |    'v3', ${rs(s"$w3 / $nrm", 12)}))""".stripMargin)
        val it = withR.withColumn("v", fold)
          // sign convention: first component non-negative
          .withColumn("sgn",
            when(col("v.v1") < 0, lit(-1.0)).otherwise(lit(1.0)))
          .withColumn("u1", col("sgn") * col("v.v1"))
          .withColumn("u2", col("sgn") * col("v.v2"))
          .withColumn("u3", col("sgn") * col("v.v3"))
        val av1 = col("u1") + col("rxy") * col("u2") + col("rxz") * col("u3")
        val av2 = col("rxy") * col("u1") + col("u2") + col("ryz") * col("u3")
        val av3 = col("rxz") * col("u1") + col("ryz") * col("u2") + col("u3")
        val lam = col("u1") * av1 + col("u2") * av2 + col("u3") * av3
        it.select(col("n"),
            R(col("rxy"), 6).as("rxy_r"),
            R(col("rxz"), 6).as("rxz_r"),
            R(col("ryz"), 6).as("ryz_r"),
            R(col("u1"), 6).as("pc1_qty_r"),
            R(col("u2"), 6).as("pc1_price_r"),
            R(col("u3"), 6).as("pc1_disc_r"),
            R(lam, 6).as("lambda_r"),
            R(lam / 3.0, 6).as("explained_share_r"))
      },
      Some {
        def wSql(a: String, b: String, c: String) =
          rs(s"$a * h.v1 + $b * h.v2 + $c * h.v3", 12)
        val w1 = wSql("1.0", "rxy", "rxz")
        val w2 = wSql("rxy", "1.0", "ryz")
        val w3 = wSql("rxz", "ryz", "1.0")
        val nrm = s"sqrt($w1 * $w1 + $w2 * $w2 + $w3 * $w3)"
        s"""WITH RECURSIVE t AS (
           |  SELECT l_quantity AS x,
           |    ${rs("l_extendedprice * 100.0", 0)} AS y,
           |    ${rs("l_discount * 100.0", 0)} AS z
           |  FROM lineitem),
           |m AS (
           |  SELECT COUNT(*) AS n,
           |    SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
           |    SUM(CAST(z AS DECIMAL(38,0))) AS sz,
           |    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
           |    SUM(CAST(y * y AS DECIMAL(38,0))) AS syy,
           |    SUM(CAST(z * z AS DECIMAL(38,0))) AS szz,
           |    SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
           |    SUM(CAST(x * z AS DECIMAL(38,0))) AS sxz,
           |    SUM(CAST(y * z AS DECIMAL(38,0))) AS syz
           |  FROM t),
           |mr AS (
           |  SELECT n,
           |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rxy,
           |    (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
           |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           |        * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS rxz,
           |    (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
           |      / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
           |        * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS ryz
           |  FROM m),
           |it AS (
           |  SELECT 0 AS k,
           |    CAST(${rs("1.0 / sqrt(3.0)", 12)} AS DOUBLE) AS v1,
           |    CAST(${rs("1.0 / sqrt(3.0)", 12)} AS DOUBLE) AS v2,
           |    CAST(${rs("1.0 / sqrt(3.0)", 12)} AS DOUBLE) AS v3
           |  FROM mr
           |  UNION ALL
           |  SELECT h.k + 1,
           |    ${rs(s"$w1 / $nrm", 12)} AS v1,
           |    ${rs(s"$w2 / $nrm", 12)} AS v2,
           |    ${rs(s"$w3 / $nrm", 12)} AS v3
           |  FROM it h CROSS JOIN mr WHERE h.k < 16),
           |fin AS (
           |  SELECT mr.n, mr.rxy, mr.rxz, mr.ryz,
           |    CASE WHEN it.v1 < 0 THEN -1.0 ELSE 1.0 END * it.v1 AS u1,
           |    CASE WHEN it.v1 < 0 THEN -1.0 ELSE 1.0 END * it.v2 AS u2,
           |    CASE WHEN it.v1 < 0 THEN -1.0 ELSE 1.0 END * it.v3 AS u3
           |  FROM it CROSS JOIN mr WHERE it.k = 16),
           |lam AS (
           |  SELECT *,
           |    u1 * (u1 + rxy * u2 + rxz * u3)
           |      + u2 * (rxy * u1 + u2 + ryz * u3)
           |      + u3 * (rxz * u1 + ryz * u2 + u3) AS l
           |  FROM fin)
           |SELECT n, ${rs("rxy", 6)} AS rxy_r, ${rs("rxz", 6)} AS rxz_r,
           |  ${rs("ryz", 6)} AS ryz_r,
           |  ${rs("u1", 6)} AS pc1_qty_r, ${rs("u2", 6)} AS pc1_price_r,
           |  ${rs("u3", 6)} AS pc1_disc_r,
           |  ${rs("l", 6)} AS lambda_r, ${rs("l / 3.0", 6)} AS explained_share_r
           |FROM lam""".stripMargin
      }),

    // ----- q295: Church–Gale term burstiness -------------------------
    QueryDef(
      "q295_burstiness",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val totals = docs.agg(count(lit(1)).as("d_total"))
        val pd = docs
          .select(col("doc_id"),
            explode(graft.ext.Text.tokensNorm(col("text"))).as("t"))
          .filter(col("t") =!= "")
          .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("w"))
        val term = pd.groupBy(col("t")).agg(
          count(lit(1)).as("df"),
          sum(col("w").cast(DecimalType(18, 0))).cast("long").as("n_t"),
          sum((col("w") * col("w")).cast(DecimalType(18, 0))).cast("long").as("s2"))
        val mean = col("n_t").cast("double") / col("d_total").cast("double")
        val vmr = (col("s2").cast("double") / col("d_total").cast("double") -
          mean * mean) / mean
        term.crossJoin(broadcast(totals))
          .select(col("t").as("term"), col("df"), col("n_t"),
            R(vmr, 6).as("vmr_r"))
          .orderBy(col("n_t").desc, col("term"))
          .limit(30)
      },
      Some(s"""WITH tot AS (SELECT COUNT(*) AS d_total FROM documents),
              |tok AS (SELECT doc_id, t
              |        FROM (SELECT doc_id, unnest($wsSql) AS t FROM documents)
              |        WHERE t <> ''),
              |pd AS (SELECT doc_id, t, COUNT(*) AS w FROM tok GROUP BY doc_id, t),
              |term AS (
              |  SELECT t, COUNT(*) AS df,
              |    CAST(SUM(CAST(w AS DECIMAL(18,0))) AS BIGINT) AS n_t,
              |    CAST(SUM(CAST(w * w AS DECIMAL(18,0))) AS BIGINT) AS s2
              |  FROM pd GROUP BY t)
              |SELECT t AS term, df, n_t,
              |  ${rs(
                 "(CAST(s2 AS DOUBLE) / d_total - (CAST(n_t AS DOUBLE) / d_total) * (CAST(n_t AS DOUBLE) / d_total)) / (CAST(n_t AS DOUBLE) / d_total)",
                 6)} AS vmr_r
              |FROM term CROSS JOIN tot
              |ORDER BY n_t DESC, term
              |LIMIT 30""".stripMargin))
  )
}
