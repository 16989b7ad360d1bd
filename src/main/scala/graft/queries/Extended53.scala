package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Num
import QueryDef.tbl

/** Round-9 nineteenth batch: Holt–Winters additive seasonal smoothing —
  * the seasonality-aware closer of the forecasting family (q230's Holt
  * tracks level+trend but aliases a 12-month cycle into trend error;
  * q166 DECOMPOSES seasonality descriptively; q293 handles sparse
  * series; HW FORECASTS with the cycle).
  *
  * State per step is (level, trend, 12-slot seasonal RING): the fold
  * carries the seasonal array through Spark's `aggregate` HOF
  * (slice+concat rotation) and through a list-carrying WITH RECURSIVE
  * in the oracle (the q270/q273 list-state contract), with the house
  * 4-dp per-step rounding so both engines walk one state sequence.
  * Init contract (deterministic, documented): l₁ = y₁, b₁ = 0,
  * seasonals start at 0 — the first cycle learns them.
  *
  * Scale shape: the monthly series is calendar-bounded per flag, so
  * collect_list is bounded at any corpus size; one shuffle to build the
  * series, all sequential work inside per-group codegen'd folds.
  */
object Extended53 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  /** Smoothing constants (level / trend / seasonal). */
  private val A = "0.3"
  private val B = "0.1"
  private val G = "0.2"

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q296_holt_winters",
      (s, dir) => {
        val monthly = tbl(s, dir, "lineitem")
          .groupBy(col("l_returnflag").as("flag"),
            date_format(col("l_shipdate"), "yyyy-MM").as("m"))
          .agg(sum(R(col("l_extendedprice") * 100.0, 0).cast(DecimalType(18, 0)))
            .cast("double").as("y"))
        val ser = monthly.groupBy(col("flag"))
          .agg(count(lit(1)).as("n_months"),
            sort_array(collect_list(struct(col("m"), col("y")))).as("arr"))
        // sPrev = the seasonal from 12 steps ago (ring head)
        val lStep = rs(
          s"${A}D * (e.y - element_at(acc.s, 1)) + (1.0D - ${A}D) * (acc.l + acc.b)", 4)
        val bStep = rs(s"${B}D * ($lStep - acc.l) + (1.0D - ${B}D) * acc.b", 4)
        val sStep = rs(
          s"${G}D * (e.y - $lStep) + (1.0D - ${G}D) * element_at(acc.s, 1)", 4)
        val fold = expr(
          s"""aggregate(arr,
             |  named_struct(
             |    'l', CAST(0.0 AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
             |    's', array_repeat(CAST(0.0 AS DOUBLE), 12),
             |    'i', CAST(0 AS BIGINT)),
             |  (acc, e) -> named_struct(
             |    'l', CASE WHEN acc.i = 0 THEN e.y ELSE $lStep END,
             |    'b', CASE WHEN acc.i = 0 THEN CAST(0.0 AS DOUBLE) ELSE $bStep END,
             |    's', concat(slice(acc.s, 2, 11), array(
             |      CASE WHEN acc.i = 0
             |        THEN CAST(0.0 AS DOUBLE) ELSE $sStep END)),
             |    'i', acc.i + 1))""".stripMargin)
        // h-step forecast: l + h·b + seasonal from the ring head side
        // (position h of the rotated ring = the cycle slot h months out)
        val st = ser.withColumn("st", fold)
        def fc(h: Int) =
          R(col("st.l") + lit(h.toDouble) * col("st.b") +
            element_at(col("st.s"), h), 4).as(s"fc${h}_r")
        st.select(col("flag"), col("n_months"),
            R(col("st.l"), 4).as("level_r"),
            R(col("st.b"), 4).as("trend_r"),
            fc(1), fc(2), fc(3))
          .orderBy("flag")
      },
      Some {
        val lStep = rs(s"$A * (s.y - h.sr[1]) + (1.0 - $A) * (h.l + h.b)", 4)
        val bStep = rs(s"$B * ($lStep - h.l) + (1.0 - $B) * h.b", 4)
        val sStep = rs(s"$G * (s.y - $lStep) + (1.0 - $G) * h.sr[1]", 4)
        s"""WITH RECURSIVE monthly AS (
           |  SELECT l_returnflag AS flag, strftime(l_shipdate, '%Y-%m') AS m,
           |    CAST(sum(CAST(${rs("l_extendedprice * 100.0", 0)} AS BIGINT)) AS DOUBLE) AS y
           |  FROM lineitem GROUP BY 1, 2),
           |ser AS (
           |  SELECT flag, CAST(row_number() OVER (PARTITION BY flag ORDER BY m) AS BIGINT) AS i, y
           |  FROM monthly),
           |cnt AS (SELECT flag, count(*) AS n_months FROM ser GROUP BY 1),
           |zero AS (SELECT CAST(0.0 AS DOUBLE) AS z),
           |hw AS (
           |  SELECT flag, i, y AS l, CAST(0.0 AS DOUBLE) AS b,
           |    [z, z, z, z, z, z, z, z, z, z, z, z] AS sr
           |  FROM ser CROSS JOIN zero WHERE i = 1
           |  UNION ALL
           |  SELECT s.flag, s.i, $lStep AS l, $bStep AS b,
           |    h.sr[2:12] || [$sStep] AS sr
           |  FROM hw h JOIN ser s ON s.flag = h.flag AND s.i = h.i + 1)
           |SELECT hw.flag, cnt.n_months,
           |  ${rs("l", 4)} AS level_r,
           |  ${rs("b", 4)} AS trend_r,
           |  ${rs("l + 1.0 * b + sr[1]", 4)} AS fc1_r,
           |  ${rs("l + 2.0 * b + sr[2]", 4)} AS fc2_r,
           |  ${rs("l + 3.0 * b + sr[3]", 4)} AS fc3_r
           |FROM hw JOIN cnt ON cnt.flag = hw.flag
           |WHERE hw.i = cnt.n_months
           |ORDER BY hw.flag""".stripMargin
      })
  )
}
