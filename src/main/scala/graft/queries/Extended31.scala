package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Num
import QueryDef.tbl

/** Round-9 fourth batch: corpus-law fitting (Zipf rank-frequency slope —
  * the sanity screen that catches synthetic or template-heavy text),
  * sequential-recurrence smoothing (Holt level+trend — a fold no window
  * frame can express, done as a codegen'd HOF over calendar-bounded
  * per-entity series with a WITH RECURSIVE oracle), and ranking-quality
  * evaluation (NDCG@10 — the retrieval metric; q193's AUC grades a
  * global classifier, this grades per-group orderings).
  */
object Extended31 {

  private def R(c: Column, n: Int) = Num.roundTo(c, n)
  private def rs(e: String, n: Int) = Num.roundSql(e, n)

  val all: Seq[QueryDef] = Seq(

    // ----- q229: Zipf rank-frequency power-law fit ----------------------
    // Fit ln(freq) = a + s·ln(rank) over the top-200 tokens: natural
    // corpora land near s ≈ −1 with high R²; template-generated or
    // deduplicate-starved corpora bend the curve — a one-row corpus
    // health screen next to q224's diversity indices. Exactness: token
    // counts are integers; ln terms accumulate as ROUNDED DECIMALs over
    // the bounded 200-row head; the closed form reuses q228's pinned
    // double hand-off. Shape: explode → vocab hash agg → TOP-K via
    // orderBy+limit (TakeOrderedAndProject — never a global sort of the
    // vocabulary) → 200-row moment agg; corpus scalars ride one
    // broadcast crossJoin.
    QueryDef(
      "q229_zipf_fit",
      (s, dir) => {
        val toks = tbl(s, dir, "documents")
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
          .filter(col("tok") =!= "")
        val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val scalars = vocab.agg(count(lit(1)).as("vocab_size"),
          sum(col("c")).as("n_tokens"))
        val top = vocab.orderBy(col("c").desc, col("tok").asc).limit(200)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("c").desc, col("tok").asc)).cast("long"))
        val dec = DecimalType(28, 12)
        val x = log(col("rank").cast("double"))
        val y = log(col("c").cast("double"))
        val m = top.agg(count(lit(1)).as("n_top"),
          sum(R(x, 12).cast(dec)).cast("double").as("sx"),
          sum(R(y, 12).cast(dec)).cast("double").as("sy"),
          sum(R(x * x, 12).cast(dec)).cast("double").as("sxx"),
          sum(R(x * y, 12).cast(dec)).cast("double").as("sxy"),
          sum(R(y * y, 12).cast(dec)).cast("double").as("syy"),
          sum(col("c")).as("head_tokens"))
        val nD = col("n_top").cast("double")
        val bsxx = nD * col("sxx") - col("sx") * col("sx")
        val bsxy = nD * col("sxy") - col("sx") * col("sy")
        val bsyy = nD * col("syy") - col("sy") * col("sy")
        val slope = bsxy / bsxx
        m.crossJoin(broadcast(scalars))
          .select(col("vocab_size"), col("n_tokens"), col("n_top"),
            R(slope, 6).as("slope_r"),
            R((col("sy") - slope * col("sx")) / nD, 6).as("intercept_r"),
            R(bsxy * bsxy / (bsxx * bsyy), 6).as("r2_r"),
            R(col("head_tokens").cast("double") / col("n_tokens").cast("double"), 6)
              .as("head_share_r"))
      },
      Some(s"""WITH toks AS (
              |  SELECT t.tok FROM documents,
              |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(tok)
              |  WHERE t.tok <> ''),
              |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
              |scalars AS (SELECT count(*) AS vocab_size,
              |  CAST(sum(c) AS BIGINT) AS n_tokens FROM vocab),
              |top AS (SELECT * FROM vocab ORDER BY c DESC, tok ASC LIMIT 200),
              |ranked AS (
              |  SELECT c, CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS BIGINT) AS rank
              |  FROM top),
              |m AS (
              |  SELECT count(*) AS n_top,
              |    CAST(sum(CAST(${rs("ln(CAST(rank AS DOUBLE))", 12)} AS DECIMAL(28,12))) AS DOUBLE) AS sx,
              |    CAST(sum(CAST(${rs("ln(CAST(c AS DOUBLE))", 12)} AS DECIMAL(28,12))) AS DOUBLE) AS sy,
              |    CAST(sum(CAST(${rs("ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))", 12)} AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
              |    CAST(sum(CAST(${rs("ln(CAST(rank AS DOUBLE)) * ln(CAST(c AS DOUBLE))", 12)} AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
              |    CAST(sum(CAST(${rs("ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE))", 12)} AS DECIMAL(28,12))) AS DOUBLE) AS syy,
              |    CAST(sum(c) AS BIGINT) AS head_tokens
              |  FROM ranked),
              |c AS (
              |  SELECT *,
              |    CAST(n_top AS DOUBLE) * sxx - sx * sx AS bsxx,
              |    CAST(n_top AS DOUBLE) * sxy - sx * sy AS bsxy,
              |    CAST(n_top AS DOUBLE) * syy - sy * sy AS bsyy
              |  FROM m)
              |SELECT vocab_size, n_tokens, n_top,
              |  ${rs("bsxy / bsxx", 6)} AS slope_r,
              |  ${rs("(sy - (bsxy / bsxx) * sx) / CAST(n_top AS DOUBLE)", 6)} AS intercept_r,
              |  ${rs("bsxy * bsxy / (bsxx * bsyy)", 6)} AS r2_r,
              |  ${rs("CAST(head_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)} AS head_share_r
              |FROM c CROSS JOIN scalars""".stripMargin)),

    // ----- q230: Holt double exponential smoothing ----------------------
    // Level+trend smoothing of the monthly revenue series per return
    // flag, plus a 3-month forecast — the recurrence l_t = αy + (1−α)
    // (l+b), b_t = β(l_t−l) + (1−β)b that NO window frame expresses
    // (every state depends on the full prefix). Spark shape: the
    // recurrence is a codegen'd `aggregate` HOF fold over the
    // calendar-bounded per-entity series (collect_list is bounded by
    // months-per-entity, never by data size); the oracle walks the same
    // sequence with WITH RECURSIVE. Determinism: y is an exact integer
    // cent sum cast once to double; every recurrence step ROUNDS to 4
    // decimals on both engines (the house iterative-float contract), so
    // the state walks are bit-identical. Init: l₁ = y₁, b₁ = 0.
    QueryDef(
      "q230_holt_smoothing",
      (s, dir) => {
        val monthly = tbl(s, dir, "lineitem")
          .groupBy(col("l_returnflag").as("flag"),
            date_format(col("l_shipdate"), "yyyy-MM").as("m"))
          .agg(sum(R(col("l_extendedprice") * 100.0, 0).cast(DecimalType(18, 0)))
            .cast("double").as("y"))
        val ser = monthly.groupBy(col("flag"))
          .agg(count(lit(1)).as("n_months"),
            sort_array(collect_list(struct(col("m"), col("y")))).as("arr"))
        val lStep = rs("0.3D * e.y + 0.7D * (acc.l + acc.b)", 4)
        val bStep = rs(s"0.1D * ($lStep - acc.l) + 0.9D * acc.b", 4)
        val fold = expr(
          s"""aggregate(arr,
             |  named_struct('l', CAST(0.0 AS DOUBLE), 'b', CAST(0.0 AS DOUBLE), 'i', CAST(0 AS BIGINT)),
             |  (acc, e) -> named_struct(
             |    'l', CASE WHEN acc.i = 0 THEN e.y ELSE $lStep END,
             |    'b', CASE WHEN acc.i = 0 THEN CAST(0.0 AS DOUBLE) ELSE $bStep END,
             |    'i', acc.i + 1))""".stripMargin)
        ser.withColumn("st", fold)
          .select(col("flag"), col("n_months"),
            R(col("st.l"), 4).as("level_r"),
            R(col("st.b"), 4).as("trend_r"),
            R(col("st.l") + lit(1.0) * col("st.b"), 4).as("fc1_r"),
            R(col("st.l") + lit(2.0) * col("st.b"), 4).as("fc2_r"),
            R(col("st.l") + lit(3.0) * col("st.b"), 4).as("fc3_r"))
          .orderBy("flag")
      },
      Some {
        val lStep = rs("0.3 * s.y + 0.7 * (h.l + h.b)", 4)
        val bStep = rs(s"0.1 * ($lStep - h.l) + 0.9 * h.b", 4)
        s"""WITH RECURSIVE monthly AS (
           |  SELECT l_returnflag AS flag, strftime(l_shipdate, '%Y-%m') AS m,
           |    CAST(sum(CAST(${rs("l_extendedprice * 100.0", 0)} AS BIGINT)) AS DOUBLE) AS y
           |  FROM lineitem GROUP BY 1, 2),
           |ser AS (
           |  SELECT flag, CAST(row_number() OVER (PARTITION BY flag ORDER BY m) AS BIGINT) AS i, y
           |  FROM monthly),
           |cnt AS (SELECT flag, count(*) AS n_months FROM ser GROUP BY 1),
           |hw AS (
           |  SELECT flag, i, y AS l, CAST(0.0 AS DOUBLE) AS b FROM ser WHERE i = 1
           |  UNION ALL
           |  SELECT s.flag, s.i, $lStep AS l, $bStep AS b
           |  FROM hw h JOIN ser s ON s.flag = h.flag AND s.i = h.i + 1)
           |SELECT hw.flag, cnt.n_months,
           |  ${rs("l", 4)} AS level_r,
           |  ${rs("b", 4)} AS trend_r,
           |  ${rs("l + 1.0 * b", 4)} AS fc1_r,
           |  ${rs("l + 2.0 * b", 4)} AS fc2_r,
           |  ${rs("l + 3.0 * b", 4)} AS fc3_r
           |FROM hw JOIN cnt ON cnt.flag = hw.flag
           |WHERE hw.i = cnt.n_months
           |ORDER BY hw.flag""".stripMargin
      }),

    // ----- q231: NDCG@10 ranking evaluation -----------------------------
    // Grade the catalog's price-derived ranking against demand: within
    // each brand, "predicted" order = retail price descending,
    // relevance = observed order count per part; NDCG@10 = DCG of the
    // predicted top-10 over the ideal (relevance-sorted) top-10. The
    // per-group ranking-quality readout a recommender eval needs where
    // q193's AUC only grades one global score. Exactness: relevance is
    // an exact integer; each 1/log2(i+1) discount is one shared ln
    // shape; DCG sums accumulate ROUNDED-term DECIMALs over ≤10 rows;
    // one final division. Shape: aggregate-before-join (lineitem →
    // part-sized count relation), then each DCG arm is a `row_number ≤
    // 10` rank-prune — Spark plans a WindowGroupLimit, so the per-brand
    // window never sees more than ~10 rows per map task (the catalog is
    // data-sized in TPC-H: windowing it whole would put every brand's
    // full part list through one task) — and a ≤10-row-per-brand DECIMAL
    // sum; the event data is never windowed at all.
    QueryDef(
      "q231_ndcg",
      (s, dir) => {
        val rel = tbl(s, dir, "lineitem")
          .groupBy(col("l_partkey")).agg(count(lit(1)).as("rel"))
        val parts = tbl(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
          .join(rel, col("p_partkey") === col("l_partkey"), "left")
          .select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
            coalesce(col("rel"), lit(0L)).as("rel"))
        val byBrand = Window.partitionBy(col("p_brand"))
        val dec = DecimalType(28, 10)
        def gain(rank: Column) =
          col("rel").cast("double") / (log(rank.cast("double") + lit(1.0)) / log(lit(2.0)))
        // rank → filter ≤ 10 → aggregate: the WindowGroupLimit pattern
        def dcgArm(ord: Seq[Column], out: String) =
          parts.withColumn("__r", row_number().over(byBrand.orderBy(ord: _*)).cast("long"))
            .filter(col("__r") <= 10)
            .groupBy(col("p_brand").as("brand"))
            .agg(sum(R(gain(col("__r")), 10).cast(dec)).cast("double").as(out))
        val nParts = parts.groupBy(col("p_brand").as("brand"))
          .agg(count(lit(1)).as("n_parts"))
        val agg = nParts
          .join(dcgArm(Seq(col("p_retailprice").desc, col("p_partkey").asc), "dcg"), Seq("brand"))
          .join(dcgArm(Seq(col("rel").desc, col("p_partkey").asc), "idcg"), Seq("brand"))
        agg.select(col("brand"), col("n_parts"),
            R(col("dcg"), 6).as("dcg_r"),
            R(col("idcg"), 6).as("idcg_r"),
            when(col("idcg") > 0, R(col("dcg") / col("idcg"), 6)).otherwise(lit(null))
              .as("ndcg_r"))
          .orderBy("brand")
      },
      Some(s"""WITH rel AS (
              |  SELECT l_partkey, count(*) AS rel FROM lineitem GROUP BY 1),
              |parts AS (
              |  SELECT p_partkey, p_brand, p_retailprice,
              |    CAST(COALESCE(rel, 0) AS BIGINT) AS rel
              |  FROM part LEFT JOIN rel ON p_partkey = l_partkey),
              |ranked AS (
              |  SELECT *,
              |    CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS BIGINT) AS pr,
              |    CAST(row_number() OVER (PARTITION BY p_brand ORDER BY rel DESC, p_partkey ASC) AS BIGINT) AS ir
              |  FROM parts),
              |agg AS (
              |  SELECT p_brand AS brand, count(*) AS n_parts,
              |    CAST(sum(CASE WHEN pr <= 10 THEN CAST(${rs("CAST(rel AS DOUBLE) / (ln(CAST(pr AS DOUBLE) + 1.0) / ln(2.0))", 10)} AS DECIMAL(28,10)) ELSE CAST(0.0 AS DECIMAL(28,10)) END) AS DOUBLE) AS dcg,
              |    CAST(sum(CASE WHEN ir <= 10 THEN CAST(${rs("CAST(rel AS DOUBLE) / (ln(CAST(ir AS DOUBLE) + 1.0) / ln(2.0))", 10)} AS DECIMAL(28,10)) ELSE CAST(0.0 AS DECIMAL(28,10)) END) AS DOUBLE) AS idcg
              |  FROM ranked GROUP BY 1)
              |SELECT brand, n_parts,
              |  ${rs("dcg", 6)} AS dcg_r,
              |  ${rs("idcg", 6)} AS idcg_r,
              |  CASE WHEN idcg > 0 THEN ${rs("dcg / idcg", 6)} ELSE NULL END AS ndcg_r
              |FROM agg ORDER BY brand""".stripMargin))
  )
}
