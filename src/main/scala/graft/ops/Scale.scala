package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew and co-location tools for the 100 TB path.
  *
  * AQE's skew-join handling (on by default) splits oversized post-shuffle
  * partitions, which covers most skew. These helpers cover the cases AQE
  * cannot: aggregation skew (one hot key overwhelms a single reducer even
  * after splitting, because all its rows must still meet) and join skew
  * where the small side can be replicated.
  */
object Scale {

  /** Salted join for a skewed equi-join key: the large side gets a
    * CONTENT-derived salt in [0, n) (hash of the whole row — stable
    * under task retries and shuffle recomputation, where position-based
    * ids or rand() silently drop/duplicate rows), the small side is
    * replicated n× with every salt value, and the join key becomes
    * (key, salt). Result is row-identical to the plain join; the hot
    * key's rows spread over n reducers at the cost of an n× blow-up of
    * the (small) build side.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String, n: Int): DataFrame = {
    val salted = large.withColumn(
      "__salt", pmod(xxhash64(large.columns.map(col).toSeq: _*), lit(n)))
    val replicated = small.withColumn("__salt", explode(sequence(lit(0L), lit(n - 1L))))
    salted
      .join(replicated, Seq(key, "__salt"))
      .drop("__salt")
  }

  /** Two-phase aggregation for skewed group keys: partial-aggregate on
    * (key, salt), then final-aggregate on key. Expressed for the
    * decomposable aggregates the reference uses (count/sum/avg — avg is
    * carried as sum+count). Spark already does map-side partial agg; the
    * extra salted reduce phase bounds the per-reducer row count for hot
    * keys at the cost of one more (much smaller) shuffle.
    */
  def saltedMeans(df: DataFrame, key: String, valueCol: String, n: Int): DataFrame = {
    val salted = df.withColumn("__salt", pmod(xxhash64(col(key), col(valueCol)), lit(n)))
    salted
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__s"), count(col(valueCol)).as("__c"))
      .groupBy(col(key))
      .agg((sum(col("__s")) / sum(col("__c"))).as(s"avg_$valueCol"))
  }

  /** Bloom-prefiltered semi join: build a Bloom filter over the (small)
    * key side, and discard non-matching large-side rows BEFORE the
    * shuffle — the manual form of Spark's runtime row-level filtering,
    * exposed as an operator so pipelines can persist/reuse the filter
    * across runs. False positives survive the prefilter, so the exact
    * semi join behind it keeps the result identical to a plain semi join
    * (q74's oracle IS the plain join); the win at scale is the shuffle
    * shrinking to ~selectivity × |large| + fpp stragglers.
    *
    * The probe uses Spark's native `BloomFilterMightContain` expression
    * (the same one AQE's runtime filtering injects) over a foldable
    * filter literal, NOT a Scala UDF — the prefilter stage stays inside
    * whole-stage codegen instead of crossing a per-row black box. Both
    * sides key on xxhash64(key), the aggregate's required Long input.
    */
  def bloomSemiJoin(
      large: DataFrame, keys: DataFrame, keyCol: String,
      expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    val spark = large.sparkSession
    registerBloom(spark)
    // Sizing must track the ACTUAL key cardinality: a fixed guess that
    // undershoots degrades fpp toward 1 silently — the filter still
    // "works" but stops discarding anything, so the prefilter stage is
    // pure cost and the full shuffle comes back. Default (-1) measures
    // the key side with one approx_count_distinct pass (the key side is
    // the small side by contract; one extra scalar agg over it is noise
    // next to the large-side scan it saves) + 10% headroom for the
    // sketch's ~2% rsd. An explicit expectedItems skips the pass for
    // callers that persist/reuse the filter across runs.
    val bf = buildBloom(keys, keyCol, expectedItems, fpp)
    val prefiltered = bf match {
      case None => large // empty key side: exact semi join yields empty
      case Some(bytes) => large.filter(call_function("graft_might_contain",
        lit(bytes), xxhash64(col(keyCol))))
    }
    prefiltered.join(keys.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
  }

  /** The filter-build half of [[bloomSemiJoin]], exposed so sizing is
    * testable (ScaleSpec probes the returned filter with disjoint keys
    * to verify the measured false-positive rate honors `fpp`) and so
    * pipelines can persist the bytes across runs. Returns None on an
    * empty key side (the aggregate yields NULL).
    */
  private[graft] def buildBloom(
      keys: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double): Option[Array[Byte]] = {
    registerBloom(keys.sparkSession)
    val sizedItems =
      if (expectedItems > 0) expectedItems
      else math.max(1L, math.ceil(1.1 * keys
        .select(approx_count_distinct(col(keyCol)).as("n"))
        .head().getLong(0)).toLong)
    // standard sizing: m = -n·ln(p) / ln(2)²
    val numBits = math.ceil(
      -sizedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    // BloomFilterAggregate silently CLAMPS its inputs to the session caps
    // (defaults: 4M items / 64M bits) — under the defaults a 10M-key
    // build measured fpp 0.11 against a requested 0.01. Raise the caps
    // to cover the derived sizing so the requested fpp actually holds.
    val conf = keys.sparkSession.conf
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    // raise the caps only for the duration of THIS build and restore
    // after (ADVICE r10: a permanent ratchet leaked into Spark's own
    // injected runtime bloom filters for every later query in the
    // session). Concurrent builds in one session would race on the conf;
    // batch pipelines build filters sequentially — documented contract.
    val (priorItems, priorBits) = (conf.get(itemsKey), conf.get(bitsKey))
    if (priorItems.toLong < sizedItems) conf.set(itemsKey, sizedItems)
    if (priorBits.toLong < numBits) conf.set(bitsKey, numBits)
    try {
      // one-row scalar aggregate (documented driver-side .head() pattern)
      val bfRow = keys
        .select(call_function("graft_bloom_agg",
          xxhash64(col(keyCol)), lit(sizedItems), lit(numBits)).as("bf"))
        .head()
      if (bfRow.isNullAt(0)) None else Some(bfRow.getAs[Array[Byte]](0))
    } finally {
      conf.set(itemsKey, priorItems)
      conf.set(bitsKey, priorBits)
    }
  }

  /** Probe column for a [[buildBloom]] filter (test/diagnostic surface). */
  private[graft] def mightContain(
      spark: org.apache.spark.sql.SparkSession,
      bytes: Array[Byte], key: Column): Column = {
    registerBloom(spark)
    call_function("graft_might_contain", lit(bytes), xxhash64(key))
  }

  /** Idempotent per-session registration of Spark's built-in (but not
    * SQL-registered) bloom expressions, the Catalyst pair behind runtime
    * row-level filtering.
    */
  private def registerBloom(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_agg",
      exprs => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        exprs(0), exprs(1), exprs(2)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_might_contain",
      exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs(0), exprs(1)),
      "built-in")
  }

  /** Bucketed co-located sink: both sides of a recurring join written
    * with the same bucketing spec join WITHOUT a shuffle (Exchange) —
    * the scan satisfies the join's distribution requirement. This is the
    * pre-partitioning answer for joins that repeat every pipeline run.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String], nBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
