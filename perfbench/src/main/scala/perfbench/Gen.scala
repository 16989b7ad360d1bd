package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Each generator is a pure function of its
  * arguments: the same seed writes the same bytes (BenchSpec checks this).
  */
object Gen {

  // ---------------------------------------------------------------- weather

  /** What the weather generator planted, so output checks need no oracle. */
  final case class WeatherInfo(rows: Long, days: Int, months: Int, bytes: Long)

  private val summaries = Array("Partly Cloudy", "Mostly Cloudy", "Overcast",
    "Clear", "Foggy", "Breezy and Overcast", "Light Rain", "Drizzle")
  private val dailySummaries = Array("Partly cloudy throughout the day.",
    "Mostly cloudy until night.", "Foggy in the morning.",
    "Light rain in the evening.", "Overcast throughout the day.",
    "Clear throughout the day.")
  private val header = "Formatted Date,Summary,Precip Type,Temperature (C)," +
    "Apparent Temperature (C),Humidity,Wind Speed (km/h),Wind Bearing (degrees)," +
    "Visibility (km),Loud Cover,Pressure (millibars),Daily Summary"

  /** Fixed-point decimal with 4 fraction digits; much cheaper than
    * String.format for a few million cells, and locale-free.
    */
  private def fmt(sb: java.lang.StringBuilder, x: Double): Unit = {
    val v = math.round(x * 10000)
    val a = math.abs(v)
    if (v < 0) sb.append('-')
    sb.append(a / 10000).append('.')
    val f = (a % 10000).toInt
    if (f < 1000) sb.append('0')
    if (f < 100) sb.append('0')
    if (f < 10) sb.append('0')
    sb.append(f)
  }

  /** An hourly CSV shaped like the Szeged weatherHistory file, `days` days
    * from 1970-01-01. Planted at fixed rates: out-of-range values in every
    * gated measure, empty (null) numeric cells, null precip types, days
    * whose hourly precip types tie, and repeated hourly records (duplicate
    * dates beyond the 24 hourly rows every day already shares). The first
    * row of every day — the one the pipeline's keep-first dedup keeps —
    * gets a precip type chosen so no month's strict mode ties, since a tie
    * would be a null that the pipeline's validation gate rejects.
    */
  def weatherCsv(path: String, seed: Long, days: Int): WeatherInfo = {
    val rnd = new java.util.SplittableRandom(seed)
    val start = LocalDate.of(1970, 1, 1)
    val firstPrecip = firstRowPrecip(seed, start, days)
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    var rows = 0L
    val months = scala.collection.mutable.HashSet[String]()
    try {
      out.write(header); out.write('\n')
      val sb = new java.lang.StringBuilder(256)
      for (d <- 0 until days) {
        val date = start.plusDays(d)
        months += date.toString.substring(0, 7)
        val m = date.getMonthValue
        val summer = m >= 4 && m <= 10
        val offset = if (summer) "+0200" else "+0100"
        val base = 11.0 - 12.0 * math.cos((date.getDayOfYear - 15) * 2 * math.Pi / 365.0)
        val tiedDay = rnd.nextInt(20) == 0 // hourly precip split 12/12
        for (h <- 0 until 24) {
          sb.setLength(0)
          sb.append(date.toString).append(' ')
          if (h < 10) sb.append('0')
          sb.append(h).append(":00:00.000 ").append(offset).append(',')
          sb.append(summaries(rnd.nextInt(summaries.length))).append(',')
          val precip =
            if (h == 0) firstPrecip(d)
            else if (tiedDay) (if (h % 2 == 0) "rain" else "snow")
            else if (rnd.nextInt(50) == 0) ""
            else if (base + rnd.nextDouble() * 8 - 4 < 2) "snow" else "rain"
          sb.append(precip).append(',')
          val temp = base + 6 * math.sin(h * math.Pi / 12) + rnd.nextGaussian() * 2
          def cell(v: Double, outOfRange: Double): Unit = {
            val r = rnd.nextInt(200)
            if (r == 0) () // empty cell -> null
            else if (r == 1) fmt(sb, outOfRange)
            else fmt(sb, v)
            sb.append(',')
          }
          cell(temp, if (rnd.nextBoolean()) 50.0 else -51.5)
          cell(temp - rnd.nextDouble() * 4, 55.0)
          cell(0.4 + rnd.nextDouble() * 0.6, 1.25)
          cell(rnd.nextDouble() * 40, -3.0)
          cell(rnd.nextInt(360).toDouble, 0.0)
          cell(2 + rnd.nextDouble() * 14, -1.0)
          sb.append("0.0").append(',')
          cell(1000 + rnd.nextGaussian() * 8, 0.0) // Szeged's "0 millibar" rows
          sb.append(dailySummaries(rnd.nextInt(dailySummaries.length))).append('\n')
          val line = sb.toString
          out.write(line); rows += 1
          if (h > 0 && rnd.nextInt(100) == 0) { out.write(line); rows += 1 }
        }
      }
    } finally out.close()
    WeatherInfo(rows, days, months.size, new File(path).length())
  }

  /** Precip type of each day's first (hour 0) row, tie-free per month. */
  private def firstRowPrecip(seed: Long, start: LocalDate, days: Int): Array[String] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val p = Array.tabulate(days) { d =>
      val m = start.plusDays(d).getMonthValue
      val snowy = if (m == 12 || m <= 2) 0.6 else if (m == 3 || m == 11) 0.3 else 0.02
      val r = rnd.nextDouble()
      if (r < 0.05) "" else if (r < 0.05 + snowy) "snow" else "rain"
    }
    (0 until days).groupBy(d => start.plusDays(d).toString.substring(0, 7)).values.foreach { ds =>
      val rain = ds.count(p(_) == "rain")
      val snow = ds.count(p(_) == "snow")
      // break the tie (or give an all-null month a value): one more rain
      if (rain == snow) ds.find(d => p(d) != "rain").foreach(d => p(d) = "rain")
    }
    p
  }

  // ----------------------------------------------------------- star tables

  /** Row counts of the generated star schema (the TESTDATA fixtures' sf0.01
    * shape, generated rather than read so a checkout is self-contained).
    */
  val starRows: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 1500L, "supplier" -> 100L,
    "part" -> 2000L, "orders" -> 15000L, "lineitem" -> 60000L, "events" -> 10000L,
    "embeddings" -> 2000L, "documents" -> 1000L)

  /** Star data is fixed (independent of the run seed) so each query's
    * expected row count and hash can be stored with the benchmark.
    */
  val StarSeed = 42L

  /** Uniform [0, 1) from (id, salt): murmur-free, Spark-native, exact. */
  private def u(salt: Int) =
    (pmod(xxhash64(col("id"), lit(StarSeed), lit(salt)), lit(1000000L)) / 1000000.0)
  private def pick(values: Seq[String], salt: Int) =
    element_at(array(values.map(lit): _*), (floor(u(salt) * values.size) + 1).cast("int"))
  private def uniformInt(lo: Int, hi: Int, salt: Int) =
    (floor(u(salt) * (hi - lo + 1)) + lo)
  private def money(lo: Double, hi: Double, salt: Int) =
    (floor(u(salt) * (hi - lo) * 100) / 100 + lo)
  private def dayTs(from: String, span: Int, salt: Int) =
    date_add(to_date(lit(from)), uniformInt(0, span, salt).cast("int")).cast("timestamp_ntz")

  def starTables(spark: SparkSession): Map[String, DataFrame] = {
    def r(n: String) = spark.range(starRows(n))
    val adjectives = Seq("blue", "hot", "small", "old", "red", "new", "cold", "large")
    val nouns = Seq("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")
    Map(
      "region" -> r("region").select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> r("nation").select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> r("customer").select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        uniformInt(0, 24, 1).cast("int").as("c_nationkey"), money(-999.99, 9999.99, 2).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3).as("c_mktsegment")),
      "supplier" -> r("supplier").select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        uniformInt(0, 24, 4).cast("int").as("s_nationkey"), money(-999.99, 9999.99, 5).as("s_acctbal")),
      "part" -> r("part").select(col("id").as("p_partkey"),
        concat_ws(" ", pick(adjectives, 6), pick(nouns, 7)).as("p_name"),
        concat(lit("Brand#"), uniformInt(1, 25, 8)).as("p_brand"),
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), 9).as("p_type"),
        uniformInt(1, 50, 10).cast("int").as("p_size"),
        (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")),
      "orders" -> r("orders").select(col("id").as("o_orderkey"),
        uniformInt(0, 1499, 11).cast("long").as("o_custkey"),
        pick(Seq("F", "O", "P"), 12).as("o_orderstatus"), money(1000, 500000, 13).as("o_totalprice"),
        dayTs("1995-01-01", 2404, 14).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15).as("o_orderpriority")),
      "lineitem" -> r("lineitem").select(uniformInt(0, 14999, 16).cast("long").as("l_orderkey"),
        uniformInt(0, 1999, 17).cast("long").as("l_partkey"),
        uniformInt(0, 99, 18).cast("long").as("l_suppkey"),
        uniformInt(1, 7, 19).cast("int").as("l_linenumber"),
        uniformInt(1, 50, 20).cast("double").as("l_quantity"),
        money(900, 105000, 21).as("l_extendedprice"),
        (uniformInt(0, 10, 22) / 100.0).as("l_discount"), (uniformInt(0, 8, 23) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), 24).as("l_returnflag"), pick(Seq("F", "O"), 25).as("l_linestatus"),
        dayTs("1995-01-02", 2497, 26).as("l_shipdate")),
      "events" -> r("events").select(col("id").as("event_id"),
        // 2024-01-01 UTC plus ~259 s per event, jittered within the slot
        timestamp_micros(lit(1704067200000000L) + col("id") * 259000000L +
          pmod(xxhash64(col("id"), lit(StarSeed), lit(27)), lit(259000000L)))
          .cast("timestamp_ntz").as("ts"),
        uniformInt(0, 149, 28).cast("long").as("user_id"),
        pick(Seq("click", "error", "purchase", "signup", "view"), 29).as("event_type"),
        (round(-log(lit(1.0) - u(30) * 0.99999) * 50, 2) + 0.01).as("value"),
        format_string("{\"k\": %d}", uniformInt(0, 99, 31).cast("int")).as("props")))
  }

  /** Embedding and document tables beside the star schema (the TESTDATA
    * fixture's `embeddings` and `documents`): a clustered corpus, so IVF
    * recall measures the index, and documents with planted duplicates.
    */
  def starEmbeddings: Long = starRows("embeddings")
  def starDocuments: Int = starRows("documents").toInt

  /** Write every star table as `<dir>/<name>.parquet` (the layout
    * `graft.Tables.load` reads).
    */
  def writeStar(spark: SparkSession, dir: String): Unit = {
    starTables(spark).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    graft.GenClustered.run(spark, dir, starEmbeddings,
      graft.ext.Similarity.sqrtStride(starEmbeddings), 64, 0.05, StarSeed, 0L)
    import spark.implicits._
    documents(StarSeed, starDocuments)._1
      .map { case (id, text) => (id, text, "en", s"src${id % 20}", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  // ------------------------------------------------------------- documents

  /** What the document generator planted: `exactPairs` byte-identical
    * copies and `nearPairs` copies with one word replaced (shingle Jaccard
    * well above 0.5); every other document is drawn independently.
    */
  final case class DocsInfo(docs: Int, distinctTexts: Int, exactPairs: Int, nearPairs: Int,
      planted: Set[(Long, Long)])

  private val vocab: Array[String] = {
    val syll = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "gu", "da", "zo")
    (for (a <- syll; b <- syll; c <- syll) yield a + b + c)
  }

  /** `docs` documents of 40–80 words; returns the rows and what was planted. */
  def documents(seed: Long, docs: Int): (Seq[(Long, String)], DocsInfo) = {
    val rnd = new java.util.SplittableRandom(seed)
    def fresh(): Array[String] = Array.fill(40 + rnd.nextInt(41))(vocab(rnd.nextInt(vocab.length)))
    val out = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var exact = 0
    var near = 0
    val planted = Set.newBuilder[(Long, Long)]
    def copyOf(words: Array[String]): Unit = {
      planted += ((out.size - 1L, out.size.toLong))
      out += ((out.size.toLong, words.mkString(" ")))
    }
    while (out.size < docs) {
      val words = fresh()
      out += ((out.size.toLong, words.mkString(" ")))
      val kind = rnd.nextInt(10)
      if (out.size < docs && kind == 0) {
        copyOf(words); exact += 1
      } else if (out.size < docs && kind == 1) {
        val copy = words.clone()
        copy(rnd.nextInt(copy.length)) = "x" + vocab(rnd.nextInt(vocab.length))
        copyOf(copy); near += 1
      }
    }
    (out.toSeq, DocsInfo(out.size, out.size - exact, exact, near, planted.result()))
  }
}
