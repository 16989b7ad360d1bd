package graft.pipeline

import graft.SparkSuite
import graft.ops.Validate
import org.apache.spark.sql.functions._
import java.sql.Date
import scala.jdk.CollectionConverters._

class WeatherSpec extends SparkSuite {

  private lazy val src = Weather.read(spark, resource("weatherHistory.csv"))

  test("clean: %z wall-clock date, gates, medians-after-gate, keep-first dedup") {
    val cleaned = Weather.clean(src).orderBy("Formatted Date").collect()
    // 7 hourly rows over 4 distinct dates → dedup keeps first per date
    assert(cleaned.length == 4)
    val d1 = cleaned(0)
    assert(d1.getAs[Date]("Formatted Date") == Date.valueOf("2020-01-01"))
    // first row of day 1 survives (file order): temp 10.0
    assert(d1.getAs[Double]("Temperature (C)") == 10.0)
    // Month derived before dedup, yyyy-MM string
    assert(cleaned(2).getAs[String]("Month") == "2020-02")
  }

  test("median imputation fills gated-out values from in-range medians") {
    val noDedup = Weather.clean(src, Weather.Conf(dedupKeyFirst = false))
    // row 3 had Temperature 60.0 (out of open (-50,50) → null) and Wind
    // -5.0 (out of [0,408] → null); row 5 temp was empty.
    // in-range temps {10,20,0,5,6} median=6; winds {10,20,3,4,50,60} median=15
    val r3 = noDedup.filter(col("Summary") === "Sunny" && col("Apparent Temperature (C)") === 8.0).head()
    assert(r3.getAs[Double]("Temperature (C)") == 6.0)
    assert(r3.getAs[Double]("Wind Speed (km/h)") == 15.0)
  }

  test("daily transform (v1 multi-row semantics): true means + deterministic wind mode") {
    val cleaned = Weather.clean(src, Weather.Conf(dedupKeyFirst = false))
    val d1 = Weather.daily(cleaned).head()
    // day1 temps after cleaning: 10, 20, 6 (imputed) → mean 12
    assert(math.abs(d1.getAs[Double]("daily_avg_temperature") - 12.0) < 1e-12)
    // winds 10→Light Air, 20→Gentle Breeze, 15(imputed)→Light Breeze:
    // all tie at count 1 → smallest label wins (pandas mode()[0])
    assert(d1.getAs[String]("wind_strength") == "Gentle Breeze")
  }

  test("monthly strict precip mode: clear winner in Jan, tie → null in Feb") {
    val cleaned = Weather.clean(src, Weather.Conf(dedupKeyFirst = false))
    val m = Weather.monthly(cleaned).collect()
      .map(r => r.getAs[String]("Month") -> Option(r.getAs[String]("mode_precipitation_type")))
      .toMap
    assert(m("2020-01") == Some("rain")) // rain 3, snow 1
    assert(m("2020-02") == None) // rain 1, snow 1 → tie
  }

  test("v5 dedup quirk preserved: daily means average exactly one row per day") {
    val cleaned = Weather.clean(src) // default: keep-first dedup
    val d1 = Weather.daily(cleaned).head()
    assert(d1.getAs[Double]("daily_avg_temperature") == 10.0) // just the first row
  }

  test("golden full-frame parity (v5 semantics, hand-derived)") {
    // medians over gated values of ALL 7 source rows: temps in-range
    // {10,20,0,5,6} → 6; winds {3,4,10,20,50,60} → 15 (interpolated)
    val cleaned = Weather.clean(src)
    val daily = Weather.daily(cleaned).collect().map(r =>
      (r.getDate(0).toString, r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getString(7)))
    // v5 dedup keeps the first hourly row per day; daily "averages" are
    // that single row's (imputed) values
    assert(daily.toSeq == Seq(
      ("2020-01-01", 10.0, 9.0, 0.5, 10.0, 10.0, 1000.0, "Light Air"),
      ("2020-01-02", 0.0, -1.0, 0.9, 3.0, 5.0, 995.0, "Calm"),
      ("2020-02-01", 5.0, 4.0, 0.6, 50.0, 9.0, 1020.0, "Strong Breeze"), // 13.89 m/s > 13.8
      ("2020-02-02", 6.0, 5.0, 0.65, 60.0, 9.5, 1021.0, "Strong Breeze")))
    val monthly = Weather.monthly(cleaned).collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), Option(r.getString(6))))
    assert(monthly.toSeq == Seq(
      ("2020-01", 5.0, 4.0, 0.7, 7.5, 997.5, Some("rain")),
      ("2020-02", 5.5, 4.5, 0.625, 9.25, 1020.5, None))) // Feb tie → null
  }

  test("validation gate blocks the sink on the Feb precip tie (all_success semantics)") {
    val out = java.nio.file.Files.createTempDirectory("weather_blocked").toString
    val e = intercept[Validate.ValidationException] {
      Weather.run(spark, resource("weatherHistory.csv"), out)
    }
    assert(e.failed.exists(_.name == "not_null(mode_precipitation_type)"))
    // nothing published, no staging directory left behind
    assert(entries(out).isEmpty)
  }

  test("end-to-end run on valid data writes renamed sink tables") {
    val out = java.nio.file.Files.createTempDirectory("weather_out").toString
    val (d, m) = Weather.run(spark, resource("weatherHistory_valid.csv"), out)
    assert(d.columns.contains("Average Temperature (C)") && d.columns.contains("Wind Strength"))
    assert(m.columns.contains("Mode Precipitation Type"))
    assert(spark.read.parquet(s"$out/daily_weather").count() == 2)
    assert(spark.read.parquet(s"$out/monthly_weather").count() == 1)
  }

  test("one-aggregate modes equal the relational modes: ties, all-NULL group, NULLs mixed in") {
    import spark.implicits._
    // wind km/h: 10 → Light Air, 20 → Gentle Breeze, 3 → Calm
    val rows = Seq[(String, String, java.lang.Double, String)](
      ("2020-01-01", "2020-01", 10.0, "rain"), ("2020-01-01", "2020-01", 20.0, "snow"), // wind tie
      ("2020-01-02", "2020-01", null, "rain"), ("2020-01-02", "2020-01", null, null), // all-NULL wind
      ("2020-01-03", "2020-01", null, "rain"), ("2020-01-03", "2020-01", null, "rain"),
      ("2020-01-03", "2020-01", null, null), ("2020-01-03", "2020-01", 3.0, null), // NULLs outnumber Calm
      ("2020-02-01", "2020-02", 3.0, "rain"), ("2020-02-01", "2020-02", 3.0, "snow"), // precip tie
      ("2020-03-01", "2020-03", 3.0, null), ("2020-03-01", "2020-03", 3.0, null),
      ("2020-03-01", "2020-03", 3.0, "snow"), // NULLs outnumber snow
      ("2020-04-01", "2020-04", 3.0, null), ("2020-04-01", "2020-04", 3.0, null)) // all-NULL precip
    val cleaned = rows.toDF("Formatted Date", "Month", "Wind Speed (km/h)", "Precip Type")
      .withColumn("Formatted Date", to_date(col("Formatted Date")))
      .select(col("*") +: Seq("Temperature (C)", "Apparent Temperature (C)", "Humidity",
        "Visibility (km)", "Pressure (millibars)").map(lit(1.0).as(_)): _*)
    def modes(df: org.apache.spark.sql.DataFrame, key: String, out: String) =
      df.select(col(key).cast("string"), col(out)).collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    // the relational forms drop an all-NULL group; left-joined to every key it reads NULL
    def relational(rel: org.apache.spark.sql.DataFrame, key: String, out: String) =
      modes(cleaned.select(key).distinct().join(rel, Seq(key), "left"), key, out)
    val wind = modes(Weather.daily(cleaned), "Formatted Date", "wind_strength")
    assert(wind == Map("2020-01-01" -> Some("Gentle Breeze"), "2020-01-02" -> None,
      "2020-01-03" -> Some("Calm"), "2020-02-01" -> Some("Calm"), "2020-03-01" -> Some("Calm"),
      "2020-04-01" -> Some("Calm")))
    assert(wind == relational(graft.ops.Aggregates.modeDeterministic(
      cleaned.withColumn("w", graft.ops.Classify.classifyWind(col("Wind Speed (km/h)"))),
      Seq("Formatted Date"), "w", "wind_strength"), "Formatted Date", "wind_strength"))
    val precip = modes(Weather.monthly(cleaned), "Month", "mode_precipitation_type")
    assert(precip == Map("2020-01" -> Some("rain"), "2020-02" -> None, "2020-03" -> Some("snow"),
      "2020-04" -> None))
    assert(precip == relational(graft.ops.Aggregates.modeStrict(
      cleaned, Seq("Month"), "Precip Type", "mode_precipitation_type"), "Month", "mode_precipitation_type"))
  }

  private val tables = Seq("daily_weather", "monthly_weather", "weather_history")

  test("a failed run leaves the previous run's tables as they were") {
    val out = java.nio.file.Files.createTempDirectory("weather_atomic").toString
    val conf = Weather.Conf(writeHistory = true)
    Weather.run(spark, resource("weatherHistory_valid.csv"), out, conf)
    assert(entries(out) == tables.sorted)
    val before = snapshot(out)
    intercept[Validate.ValidationException] {
      Weather.run(spark, resource("weatherHistory.csv"), out, conf)
    }
    assert(snapshot(out) == before)
    assert(entries(out) == tables.sorted) // no staging directory left
  }

  test("a write failure between staged writes leaves the previous tables intact") {
    val out = java.nio.file.Files.createTempDirectory("weather_write_fail").toString
    Weather.run(spark, resource("weatherHistory_valid.csv"), out, Weather.Conf(writeHistory = true))
    val before = snapshot(out)
    val cleaned = Weather.clean(Weather.read(spark, resource("weatherHistory_valid.csv")))
    val failing = spark.range(3).select(
      when(col("id") === 2, raise_error(lit("injected write failure"))).otherwise(col("id")).as("id"))
    val e = intercept[Exception] {
      graft.ops.Sinks.publishParquet(out, Seq(
        "daily_weather" -> graft.ops.Sinks.renamed(Weather.daily(cleaned), Weather.dailyRenames),
        "monthly_weather" -> failing,
        "weather_history" -> cleaned)) { () => fail("accept must not run after a failed write") }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected write failure")))
    assert(snapshot(out) == before)
    assert(entries(out) == tables.sorted)
  }

  test("a malformed numeric cell fails the run instead of being imputed over") {
    val csv = java.nio.file.Files.createTempFile("weather_malformed", ".csv")
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(resource("weatherHistory_valid.csv"))).asScala.toVector
    // day two's first row: temperature 0.0 → abc
    java.nio.file.Files.write(csv, lines.updated(4, lines(4).replace(",0.0,-1.0,", ",abc,-1.0,"))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val out = java.nio.file.Files.createTempDirectory("weather_malformed_out").toString
    val e = intercept[Validate.ValidationException] {
      Weather.run(spark, csv.toString, out)
    }
    assert(e.failed.map(_.violations) == Seq(1L))
    assert(e.getMessage.contains("(1 rows)"))
    assert(entries(out).isEmpty)
  }

  test("job budget: one Weather.run runs at most 8 Spark jobs") {
    val out = java.nio.file.Files.createTempDirectory("weather_jobs").toString
    val (_, jobs) = jobsIn(Weather.run(
      spark, resource("weatherHistory_valid.csv"), out, Weather.Conf(writeHistory = true)))
    assert(jobs > 0 && jobs <= 8, s"$jobs jobs")
  }
}
