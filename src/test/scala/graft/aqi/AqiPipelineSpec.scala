package graft.aqi

import java.nio.file.{Files, Path}
import java.time.Instant

import org.apache.spark.graft.Jobs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.sources.Warehouse

/** End-to-end run of the reference-shaped pipeline on a synthesized
  * fixture (FIXTURES.md §A): band edges, whitespace county names, the
  * Windham two-state case, a county missing from the dim, duplicate
  * measurement business keys, bogus CSV Date/Category columns that must
  * be overwritten.
  */
class AqiPipelineSpec extends AnyFunSuite with SparkTest {

  private val aqiHeader = "State Name,county Name,State Code,County Code,Date,AQI," +
    "Category,Defining Parameter,Defining Site,Number of Sites Reporting,Created,Last Updated"

  private def aqiRow(state: String, county: String, code: Int, aqi: Int,
      site: String, created: String, param: String = "Ozone"): String =
    s"""$state,$county,$code,1,1999-01-01,$aqi,Bogus,$param,$site,5,$created 10:00:00,$created 12:00:00"""

  private def writeFixtures(dir: Path): Unit = {
    val counties = Seq(
      "county,county_ascii,county_full,county_fips,state_id,state_name,lat,lng,population",
      "Windham,Windham,Windham County,09015,CT,Connecticut,41.83,-71.98,116418",
      "Hartford,Hartford,Hartford County,09003,CT,Connecticut,41.81,-72.74,899498",
      "Los Angeles,Los Angeles,Los Angeles County,06037,CA,California,34.32,-118.22,10014009",
      "Orange,Orange,Orange County,06059,CA,California,33.70,-117.76,3186989")
    Files.writeString(dir.resolve("uscounties.csv"), counties.mkString("\n"))

    val bandEdges = Seq(-5, 0, 50, 51, 100, 101, 150, 151, 200, 201, 300, 301)
    val bandRows = bandEdges.zipWithIndex.map { case (aqi, i) =>
      aqiRow("California", "Los Angeles", 6, aqi, s"site-$i", "2021-06-15")
    }
    val rows = Seq(aqiHeader) ++ bandRows ++ Seq(
      aqiRow("Connecticut", "  Windham  ", 9, 42, "site-ct", "2021-07-01"), // whitespace
      aqiRow("Vermont", "Windham", 50, 55, "site-vt", "2021-07-02"), // Windham patch case
      aqiRow("California", "Mystery County", 6, 77, "site-my", "2021-07-03"), // NOT-IN insert
      // duplicate business key (same date+param+site), different AQI:
      aqiRow("California", "Orange", 6, 10, "site-dup", "2021-07-04"),
      aqiRow("California", "Orange", 6, 20, "site-dup", "2021-07-04"))
    Files.writeString(dir.resolve("10_state_aqi_2021.csv"), rows.mkString("\n"))
  }

  test("full pipeline run: staging quirks, NDS merges, anti-join inserts, dedup") {
    val s = spark; import s.implicits._
    val src = Files.createTempDirectory("aqi-src")
    val wh = Files.createTempDirectory("aqi-wh").toString
    writeFixtures(src)
    val now1 = Instant.parse("2026-01-01T00:00:00Z")
    Pipeline.run(spark, src.toString, wh, now1)

    // —— staging quirks ——
    val stage = Warehouse.read(spark, wh, Pipeline.StateAqiStage)
    assert(stage.count() == 17)
    // measured_date derives from Created, NOT the bogus CSV Date column
    assert(stage.filter($"measured_date" === lit("1999-01-01").cast("date")).count() == 0)
    val ct = stage.filter($"defining_site" === "site-ct").head()
    assert(ct.getAs[String]("county_name") == "Windham") // trimmed
    assert(ct.getAs[java.sql.Date]("measured_date").toString == "2021-07-01")
    // Category recomputed from aqi_value, never "Bogus"
    assert(stage.filter($"aqi_category" === "Bogus").count() == 0)
    val cats = stage.filter($"state_name" === "California" && $"defining_parameter" === "Ozone")
      .select("aqi_value", "aqi_category").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(cats(-5) == "Unknown" && cats(50) == "Good" && cats(51) == "Moderate" &&
      cats(150) == "Unhealthy for Sensitive Groups" && cats(301) == "Hazardous")

    // —— state_nds: full-outer state universe + dense surrogates ——
    val states = Warehouse.read(spark, wh, Pipeline.StateNdsT)
    val stateRows = states.collect().map(r =>
      r.getAs[String]("state_name") ->
        (r.getAs[Long]("state_id_sk"), r.getAs[Integer]("state_code"),
          r.getAs[String]("state_id"))).toMap
    assert(stateRows.keySet == Set("California", "Connecticut", "Vermont"))
    assert(stateRows("California") == ((1L, 6, "CA"))) // both sources
    assert(stateRows("Vermont")._3 == null) // AQI-only state: no state_id
    assert(stateRows.values.map(_._1).toSet == Set(1L, 2L, 3L))

    // —— county_nds: dim + NOT-IN insert + Windham patch ——
    val counties = Warehouse.read(spark, wh, Pipeline.CountyNdsT)
    assert(counties.count() == 6) // 4 dim + Mystery County + Windham/VT
    val mystery = counties.filter($"county_name" === "Mystery County").collect()
    assert(mystery.length == 1 && mystery.head.getAs[String]("county_fips") == null)
    assert(mystery.head.getAs[Long]("state_id_sk") == stateRows("California")._1)
    val windhams = counties.filter($"county_name" === "Windham").collect()
    assert(windhams.length == 2) // CT (dim) + VT (patch insert)
    val vtWindham = windhams.filter(_.getAs[String]("county_fips") == null)
    assert(vtWindham.length == 1 &&
      vtWindham.head.getAs[Long]("state_id_sk") == stateRows("Vermont")._1)

    // —— measurement_nds: join + dedup on business key ——
    val meas = Warehouse.read(spark, wh, Pipeline.MeasurementNdsT)
    assert(meas.count() == 16) // 17 staged - 1 duplicate business key
    val dup = meas.filter($"defining_site" === "site-dup").collect()
    assert(dup.length == 1 && dup.head.getAs[Int]("aqi_value") == 10) // keep-first survivor
    assert(meas.filter($"aqi_category" === "Bogus").count() == 0)

    // —— second run: idempotency under at-least-once redelivery ——
    val now2 = Instant.parse("2026-01-02T00:00:00Z")
    Pipeline.run(spark, src.toString, wh, now2)
    // window [lset=now1, cet=now2] excludes all 2021 rows -> empty stage
    assert(Warehouse.read(spark, wh, Pipeline.StateAqiStage).count() == 0)
    val meas2 = Warehouse.read(spark, wh, Pipeline.MeasurementNdsT)
    assert(meas2.count() == 16) // unchanged
    assert(meas2.filter($"last_updated_nds" =!= lit(java.sql.Timestamp.from(now1))).count() == 0)
    // counties dim still reloads fully: matched counties get refreshed audit
    val counties2 = Warehouse.read(spark, wh, Pipeline.CountyNdsT)
    assert(counties2.count() == 6)
    val hartford = counties2.filter($"county_name" === "Hartford").head()
    assert(hartford.getAs[java.sql.Timestamp]("last_updated_nds") ==
      java.sql.Timestamp.from(now2))
    assert(hartford.getAs[java.sql.Timestamp]("created_date_nds") ==
      java.sql.Timestamp.from(now1))
  }

  // —— second fixture: county-insert semantics the golden fixture cannot
  // see. The dim holds two Connecticut counties; the AQI file names a
  // county absent from it (J6 NOT-IN insert) whose name sorts AFTER
  // "Windham", plus a Vermont Windham (J7 patch insert). ——

  private val countiesHeader =
    "county,county_ascii,county_full,county_fips,state_id,state_name,lat,lng,population"
  private val ctDim = Seq(
    "Windham,Windham,Windham County,09015,CT,Connecticut,41.83,-71.98,116418",
    "Hartford,Hartford,Hartford County,09003,CT,Connecticut,41.81,-72.74,899498")
  private val insertAqi = Seq(
    aqiRow("Connecticut", "Windham", 9, 40, "site-ct", "2021-07-01"),
    aqiRow("Connecticut", "Zeta", 9, 41, "site-zeta", "2021-07-01"), // J6
    aqiRow("Vermont", "Windham", 50, 42, "site-vt", "2021-07-01")) // J7

  private def writeInsertFixture(dir: Path, dim: Seq[String], aqi: Seq[String],
      aqiFile: String = "10_state_aqi_2021.csv"): Unit = {
    Files.writeString(dir.resolve("uscounties.csv"), (countiesHeader +: dim).mkString("\n"))
    Files.writeString(dir.resolve(aqiFile), (aqiHeader +: aqi).mkString("\n"))
  }

  /** county_nds as (county_name, state_name) -> county_id_sk. */
  private def countyKeys(wh: String): Map[(String, String), Long] = {
    val states = Warehouse.read(spark, wh, Pipeline.StateNdsT)
    Warehouse.read(spark, wh, Pipeline.CountyNdsT)
      .join(states.select("state_id_sk", "state_name"), "state_id_sk")
      .select("county_name", "state_name", "county_id_sk").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  test("a NULL county name in the dim suppresses every J6 NOT-IN insert") {
    val src = Files.createTempDirectory("aqi-src-null")
    val wh = Files.createTempDirectory("aqi-wh-null").toString
    writeInsertFixture(src,
      ctDim :+ ",,,09999,CT,Connecticut,41.50,-72.50,1", insertAqi)
    Pipeline.run(spark, src.toString, wh, Instant.parse("2026-01-01T00:00:00Z"))
    // NOT IN over a set holding NULL is never true: Zeta is not inserted,
    // while the J7 NOT EXISTS patch still inserts the Vermont Windham
    assert(countyKeys(wh).keySet == Set(("Windham", "Connecticut"), ("Hartford", "Connecticut"),
      (null, "Connecticut"), ("Windham", "Vermont")))
  }

  test("J6 inserts are keyed before J7 inserts, whatever their names") {
    val src = Files.createTempDirectory("aqi-src-order")
    val wh = Files.createTempDirectory("aqi-wh-order").toString
    writeInsertFixture(src, ctDim, insertAqi)
    Pipeline.run(spark, src.toString, wh, Instant.parse("2026-01-01T00:00:00Z"))
    // dim rows first in name order, then J6 (Zeta), then J7 (Windham/VT)
    assert(countyKeys(wh) == Map(
      ("Hartford", "Connecticut") -> 1L, ("Windham", "Connecticut") -> 2L,
      ("Zeta", "Connecticut") -> 3L, ("Windham", "Vermont") -> 4L))
  }

  test("a second-day run keeps existing county keys and continues from the max") {
    val src = Files.createTempDirectory("aqi-src-day2")
    val wh = Files.createTempDirectory("aqi-wh-day2").toString
    writeInsertFixture(src, ctDim, insertAqi)
    Pipeline.run(spark, src.toString, wh, Instant.parse("2026-01-01T00:00:00Z"))
    val day1 = countyKeys(wh)
    // day 2: a new dim county and a new J6 county, both sorting before
    // every existing name, inside the [day-1 run, day-2 run] window
    writeInsertFixture(src,
      ctDim :+ "Alameda,Alameda,Alameda County,09999,CT,Connecticut,41.50,-72.50,1",
      Seq(aqiRow("Connecticut", "Aardvark", 9, 43, "site-aa", "2026-01-01")),
      aqiFile = "10_state_aqi_2026.csv")
    Pipeline.run(spark, src.toString, wh, Instant.parse("2026-01-02T00:00:00Z"))
    val day2 = countyKeys(wh)
    assert(day2 == day1 ++ Map(
      ("Alameda", "Connecticut") -> 5L, ("Aardvark", "Connecticut") -> 6L))
  }

  // —— a run that fails part-way: the retry must land every row of the
  // failed run's window, at whichever of the run's seven writes it
  // failed. Day 1 loads the insert fixture; the day-2 window adds a
  // J6 county, an AQI-only state and a re-delivered measurement with a
  // new value. ——

  private val day2Aqi = Seq(
    aqiRow("Connecticut", "Aardvark", 9, 43, "site-aa", "2026-01-01"), // J6
    aqiRow("Nevada", "Clark", 32, 44, "site-nv", "2026-01-01"), // new state, J7
    // same business key as day 1's site-ct row, updated inside the window
    "Connecticut,Windham,9,1,1999-01-01,99,Bogus,Ozone,site-ct,5," +
      "2021-07-01 10:00:00,2026-01-01 12:00:00")
  private val day2 = Instant.parse("2026-01-02T00:00:00Z")

  /** A warehouse after the day-1 run, and the day-2 sources; each call
    * copies the day-1 warehouse built once.
    */
  private lazy val day1 = {
    val src = Files.createTempDirectory("aqi-src-retry")
    val wh = Files.createTempDirectory("aqi-wh-retry")
    writeInsertFixture(src, ctDim, insertAqi)
    Pipeline.run(spark, src.toString, wh.toString, Instant.parse("2026-01-01T00:00:00Z"))
    writeInsertFixture(src, ctDim, day2Aqi, aqiFile = "10_state_aqi_2026.csv")
    (src.toString, wh)
  }
  private def day1Copy(): String = {
    val to = Files.createTempDirectory("aqi-wh-retry-copy")
    val from = day1._2
    Files.walk(from).forEach { p =>
      if (p != from) Files.copy(p, to.resolve(from.relativize(p).toString))
    }
    to.toString
  }

  /** The NDS tables' rows, leaving out the audit stamps a retried merge
    * moves (as the reference's task retry does).
    */
  private def ndsRows(wh: String): Seq[Seq[String]] =
    Seq(Pipeline.StateNdsT, Pipeline.CountyNdsT, Pipeline.MeasurementNdsT).map { t =>
      Warehouse.read(spark, wh, t)
        .drop("created_date_nds", "last_updated_nds", "last_updated")
        .collect().map(_.toString).toSeq.sorted
    }

  /** The run's seven writes, in order, each with a label. */
  private val writes = Seq("metadata (CET)" -> Watermarks.TableName,
    Pipeline.StateAqiStage -> Pipeline.StateAqiStage,
    Pipeline.UsCountiesStage -> Pipeline.UsCountiesStage,
    Pipeline.StateNdsT -> Pipeline.StateNdsT,
    Pipeline.CountyNdsT -> Pipeline.CountyNdsT,
    Pipeline.MeasurementNdsT -> Pipeline.MeasurementNdsT,
    "metadata (LSET)" -> Watermarks.TableName)

  /** The day-2 run without a failure: its NDS rows and its writes. */
  private lazy val uninterrupted = {
    val wh = day1Copy()
    val seen = Seq.newBuilder[String]
    Pipeline.runWith(spark, day1._1, wh, day2, partitionedFacts = false, seen += _)
    (ndsRows(wh), seen.result())
  }

  test("a run makes its seven writes in order, LSET last") {
    assert(uninterrupted._2 == writes.map(_._2))
  }

  for (((label, table), k) <- writes.zipWithIndex)
    test(s"a run failing at its $label write loses no row on retry") {
      val wh = day1Copy()
      // fail before the nth write of `table`, passing its earlier ones
      val nth = writes.take(k + 1).count(_._2 == table)
      var n = 0
      intercept[IllegalStateException] {
        Pipeline.runWith(spark, day1._1, wh, day2, partitionedFacts = false, t =>
          if (t == table) {
            n += 1
            if (n == nth) throw new IllegalStateException(s"injected before $label")
          })
      }
      Pipeline.run(spark, day1._1, wh, Instant.parse("2026-01-03T00:00:00Z"))
      val retried = ndsRows(wh)
      assert(retried == uninterrupted._1)
      assert(retried(2).exists(_.contains("site-aa")) && retried(2).exists(_.contains(",99,")))
    }

  test("every pipeline table's declared schema is its stored schema") {
    // the run reads these tables with the declared schema; a column that
    // drifts from what the writer stores would read as NULL, not fail
    val wh = day1._2.toString
    def columns(t: StructType) = t.fields.map(f => (f.name, f.dataType)).toSeq
    for ((table, declared) <- Seq(
        Pipeline.StateAqiStage -> Schemas.stateAqiStage,
        Pipeline.UsCountiesStage -> Schemas.usCountiesStage,
        Pipeline.StateNdsT -> Schemas.stateNds,
        Pipeline.CountyNdsT -> Schemas.countyNds,
        Pipeline.MeasurementNdsT -> Schemas.measurementNds,
        Watermarks.TableName -> Schemas.metadata))
      assert(columns(Warehouse.read(spark, wh, table).schema) == columns(declared), table)
  }

  test("a day-2 run takes 37 Spark jobs") {
    val wh = day1Copy()
    val (_, jobs) = Jobs.count(spark.sparkContext)(Pipeline.run(spark, day1._1, wh, day2))
    assert(jobs == 37)
  }
}
