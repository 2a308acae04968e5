package graft.aqi

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.util.Random

import org.json4s.{JDouble, JInt, JObject, JString}
import org.json4s.jackson.JsonMethods.compact

import graft.Bench.seconds

/** Reference-scale throughput benchmark for the AQI pipeline.
  *
  * The reference's implied operational volume is ~10⁶ measurement rows
  * per daily run (3 annual EPA files, SURVEY §6) processed row-at-a-time
  * (1–2 Postgres round trips per upserted row, `stage_to_nds.py:141-176`)
  * on a 4 GB / 2-CPU floor. This main synthesizes that corpus shape
  * (3 CSV files, ~3,000-county dimension, 51 states), runs one full
  * initial load, then an incremental run over a 10% delta (half updates
  * to existing business keys, half new rows), and prints one JSON line
  * with rows/second for both phases.
  *
  *   sbt "runMain graft.aqi.AqiBench [rows] [workDir]"
  *
  * Generation is seeded and single-pass on the driver (~100 MB of CSV —
  * source files are external inputs, not engine work).
  */
object AqiBench {

  private[aqi] val Params = Array("Ozone", "PM2.5", "PM10", "CO", "NO2")

  def main(args: Array[String]): Unit = {
    val totalRows = (args.headOption.map(_.toInt).getOrElse(1000000) / 3) * 3
    val work = args.lift(1).getOrElse(
      Files.createTempDirectory("aqi-bench").toString)
    val spark = graft.Sessions.driver()

    val srcA = s"$work/srcA"; val srcB = s"$work/srcB"; val wh = s"$work/wh"
    Files.createDirectories(Paths.get(srcA)); Files.createDirectories(Paths.get(srcB))
    val corpus = initialCorpus(srcA, totalRows)
    import corpus.{counties, createdDay, rnd, rowsPerDay}
    writeCounties(s"$srcA/uscounties.csv", counties)
    writeCounties(s"$srcB/uscounties.csv", counties)
    var key = corpus.nextKey

    // —— delta corpus: 10% volume, last_updated ≈ t1 (inside run 2's
    // CET/LSET window). Updates keep their key's original created day —
    // measured_date derives from created, so the business key matches —
    // and cluster in the most recent 30 days (the EPA restates recent
    // data), so a partition-scoped merge touches ~30 of ~NumDays
    // partitions. New rows land on fresh days ——
    val t1 = "2026-01-03"
    val deltaRows = totalRows / 10
    val initialKeys = key
    val recentStart = math.max(0, initialKeys - 30 * rowsPerDay)
    val wB = csv(s"$srcB/10_state_aqi_2024.csv")
    for (i <- 0 until deltaRows) {
      if (i % 2 == 0) {
        val k = recentStart + rnd.nextInt(initialKeys - recentStart)
        wB.write(row(counties, rnd, k, createdDay(k), t1)) // update, recent day
      } else { wB.write(row(counties, rnd, key, t1, t1)); key += 1 } // new
    }
    wB.close()

    // —— flat layout (reference scale): full merge + full overwrite ——
    val run1 = seconds { Pipeline.run(spark, srcA, wh, Instant.parse("2026-01-02T00:00:00Z")) }
    val run2 = seconds { Pipeline.run(spark, srcB, wh, Instant.parse("2026-01-04T00:00:00Z")) }
    val nds = graft.sources.Warehouse.read(spark, wh, Pipeline.MeasurementNdsT).count()

    // —— date-partitioned layout (100 TB path): the delta merge reads
    // and rewrites only the ~31 touched date partitions ——
    val whP = s"$work/whP"
    val p1 = seconds { Pipeline.run(spark, srcA, whP,
      Instant.parse("2026-01-02T00:00:00Z"), partitionedFacts = true) }
    val p2 = seconds { Pipeline.run(spark, srcB, whP,
      Instant.parse("2026-01-04T00:00:00Z"), partitionedFacts = true) }
    val ndsP = graft.sources.Warehouse.read(spark, whP, Pipeline.MeasurementNdsT).count()
    require(ndsP == nds, s"layouts disagree: flat=$nds partitioned=$ndsP")

    // I/O locality of the partitioned delta: rows living in the date
    // partitions the delta touched = what the scoped merge read+rewrote
    // (the flat layout reads+rewrites the whole table). The wall-clock
    // win tracks this ratio once partitions outgrow file-op overhead.
    val deltaDates = graft.sources.Warehouse.read(spark, whP, Pipeline.StateAqiStage)
      .select("measured_date").distinct()
    val rewritten = graft.sources.Warehouse.read(spark, whP, Pipeline.MeasurementNdsT)
      .join(deltaDates, Seq("measured_date"), "left_semi").count()

    println(compact(JObject("metric" -> JString("aqi_pipeline"), "initial_rows" -> JInt(totalRows),
      "initial_sec" -> JDouble(run1), "initial_rows_per_sec" -> JInt((totalRows / run1).toLong),
      "delta_rows" -> JInt(deltaRows), "delta_sec" -> JDouble(run2),
      "delta_rows_per_sec" -> JInt((deltaRows / run2).toLong),
      "partitioned_initial_sec" -> JDouble(p1), "partitioned_delta_sec" -> JDouble(p2),
      "partitioned_delta_rows_rewritten" -> JInt(rewritten), "measurement_nds_rows" -> JInt(nds))))
    spark.stop()
  }

  /** The seeded corpus both throughput mains start from: 3,000 counties
    * over 51 states, and `totalRows` rows in three CSV files in `dir`.
    * `created` (hence measured_date) spreads over ~NumDays days by key,
    * so the date-partitioned layout has realistic cardinality. Each
    * main's delta continues from `rnd` and `nextKey`.
    */
  private[aqi] final case class Corpus(
      counties: IndexedSeq[(String, String, String, Int)],
      rnd: Random, nextKey: Int, rowsPerDay: Int) {
    def createdDay(k: Int): String = dayString(k / rowsPerDay)
  }

  private[aqi] def initialCorpus(dir: String, totalRows: Int): Corpus = {
    // state_code and state_id are FUNCTIONS of state_name (as in the EPA
    // data) — breaking that dependency makes the state dim multi-row per
    // state and cascades multiplicatively through the dim merges
    val rnd = new Random(42)
    val states = (1 to 51).map(i => f"State$i%02d")
    val counties = (0 until 3000).map { i =>
      val stateIdx = i % states.length
      (f"County$i%04d", states(stateIdx), f"${10000 + i}%05d", stateIdx)
    }
    val rowsPerDay = math.max(1, totalRows / NumDays)
    var key = 0
    for (f <- 0 until 3) {
      val w = csv(s"$dir/10_state_aqi_202$f.csv")
      for (_ <- 0 until totalRows / 3) {
        w.write(row(counties, rnd, key, dayString(key / rowsPerDay), "2026-01-01")); key += 1
      }
      w.close()
    }
    Corpus(counties, rnd, key, rowsPerDay)
  }

  /** ~3 years of distinct measured dates, like the reference's 3 annual
    * extracts.
    */
  private[aqi] val NumDays = 1000

  private[aqi] def dayString(d: Int): String =
    java.time.LocalDate.of(2021, 1, 1).plusDays(d % NumDays).toString

  private[aqi] def csv(path: String): BufferedWriter = {
    val w = new BufferedWriter(new FileWriter(path), 1 << 20)
    w.write("State Name,county Name,State Code,County Code,Date,AQI,Category," +
      "Defining Parameter,Defining Site,Number of Sites Reporting,Created,Last Updated\n")
    w
  }

  /** One measurement row; the business key (measured_date [from
    * Created], defining_parameter, defining_site) is a bijection of
    * `key`, so update rows hit exactly their prior version.
    */
  private[aqi] def row(counties: IndexedSeq[(String, String, String, Int)],
      rnd: scala.util.Random, key: Int, createdDay: String, updatedDay: String): String = {
    val (county, state, _, stateIdx) = counties(key % counties.length)
    val site = s"site-${key / Params.length}"
    val param = Params(key % Params.length)
    val aqi = rnd.nextInt(350)
    s"$state,$county,${stateIdx + 1},${key % 200},1999-01-01,$aqi,Bogus,$param,$site,5," +
      s"$createdDay 10:00:00,$updatedDay 12:00:00\n"
  }

  private[aqi] def writeCounties(path: String, cs: Seq[(String, String, String, Int)]): Unit = {
    val w = new BufferedWriter(new FileWriter(path), 1 << 20)
    w.write("county,county_ascii,county_full,county_fips,state_id,state_name,lat,lng,population\n")
    cs.foreach { case (county, state, fips, stateIdx) =>
      w.write(s"$county,$county,$county County,$fips,S$stateIdx,$state,40.0,-100.0,50000\n")
    }
    w.close()
  }
}
