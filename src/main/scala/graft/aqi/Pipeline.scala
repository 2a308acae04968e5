package graft.aqi

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.sources.Warehouse

/** End-to-end pipeline runner mirroring the DAG's stage ordering
  * (`main.py:8-85`, SURVEY §2.6):
  *
  *   source_to_stage (two independent loads)  ≫  stage_to_nds
  *     stage-AQI:  set_cet → truncate+load(window)             (O3)
  *     stage-counties: full reload, no watermark                (O4)
  *   NDS strict order: states → counties → measurements         (O5)
  *   set_lset, once measurement_nds has committed
  *
  * LSET advances only after the last NDS write, so a run that fails at
  * any write re-extracts the same window on its retry and no staged row
  * is lost (at-least-once); all merges are idempotent under redelivery
  * (only the NDS audit timestamps move).
  * Airflow-level scheduling stays out of engine scope; this object is
  * the in-engine equivalent of one DAG run.
  */
object Pipeline {

  val StateAqiStage = "state_aqi_stage"
  val UsCountiesStage = "us_counties_stage"
  val StateNdsT = "state_nds"
  val CountyNdsT = "county_nds"
  val MeasurementNdsT = "measurement_nds"

  /** One DAG run at `now`.
    *
    * @param partitionedFacts when true, measurement_nds is stored
    *   date-partitioned and merged partition-scoped
    *   ([[Nds.mergeMeasurementsPartitioned]]) — the 100 TB fact path.
    *   Default keeps the flat layout (reference-scale).
    */
  def run(
      spark: SparkSession,
      sourceDir: String,
      warehouseDir: String,
      now: Instant = Instant.now(),
      partitionedFacts: Boolean = false): Unit =
    runWith(spark, sourceDir, warehouseDir, now, partitionedFacts, _ => ())

  /** [[run]], calling `beforeWrite(table)` before each of its seven
    * table writes (metadata, the two stage tables, the three NDS
    * tables, metadata again): the seam the retry spec fails a run at.
    */
  private[aqi] def runWith(
      spark: SparkSession,
      sourceDir: String,
      warehouseDir: String,
      now: Instant,
      partitionedFacts: Boolean,
      beforeWrite: String => Unit): Unit = {
    val ts = Timestamp.from(now)
    val nowCol = lit(ts)
    def write(df: DataFrame, table: String): Unit = {
      beforeWrite(table)
      Warehouse.overwrite(df, warehouseDir, table)
    }

    // —— source→stage: AQI (windowed, watermarked) ——
    beforeWrite(Watermarks.TableName)
    Watermarks.setCet(spark, warehouseDir, StateAqiStage, ts)
    val (cet, lset) = Watermarks.getWindow(spark, warehouseDir, StateAqiStage)
    write(Staging.stageAqi(spark, sourceDir, lset, cet), StateAqiStage) // S8 truncate+reload

    // —— source→stage: counties (full reload) ——
    write(Staging.stageCounties(spark, sourceDir), UsCountiesStage)

    // —— stage→NDS (strict order: FK surrogate resolution) ——
    val aqiStage = Warehouse.read(spark, warehouseDir, StateAqiStage)
    val countiesStage = Warehouse.read(spark, warehouseDir, UsCountiesStage)

    val states = Nds.mergeStates(
      Warehouse.readOrEmpty(spark, warehouseDir, StateNdsT, Schemas.stateNds),
      countiesStage, aqiStage, nowCol)
    write(states, StateNdsT)

    val stateNds = Warehouse.read(spark, warehouseDir, StateNdsT)
    val counties = Nds.mergeCounties(spark,
      Warehouse.readOrEmpty(spark, warehouseDir, CountyNdsT, Schemas.countyNds),
      stateNds, countiesStage, aqiStage, nowCol)
    write(counties, CountyNdsT)

    val countyNds = Warehouse.read(spark, warehouseDir, CountyNdsT)
    if (partitionedFacts) {
      beforeWrite(MeasurementNdsT)
      Nds.mergeMeasurementsPartitioned(spark, warehouseDir, stateNds, countyNds,
        aqiStage, nowCol, MeasurementNdsT)
    } else {
      val measurements = Nds.mergeMeasurements(
        Warehouse.readOrEmpty(spark, warehouseDir, MeasurementNdsT, Schemas.measurementNds),
        stateNds, countyNds, aqiStage, nowCol)
      write(measurements, MeasurementNdsT)
    }

    // only now is the window in the NDS: a failure above leaves LSET
    // where it was, and the retry extracts this window again
    beforeWrite(Watermarks.TableName)
    Watermarks.setLset(spark, warehouseDir, StateAqiStage, ts)
  }
}
