package graft.aqi

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.sources.Warehouse

/** End-to-end pipeline runner mirroring the DAG's stage ordering
  * (`main.py:8-85`, SURVEY §2.6):
  *
  *   source_to_stage (two independent loads)  ≫  stage_to_nds
  *     stage-AQI:  set_cet → truncate+load(window) → set_lset   (O3)
  *     stage-counties: full reload, no watermark                (O4)
  *   NDS strict order: states → counties → measurements         (O5)
  *
  * LSET advances only after a successful stage load, so a failed run
  * re-extracts the same window (at-least-once); all merges are
  * idempotent under redelivery (only `last_updated_nds` moves).
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
      partitionedFacts: Boolean = false): Unit = {
    val ts = Timestamp.from(now)
    val nowCol = lit(ts)

    // —— source→stage: AQI (windowed, watermarked) ——
    Watermarks.setCet(spark, warehouseDir, StateAqiStage, ts)
    val (cet, lset) = Watermarks.getWindow(spark, warehouseDir, StateAqiStage)
    Warehouse.overwrite(Staging.stageAqi(spark, sourceDir, lset, cet),
      warehouseDir, StateAqiStage) // S8 truncate+reload
    Watermarks.setLset(spark, warehouseDir, StateAqiStage, ts) // only after success

    // —— source→stage: counties (full reload) ——
    Warehouse.overwrite(Staging.stageCounties(spark, sourceDir), warehouseDir, UsCountiesStage)

    // —— stage→NDS (strict order: FK surrogate resolution) ——
    val aqiStage = Warehouse.read(spark, warehouseDir, StateAqiStage)
    val countiesStage = Warehouse.read(spark, warehouseDir, UsCountiesStage)

    val states = Nds.mergeStates(
      Warehouse.readOrEmpty(spark, warehouseDir, StateNdsT, Schemas.stateNds),
      countiesStage, aqiStage, nowCol)
    Warehouse.overwrite(states, warehouseDir, StateNdsT)

    val stateNds = Warehouse.read(spark, warehouseDir, StateNdsT)
    val counties = Nds.mergeCounties(spark,
      Warehouse.readOrEmpty(spark, warehouseDir, CountyNdsT, Schemas.countyNds),
      stateNds, countiesStage, aqiStage, nowCol)
    Warehouse.overwrite(counties, warehouseDir, CountyNdsT)

    val countyNds = Warehouse.read(spark, warehouseDir, CountyNdsT)
    if (partitionedFacts) {
      Nds.mergeMeasurementsPartitioned(spark, warehouseDir, stateNds, countyNds,
        aqiStage, nowCol, MeasurementNdsT)
    } else {
      val measurements = Nds.mergeMeasurements(
        Warehouse.readOrEmpty(spark, warehouseDir, MeasurementNdsT, Schemas.measurementNds),
        stateNds, countyNds, aqiStage, nowCol)
      Warehouse.overwrite(measurements, warehouseDir, MeasurementNdsT)
    }
  }
}
