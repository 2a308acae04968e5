package graft.aqi

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

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

    // every read declares its table's schema: no inference job
    def read(table: String, schema: StructType): DataFrame =
      Warehouse.readOrEmpty(spark, warehouseDir, table, schema)

    // —— source→stage: AQI (windowed, watermarked) ——
    beforeWrite(Watermarks.TableName)
    val (cet, lset) = Watermarks.setCet(spark, warehouseDir, StateAqiStage, ts)
    write(Staging.stageAqi(spark, sourceDir, lset, cet), StateAqiStage) // S8 truncate+reload

    // —— source→stage: counties (full reload) ——
    write(Staging.stageCounties(spark, sourceDir), UsCountiesStage)

    // —— stage→NDS (strict order: FK surrogate resolution) ——
    val aqiStage = read(StateAqiStage, Schemas.stateAqiStage)
    val countiesStage = read(UsCountiesStage, Schemas.usCountiesStage)

    val states = Nds.mergeStates(
      read(StateNdsT, Schemas.stateNds), countiesStage, aqiStage, nowCol)
    write(states, StateNdsT)

    val stateNds = read(StateNdsT, Schemas.stateNds)
    val counties = Nds.mergeCounties(spark,
      read(CountyNdsT, Schemas.countyNds), stateNds, countiesStage, aqiStage, nowCol)
    write(counties, CountyNdsT)

    val countyNds = read(CountyNdsT, Schemas.countyNds)
    if (partitionedFacts) {
      beforeWrite(MeasurementNdsT)
      Nds.mergeMeasurementsPartitioned(spark, warehouseDir, stateNds, countyNds,
        aqiStage, nowCol, MeasurementNdsT)
    } else {
      val measurements = Nds.mergeMeasurements(
        read(MeasurementNdsT, Schemas.measurementNds), stateNds, countyNds, aqiStage, nowCol)
      write(measurements, MeasurementNdsT)
    }

    // only now is the window in the NDS: a failure above leaves LSET
    // where it was, and the retry extracts this window again
    beforeWrite(Watermarks.TableName)
    Watermarks.setLset(spark, warehouseDir, StateAqiStage, ts)
  }
}
