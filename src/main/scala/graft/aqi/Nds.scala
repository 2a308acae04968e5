package graft.aqi

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

import graft.operators.{Merge, MergeSpec}

/** stage→NDS merges (`stage_to_nds.py`), rewritten set-oriented.
  *
  * Each reference merge probes the target row-at-a-time (1–2 Postgres
  * round trips per row); here each becomes ONE full-outer join on the
  * merge key + column resolution (graft.operators.Merge). Spark never
  * broadcasts a full outer join, so each merge, the dims' included
  * (`state_nds` ≤ 51 rows, `county_nds` ~3.2k), plans a `SortMergeJoin
  * FullOuter` that shuffles target and source on the merge key; only
  * the inner lookups into the dims broadcast.
  *
  * Determinism policy (SURVEY §7 "what's hard"): the reference's
  * `first()` probes and keep-first dedup inherit pandas row order; this
  * engine pins explicit tie-breakers, documented per operator.
  */
object Nds {

  /** Inserted-row count above which surrogate assignment switches from
    * the single-partition global window to the range-partitioned
    * zipWithIndex path.
    */
  private[aqi] val SurrogateWindowMax = 100000L

  /** Surrogate-key assignment for rows the merge inserted (sk IS NULL):
    * dense keys continuing from the current max, ordered by the business
    * key (replaces the reference's Postgres sequences — deterministic
    * across runs, unlike `monotonically_increasing_id`).
    *
    * Small inserts (dims, daily deltas) rank with one global window.
    * Large inserts (fact backfills) would funnel through a single
    * partition that way, so they instead range-repartition on the order
    * key, sort within partitions, and `zipWithIndex` — the same dense
    * sequence in the same order, with no single-partition stage. The
    * index is deterministic as long as `orderBy` is a unique key (range
    * boundaries may vary between runs, but concatenating internally
    * sorted, ordered ranges reproduces the one global order) — true for
    * every caller: dims rank on their natural key, measurements on the
    * deduped business key.
    */
  private[aqi] def fillSurrogate(
      df: DataFrame,
      skCol: String,
      orderBy: Seq[String],
      maxOverride: Option[Long] = None): DataFrame = {
    // materialize the merge output once: both branches below (existing,
    // inserted) read it, and without the barrier each would re-execute
    // the whole upstream merge plan. The checkpoint job also observes
    // the max key and the insert count, so no second job aggregates it.
    // The checkpoint is at most the merged table slice the caller is
    // about to write anyway.
    val stats = Observation()
    val mat = df.observe(stats,
      coalesce(max(col(skCol)), lit(0L)).as("max"),
      count(when(col(skCol).isNull, 1)).as("inserted")).localCheckpoint(true)
    val existing = mat.filter(col(skCol).isNotNull)
    val inserted = mat.filter(col(skCol).isNull)
    val mx = maxOverride.getOrElse(stats.get("max").asInstanceOf[Long])
    val insertedCnt = stats.get("inserted").asInstanceOf[Long]
    val keyed =
      if (insertedCnt <= SurrogateWindowMax)
        inserted.withColumn(skCol,
          row_number().over(Window.orderBy(orderBy.map(col): _*)) + lit(mx))
      else {
        val spark = df.sparkSession
        val ordered = inserted
          .repartitionByRange(orderBy.map(col): _*)
          .sortWithinPartitions(orderBy.map(col): _*)
        val schema = ordered.schema
        val skIdx = schema.fieldIndex(skCol)
        val indexed = ordered.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq.updated(skIdx, mx + i + 1L))
        }
        spark.createDataFrame(indexed, schema)
      }
    existing.unionByName(keyed)
  }

  /** U1 (`stage_to_nds.py:9-47`): full-outer union of the state universes
    * of both stage tables (J1) merged into state_nds keyed on state_name.
    * Matched rows refresh only `last_updated_nds` (state_code/state_id
    * are NOT refreshed — observable reference behavior).
    */
  def mergeStates(
      stateNds: DataFrame,
      countiesStage: DataFrame,
      aqiStage: DataFrame,
      now: Column): DataFrame = {
    val aqiStates = aqiStage.select("state_name", "state_code").distinct()
    val countyStates = countiesStage.select("state_name", "state_id").distinct()
    val source = countyStates
      .join(aqiStates, Seq("state_name"), "full_outer")
      .withColumn("source_id", lit(1))
    val merged = Merge.scd1(stateNds, source,
      MergeSpec(Seq("state_name"), Seq.empty,
        createdCol = Some("created_date_nds"),
        updatedCol = Some("last_updated_nds")),
      now)
    fillSurrogate(merged, "state_id_sk", Seq("state_name"))
      .select(Schemas.stateNds.fieldNames.map(col): _*)
  }

  /** U2 + the two anti-join inserts (`stage_to_nds.py:50-138`):
    *  1. counties dim × state_nds (J2, broadcast) merged on county_fips
    *     with NULL-safe key equality (the reference's `filter_by(None)`
    *     emits IS NULL, so NULL matches NULL); matched rows refresh only
    *     county_name + last_updated_nds.
    *  2. J6: INSERT of AQI counties whose name is absent from step 1's
    *     output — an `isin(Dataset)` subquery, which Catalyst plans as
    *     the null-aware anti join with exact SQL NOT IN semantics (one
    *     NULL county name suppresses every insert; the test is global
    *     across states — the very bug the Windham patch fixes).
    *  3. J7: the Windham patch — NOT EXISTS on (state_name, county_name)
    *     against the counties stage. It reads neither step's output, so
    *     a row may be inserted by both J6 and J7, as in the reference.
    * New rows get dense keys in one pass, ordered by step first: the
    * reference runs the steps in sequence, so every step-2 key is below
    * every step-3 key whatever the names. `spark` is unused.
    */
  def mergeCounties(
      spark: SparkSession,
      countyNds: DataFrame,
      stateNds: DataFrame,
      countiesStage: DataFrame,
      aqiStage: DataFrame,
      now: Column): DataFrame = {
    val source = countiesStage
      .select("county_name", "county_fips", "state_name", "county_fullname",
        "latitude", "longitude", "county_population")
      .distinct()
      .join(broadcast(stateNds.select("state_id_sk", "state_name")),
        Seq("state_name"), "inner")
      .withColumn("source_id", lit(1))
      .drop("state_name")
    val merged = Merge.scd1(countyNds, source,
      MergeSpec(Seq("county_fips"), Seq("county_name"), nullSafeKeys = true,
        createdCol = Some("created_date_nds"),
        updatedCol = Some("last_updated_nds")),
      now)

    val aqiCounties = aqiStage.as("s1")
      .join(stateNds.as("s2"), col("s1.state_name") === col("s2.state_name"))
    def insert(phase: Int, where: Column): DataFrame =
      aqiCounties.where(where)
        .select(col("s1.county_name"), col("s2.state_id_sk"))
        .distinct()
        .withColumn("created_date_nds", now)
        .withColumn("last_updated_nds", now)
        .withColumn("source_id", lit(1))
        .withColumn("__phase", lit(phase))
    val j6 = insert(1, !col("s1.county_name").isin(merged.select("county_name")))
    val j7 = insert(2, col("s1.county_name") === "Windham" && !countiesStage
      .where(col("state_name") === col("s1.state_name").outer() &&
        col("county_name") === col("s1.county_name").outer())
      .exists())
    fillSurrogate(
      merged.withColumn("__phase", lit(0))
        .unionByName(j6, allowMissingColumns = true)
        .unionByName(j7, allowMissingColumns = true),
      "county_id_sk", Seq("__phase", "county_name", "county_fips", "state_id_sk"))
      .select(Schemas.countyNds.fieldNames.map(col): _*)
  }

  /** The measurement merge source: dims flatten (J3) → measurements ⋈
    * dims on the composite natural key (J4) → keep-first dedup on the
    * business key (A6; deterministic survivor). No `distinct()` anywhere:
    * the dim projections keep their unique surrogate keys, and exact
    * duplicate stage rows leave the same survivor. The window partitions
    * like the merge's join keys, so the merge reuses its shuffle.
    */
  private def measurementSource(
      stateNds: DataFrame,
      countyNds: DataFrame,
      aqiStage: DataFrame): DataFrame = {
    val dims = stateNds.select("state_id_sk", "state_name")
      .join(countyNds.select("county_id_sk", "state_id_sk", "county_name"),
        Seq("state_id_sk"), "inner")
    val stage = aqiStage.select(
      "county_name", "state_name", "measured_date", "aqi_value", "aqi_category",
      "defining_parameter", "defining_site", "num_of_sites_reporting",
      "created", "last_updated")
    val joined = stage.join(broadcast(dims), Seq("state_name", "county_name"), "inner")
    val w = Window.partitionBy(measurementSpec.keys.map(col): _*)
      .orderBy(col("created"), col("last_updated"), col("county_id_sk"), col("aqi_value"))
    joined
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "state_name", "county_name", "state_id_sk")
      .withColumn("source_id", lit(1))
  }

  private val measurementSpec = MergeSpec(
    Seq("measured_date", "defining_site", "defining_parameter"),
    Seq("aqi_value", "aqi_category"),
    createdCol = Some("created_date_nds"),
    updatedCol = Some("last_updated_nds"),
    touchCols = Seq("last_updated"))

  /** U3 (`stage_to_nds.py:141-218`): [[measurementSource]] (deterministic
    * survivor = smallest (created, last_updated, county_id_sk,
    * aqi_value)) → SCD-1 merge on (measured_date, defining_site,
    * defining_parameter). Matched rows refresh aqi_value/aqi_category and
    * stamp BOTH last_updated_nds and last_updated with `now` (reference
    * quirk, `:149-153`).
    */
  def mergeMeasurements(
      measurementNds: DataFrame,
      stateNds: DataFrame,
      countyNds: DataFrame,
      aqiStage: DataFrame,
      now: Column): DataFrame = {
    val merged = Merge.scd1(measurementNds,
      measurementSource(stateNds, countyNds, aqiStage), measurementSpec, now)
    fillSurrogate(merged, "measurement_id_sk",
      Seq("measured_date", "defining_parameter", "defining_site"))
      .select(Schemas.measurementNds.fieldNames.map(col): _*)
  }

  /** Partition-scoped measurement merge — the fact-table shape that
    * holds at 100 TB. The business key contains the partition column
    * (`measured_date`), so a key can never move partitions; the merge
    * therefore:
    *   1. restricts the target to the partitions present in the source
    *      (left-semi on the partition key — served by partition pruning
    *      / dynamic partition pruning, so untouched partitions are
    *      never read);
    *   2. runs the same SCD-1 merge on that slice;
    *   3. dynamic-partition-overwrites ONLY the touched partitions.
    * A daily load thus reads+rewrites one day's partitions, not the
    * table. Surrogate continuation uses the global max key.
    */
  def mergeMeasurementsPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      warehouseDir: String,
      stateNds: DataFrame,
      countyNds: DataFrame,
      aqiStage: DataFrame,
      now: Column,
      table: String = "measurement_nds"): Unit = {
    import graft.sources.Warehouse
    val source = measurementSource(stateNds, countyNds, aqiStage)
    val target = Warehouse.readOrEmpty(spark, warehouseDir, table, Schemas.measurementNds)
    val affectedDates = source.select("measured_date").distinct()
    val targetSlice = target.join(broadcast(affectedDates), Seq("measured_date"), "left_semi")
    val globalMax = target.agg(coalesce(max(col("measurement_id_sk")), lit(0L)))
      .collect()(0).getLong(0)
    val merged = fillSurrogate(
      Merge.scd1(targetSlice, source, measurementSpec, now),
      "measurement_id_sk",
      Seq("measured_date", "defining_parameter", "defining_site"),
      maxOverride = Some(globalMax))
      .select(Schemas.measurementNds.fieldNames.map(col): _*)
    Warehouse.overwritePartitions(merged, warehouseDir, table, "measured_date")
  }
}
