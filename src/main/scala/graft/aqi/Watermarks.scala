package graft.aqi

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.Warehouse

/** CET/LSET watermark manager — the reference's `metadata` table
  * protocol (`source_to_stage.py:9-26,37-45`): CET (Current Extraction
  * Time) is stamped before a stage load, LSET (Last Successful
  * Extraction Time) only after the window has reached the NDS —
  * [[Pipeline.run]] sets it after the `measurement_nds` write — so a run
  * that fails at any write re-extracts the same closed window on retry
  * and loses no row (at-least-once, SURVEY §2.6 O3). Stored as a single
  * small parquet table.
  */
object Watermarks {

  val TableName = "metadata"

  /** The epoch default gives a full-history window on first run. */
  private val epoch = Timestamp.from(Instant.EPOCH)

  private def readAll(spark: SparkSession, dir: String) =
    Warehouse.readOrEmpty(spark, dir, TableName, Schemas.metadata)

  /** A stored (table_name, cet, lset) row as its window; a NULL stamp
    * reads as the epoch.
    */
  private def window(r: Row): (Timestamp, Timestamp) =
    (Option(r.getTimestamp(1)).getOrElse(epoch), Option(r.getTimestamp(2)).getOrElse(epoch))

  /** Read (cet, lset) for a staged table, bootstrapping a row if absent. */
  def getWindow(spark: SparkSession, dir: String, table: String): (Timestamp, Timestamp) =
    readAll(spark, dir)
      .filter(col("table_name") === table)
      .collect()
      .headOption.map(window).getOrElse((epoch, epoch))

  /** Write `value` into `table`'s `colName` stamp; returns the row written. */
  private def setColumn(
      spark: SparkSession, dir: String, table: String,
      colName: String, value: Timestamp): Row = {
    val (mine, others) = readAll(spark, dir).collect().toSeq
      .partition(_.getAs[String]("table_name") == table)
    val existing = mine.headOption
    val updated = existing match {
      case Some(r) =>
        if (colName == "cet") Row(table, value, r.getAs[Timestamp]("lset"))
        else Row(table, r.getAs[Timestamp]("cet"), value)
      case None =>
        if (colName == "cet") Row(table, value, null) else Row(table, null, value)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(others :+ updated, 1), Schemas.metadata)
    Warehouse.overwrite(df, dir, TableName)
    updated
  }

  /** Stamp CET and return the (cet, lset) window just written, the one
    * [[getWindow]] would read back.
    */
  def setCet(spark: SparkSession, dir: String, table: String, now: Timestamp): (Timestamp, Timestamp) =
    window(setColumn(spark, dir, table, "cet", now))

  def setLset(spark: SparkSession, dir: String, table: String, now: Timestamp): Unit =
    setColumn(spark, dir, table, "lset", now)
}
