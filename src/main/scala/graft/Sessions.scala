package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factories with the engine's standard configuration.
  *
  * All timestamps are UTC (the reference's watermarks are tz-aware UTC,
  * see its `dags/etl/source_to_stage.py:12`); AQE on so skewed
  * shuffles re-plan at runtime on a real cluster; no UI.
  */
object Sessions {
  /** Library session (tests, `RunPipeline`, `PlanDump`): shuffle
    * partitions sized for local[32] rather than the 200 default.
    */
  def local(appName: String = "graft", cores: String = "*"): SparkSession =
    start(cores, "32", _.appName(appName)
      // the full extension ladder (native SQL functions, the broadcast
      // as-of strategy, the MV-rewrite and levenshtein-prefilter
      // optimizer rules) rides the config-driven path — exactly how a
      // cluster deploy would enable it
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-spark-warehouse"))

  /** Core count of [[driver]] sessions: `SPARK_GRAFT_CPUS`, default 4. */
  def driverCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The session of every driver-facing main (`Bench`, `Verify`, the
    * benchmark mains): one shuffle partition per core, no extensions.
    */
  def driver(): SparkSession = start(driverCpus.toString, driverCpus.toString, identity)

  private def start(cores: String, shufflePartitions: String,
      extra: SparkSession.Builder => SparkSession.Builder): SparkSession = {
    val spark = extra(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
