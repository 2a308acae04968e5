package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.compact
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `oracle_sql.json`: query name → oracle SQL, one JSON object. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    compact(JObject(sql.toList.map { case (name, q) => name -> JString(q) }))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // local-iteration filter (comma-separated names); driver leaves it
    // unset and gets the full suite
    val selected = Bench.selectQueries(SparkEntry.queries, sys.env.get("SPARK_GRAFT_QUERIES"))
    val spark = Sessions.driver()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally Bench.release(spark)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }
}
