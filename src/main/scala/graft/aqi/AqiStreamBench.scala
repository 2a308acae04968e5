package graft.aqi

import java.nio.file.{Files, Paths}

import org.json4s.{JDouble, JInt, JObject, JString}
import org.json4s.jackson.JsonMethods.compact

import graft.Bench.seconds
import graft.operators.MergeSpec
import graft.streaming.Streams

/** Streaming-path throughput benchmark: the same reference-scale corpus
  * as [[AqiBench]], pushed through the two streaming entry points —
  *
  *   1. `Staging.stageAqiStream` — file-source CSV stream → transform →
  *      parquet stage (exactly-once via checkpoint file tracking);
  *   2. `Streams.upsertStream` — the staged rows as a parquet stream,
  *      SCD-1-merged into the warehouse measurement table per
  *      micro-batch (initial load, then a 10%-delta incremental pass
  *      with half updates / half inserts).
  *
  * Prints one JSON line with rows/second per phase so later rounds can
  * detect streaming regressions against the numbers in BASELINE.md.
  *
  *   sbt "runMain graft.aqi.AqiStreamBench [rows] [workDir]"
  */
object AqiStreamBench {

  def main(args: Array[String]): Unit = {
    val totalRows = (args.headOption.map(_.toInt).getOrElse(1000000) / 3) * 3
    val work = args.lift(1).getOrElse(
      Files.createTempDirectory("aqi-stream-bench").toString)
    val spark = graft.Sessions.driver()

    val src = s"$work/src"; val srcDelta = s"$work/srcDelta"
    Files.createDirectories(Paths.get(src)); Files.createDirectories(Paths.get(srcDelta))
    val corpus = AqiBench.initialCorpus(src, totalRows)
    import corpus.{counties, createdDay, rnd}
    var key = corpus.nextKey
    val initialKeys = key
    val deltaRows = totalRows / 10
    val wD = AqiBench.csv(s"$srcDelta/10_state_aqi_2024.csv")
    for (i <- 0 until deltaRows) {
      if (i % 2 == 0) { // update of an existing business key; the prime
        // stride is coprime with initialKeys, so update keys are
        // distinct — a micro-batch never carries two versions of a key
        val k = (i.toLong * 7919L % initialKeys).toInt
        wD.write(AqiBench.row(counties, rnd, k, createdDay(k), "2026-01-03"))
      } else { wD.write(AqiBench.row(counties, rnd, key, "2026-01-03", "2026-01-03")); key += 1 }
    }
    wD.close()

    // —— phase 1: streaming staging (CSV file source → parquet) ——
    val staged = s"$work/staged"
    val stageSec = seconds {
      Staging.stageAqiStream(spark, src, staged, s"$work/cp-stage").awaitTermination()
    }
    val stagedRows = spark.read.parquet(staged).count()
    require(stagedRows == totalRows, s"staged $stagedRows != $totalRows")

    // —— phase 2: streaming SCD-1 upsert (staged parquet stream →
    // foreachBatch merge → atomic swap), initial load ——
    val wh = s"$work/wh"
    val spec = MergeSpec(
      Seq("measured_date", "defining_site", "defining_parameter"),
      Seq("aqi_value", "aqi_category"),
      createdCol = Some("created_date_nds"),
      updatedCol = Some("last_updated_nds"),
      touchCols = Seq("last_updated"))
    def stagedStream(dir: String) =
      spark.readStream.schema(Schemas.stateAqiStage).parquet(dir)
    val upsertSec = seconds {
      Streams.upsertStream(stagedStream(staged), wh, "measurement_stream",
        spec, s"$work/cp-upsert").awaitTermination()
    }
    val whRows = graft.sources.Warehouse.read(spark, wh, "measurement_stream").count()
    require(whRows == totalRows, s"warehouse $whRows != $totalRows")

    // —— phase 3: incremental upsert of the 10% delta against the
    // 1M-row table (half updates, half inserts) ——
    val stagedDelta = s"$work/stagedDelta"
    Staging.stageAqiStream(spark, srcDelta, stagedDelta, s"$work/cp-stage-delta")
      .awaitTermination()
    val deltaSec = seconds {
      Streams.upsertStream(stagedStream(stagedDelta), wh, "measurement_stream",
        spec, s"$work/cp-upsert-delta").awaitTermination()
    }
    val whRows2 = graft.sources.Warehouse.read(spark, wh, "measurement_stream").count()
    require(whRows2 == totalRows + deltaRows / 2, s"after delta: $whRows2")

    println(compact(JObject("metric" -> JString("aqi_stream"), "stage_rows" -> JInt(totalRows),
      "stage_sec" -> JDouble(stageSec), "stage_rows_per_sec" -> JInt((totalRows / stageSec).toLong),
      "upsert_rows" -> JInt(totalRows), "upsert_sec" -> JDouble(upsertSec),
      "upsert_rows_per_sec" -> JInt((totalRows / upsertSec).toLong),
      "delta_rows" -> JInt(deltaRows), "delta_sec" -> JDouble(deltaSec),
      "delta_rows_per_sec" -> JInt((deltaRows / deltaSec).toLong))))
    spark.stop()
  }
}
