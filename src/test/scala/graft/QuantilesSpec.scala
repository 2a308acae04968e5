package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Quantiles

class QuantilesSpec extends AnyFunSuite with SparkTest {

  private def data = {
    val s = spark; import s.implicits._
    // two groups with known shapes: uniform 0..999 and a skewed tail
    ((0 until 1000).map(i => ("uni", i.toDouble)) ++
      (0 until 1000).map(i => ("skew", if (i < 900) i / 10.0 else i.toDouble)))
      .toDF("g", "v")
  }

  test("grid estimate lands within one cell width of the exact quantile") {
    val cells = 256
    val grid = Quantiles.gridQuantiles(data, "v", "g", Seq(0.5, 0.9), cells)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3)).toMap
    data.createOrReplaceTempView("qt")
    val exact = spark.sql(
      "SELECT g, percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS p50, " +
        "percentile_disc(0.9) WITHIN GROUP (ORDER BY v) AS p90, " +
        "max(v) - min(v) AS range FROM qt GROUP BY g")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    for ((g, (p50, p90, range)) <- exact) {
      val cell = range / cells
      assert(math.abs(grid((g, 0.5)) - p50) <= cell + 1e-9,
        s"$g p50: grid=${grid((g, 0.5))} exact=$p50 cell=$cell")
      assert(math.abs(grid((g, 0.9)) - p90) <= cell + 1e-9,
        s"$g p90: grid=${grid((g, 0.9))} exact=$p90 cell=$cell")
    }
  }

  test("single-value groups return the value itself") {
    val s = spark; import s.implicits._
    val df = Seq(("a", 7.5), ("a", 7.5), ("b", 1.0)).toDF("g", "v")
    val out = Quantiles.gridQuantiles(df, "v", "g", Seq(0.5), 16)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out == Map("a" -> 7.5, "b" -> 1.0))
  }

  test("output is deterministic across partitionings") {
    def run(parts: Int) =
      Quantiles.gridQuantiles(data.repartition(parts), "v", "g", Seq(0.25, 0.5, 0.75, 0.9), 128)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(run(1) == run(13))
  }

  test("equiDepthBins: ~equal occupancy, bin id = cutoffs strictly below") {
    val s = spark; import s.implicits._
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val out = Quantiles.equiDepthBins(df, "v", nBins = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // quartile cutoffs are the data values 25/50/75; bins: 1..25 -> 0,
    // 26..50 -> 1, 51..75 -> 2, 76..100 -> 3 (cutoff values stay low)
    assert(out(1L) == 0 && out(25L) == 0)
    assert(out(26L) == 1 && out(50L) == 1)
    assert(out(51L) == 2 && out(75L) == 2)
    assert(out(76L) == 3 && out(100L) == 3)
    val occupancy = out.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(occupancy == Map(0 -> 25, 1 -> 25, 2 -> 25, 3 -> 25))
    // NULL values take no part in the cutoffs and land in bin 0
    val withNulls = df.unionByName((101 to 150).map(i => (i.toLong, None: Option[Double]))
      .toDF("id", "v"))
    val outN = Quantiles.equiDepthBins(withNulls, "v", nBins = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(outN.filter(_._1 <= 100L) == out)
    assert((101L to 150L).forall(outN(_) == 0))
  }

  test("equiDepthBins holds equal depth under heavy skew (uniform bins would not)") {
    val s = spark; import s.implicits._
    // 90% of mass at tiny values, a long tail
    val vals = (1 to 90).map(_.toDouble / 1000) ++ (1 to 10).map(_ * 1000.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val occ = Quantiles.equiDepthBins(df, "v", nBins = 2)
      .groupBy("bin").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(occ == Map(0 -> 50L, 1 -> 50L))
  }

  test("weightedMedian: mass median diverges from count median under long docs") {
    val s = spark; import s.implicits._
    // group g: lengths 1,1,1,1,10 — count-median is 1, but the single
    // 10 carries 10/14 of the mass, so the mass median is 10
    val df = Seq((1L, "g", 1L), (2L, "g", 1L), (3L, "g", 1L), (4L, "g", 1L),
      (5L, "g", 10L), (6L, "h", 2L), (7L, "h", 4L)).toDF("id", "grp", "len")
    val out = Quantiles.weightedMedian(df, "grp", "len", "len")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("g" -> 10L, "h" -> 4L))
    // h: weights 2,4 -> cum at 2 is 2, 2*2<6; at 4 cum 6, 12>=6 -> 4
    // determinism under repartitioning
    val rep = Quantiles.weightedMedian(df.repartition(4), "grp", "len", "len")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep == out)
  }

  test("rollingGridQuantile: trailing window merges daily cells; day gaps respected") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    // group a: day1 -> 5; day2 -> 25, 35; day5 -> 95 (outside day2's
    // 2-day window). Grid: lo 0, width 10, 8 cells.
    val df = Seq(
      ("a", "2024-01-01", 5L),
      ("a", "2024-01-02", 25L), ("a", "2024-01-02", 35L),
      ("a", "2024-01-05", 95L)).toDF("g", "day", "v")
      .withColumn("day", to_date($"day"))
    val out = Quantiles.rollingGridQuantile(df, "g", col("day"), col("v"),
        lo = 0L, width = 10L, nBins = 8, windowDays = 2,
        probes = Seq((1, 2, "p50_hi")))
      .collect().map(r => r.getDate(1).toString -> ((r.getLong(2), r.getLong(3)))).toMap
    // day1: {5} -> p50 cell 0, hi edge 10
    assert(out("2024-01-01") == ((1L, 10L)))
    // day2 window = day1+day2: {5,25,35}, rank 2 -> cell 2, hi edge 30
    assert(out("2024-01-02") == ((3L, 30L)))
    // day5 window = day4+day5: only {95} -> clamped into cell 7, hi 80
    assert(out("2024-01-05") == ((1L, 80L)))
  }
}
