package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry.Artifacts
import graft.sources.Warehouse

/** The derived-artifact helper's contract: one root, content-addressed
  * names, a build once per session, reuse from disk across sessions —
  * plus the gate whose base table used to be keyed on a row count.
  */
class ArtifactsSpec extends AnyFunSuite with SparkTest {

  /** A fresh source dir; its artifact dir is removed afterwards. */
  private def withSourceDir(body: String => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory("artifacts").toString
    try body(d)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(Artifacts.dir(d)))
  }

  private def keys(from: Long, n: Long): DataFrame = spark.range(from, from + n).toDF("k")

  test("artifact dirs live under one root, one sanitized subdirectory per source dir") {
    val dir = Artifacts.dir("/no/such/sf0.01")
    try assert(dir == new java.io.File("target/graft_wh/_no_such_sf0.01").getAbsolutePath)
    finally new java.io.File(dir).delete()
  }

  test("table form: named <prefix>_<rows>_<hex>, built once per session") {
    withSourceDir { d =>
      val builds = new AtomicInteger
      def stage() = Artifacts.table(spark, d, "t", keys(0, 5), "k") { src =>
        builds.incrementAndGet(); src
      }
      val (dir, tbl) = stage()
      assert(dir == Artifacts.dir(d))
      assert(tbl.matches("t_5_[0-9a-f]+"), tbl)
      assert(stage() == ((dir, tbl)))
      assert(builds.get == 1)
      assert(Warehouse.read(spark, dir, tbl).count() == 5)
    }
  }

  test("table form: a new session finds the table on disk and builds nothing") {
    withSourceDir { d =>
      val builds = new AtomicInteger
      def stage(s: org.apache.spark.sql.SparkSession) =
        Artifacts.table(s, d, "t", keys(0, 5), "k") { src => builds.incrementAndGet(); src }
      val first = stage(spark)
      assert(builds.get == 1)
      assert(stage(spark.newSession()) == first)
      assert(builds.get == 1, "a later session must reuse the table on disk")
    }
  }

  test("table form: changed content under the same row count gets a new name") {
    withSourceDir { d =>
      def name(src: DataFrame, key: String) =
        Artifacts.table(spark, d, "t", src, key)(identity)._2
      val base = name(keys(0, 5), "k")
      assert(name(keys(1, 5), "k") != base)
      assert(name(keys(0, 6), "k") != base)
      // same keys, other payload: only a whole-row (`*`) address sees it
      val v1 = keys(0, 5).withColumn("v", col("k") * 2)
      val v2 = keys(0, 5).withColumn("v", col("k") * 3)
      assert(name(v1, "k") == name(v2, "k"))
      assert(name(v1, "*") != name(v2, "*"))
    }
  }

  test("fold and path forms run their build once per session") {
    withSourceDir { d =>
      val folds = new AtomicInteger
      val loc = Artifacts.fold(spark, d, "f")((_, _) => folds.incrementAndGet())
      assert(Artifacts.fold(spark, d, "f")((_, _) => folds.incrementAndGet()) == loc)
      assert(loc == ((Artifacts.dir(d), "f")))
      assert(folds.get == 1)

      val writes = new AtomicInteger
      def publish(s: org.apache.spark.sql.SparkSession) = Artifacts.path(s, d, "p") { tmp =>
        writes.incrementAndGet()
        keys(0, 3).write.parquet(tmp)
      }
      val path = publish(spark)
      assert(path == s"${Artifacts.dir(d)}/p")
      assert(publish(spark) == path && publish(spark.newSession()) == path)
      assert(writes.get == 1)
      assert(!new java.io.File(s"$path.tmp").exists())
      assert(spark.read.parquet(path).count() == 3)
    }
  }

  test("merge_partitioned_delta rebuilds its base when prices change under the same row count") {
    withSourceDir { d =>
      val rows = Seq(
        (1L, "2001-01-15 00:00:00", 100.0), (2L, "2001-03-01 00:00:00", 200.0),
        (3L, "2001-07-01 00:00:00", 300.0), (4L, "2001-08-01 00:00:00", 400.0))
      def writeOrders(bump: Double): Unit = {
        val s = spark; import s.implicits._
        rows.toDF("o_orderkey", "o_orderdate", "o_totalprice")
          .select(col("o_orderkey"), (col("o_orderkey") + 10).as("o_custkey"),
            (col("o_totalprice") + bump).as("o_totalprice"),
            to_timestamp(col("o_orderdate")).as("o_orderdate"))
          .write.mode("overwrite").parquet(s"$d/orders.parquet")
      }
      // orders dated from 2001-06-01 on restate at twice the price and
      // gain a negated-key twin; earlier orders keep their price
      def expected(bump: Double): Map[Long, Double] = rows.flatMap { case (k, ts, p) =>
        if (ts < "2001-06-01") Seq(k -> (p + bump))
        else Seq(k -> (p + bump) * 2, -k -> (p + bump) * 2)
      }.toMap
      def run(s: org.apache.spark.sql.SparkSession): Map[Long, Double] =
        SparkEntry.queries("merge_partitioned_delta")(s, d)
          .select("o_orderkey", "o_totalprice").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap

      writeOrders(0.0)
      assert(run(spark) == expected(0.0))
      writeOrders(7.0)
      assert(run(spark.newSession()) == expected(7.0),
        "a regenerated source with the same row count must not merge into the stale base")
    }
  }
}
