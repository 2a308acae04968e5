package graft.aqi

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.graft.Jobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** The two surrogate-assignment paths (global window for small inserts,
  * range-repartition + zipWithIndex above [[Nds.SurrogateWindowMax]])
  * must produce the same contract: dense keys continuing from the
  * current max, assigned in order-key order. The max and the insert
  * count are observed on the checkpoint job, so the stats cost no job of
  * their own.
  */
class SurrogateSpec extends AnyFunSuite with SparkTest {

  /** (sk, k) rows: keys 1..priorMax already assigned, then `n` inserts. */
  private def input(n: Int, priorMax: Long): DataFrame = {
    val s = spark; import s.implicits._
    val existing = (1L to priorMax).map(i => (Some(i), f"zzz$i%08d"))
    val inserted = (0 until n).map(i => (None: Option[Long], f"key$i%08d"))
    s.createDataset(existing ++ inserted).toDF("sk", "k")
  }

  /** `fillSurrogate`'s rows as (k, sk) sorted by k, and the jobs it ran
    * before returning. Runs off the test thread with a deadline: an
    * observation whose action reports no metrics blocks forever.
    */
  private def fill(df: DataFrame, maxOverride: Option[Long] = None): (Seq[(String, Long)], Int) = {
    val (out, jobs) = Await.result(Future(Jobs.count(spark.sparkContext)(
      Nds.fillSurrogate(df, "sk", Seq("k"), maxOverride)))(ExecutionContext.global), 5.minutes)
    (out.select("k", "sk").collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1),
      jobs)
  }

  private def checkDenseOrdered(n: Int, priorMax: Long): Int = {
    val (out, jobs) = fill(input(n, priorMax))
    val inserted = out.filter(_._1.startsWith("key"))
    assert(inserted.length == n)
    // dense, continuing from priorMax, in key order
    assert(inserted.map(_._2) == (priorMax + 1 to priorMax + n))
    // existing rows keep their keys
    assert(out.filter(_._1.startsWith("zzz")).map(_._2) == (1L to priorMax))
    jobs
  }

  test("window path: dense ordered keys continuing from max") {
    // the checkpoint is the one job before the keys are planned
    assert(checkDenseOrdered(1000, priorMax = 7) == 1)
  }

  test("zipWithIndex path: dense ordered keys continuing from max") {
    assert(Nds.SurrogateWindowMax < 150000,
      "test sized to exceed the window threshold")
    checkDenseOrdered(150000, priorMax = 3)
  }

  test("maxOverride: inserts continue from the override, not the observed max") {
    val (out, _) = fill(input(3, priorMax = 5), maxOverride = Some(100L))
    assert(out.map(_._2) == Seq(101L, 102L, 103L) ++ (1L to 5L))
  }

  test("zero inserts: every row keeps its key") {
    val (out, _) = fill(input(0, priorMax = 4))
    assert(out.map(_._2) == (1L to 4L))
  }

  test("empty input finishes with no rows; a first load keys from 1") {
    assert(fill(input(0, priorMax = 0))._1.isEmpty)
    // an empty input the optimizer folds away before the checkpoint runs
    assert(fill(input(5, priorMax = 2).where(lit(false)))._1.isEmpty)
    assert(fill(input(3, priorMax = 0))._1.map(_._2) == Seq(1L, 2L, 3L))
  }
}
