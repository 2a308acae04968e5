package dagbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalatest.funsuite.AnyFunSuite

class CollectorSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One aggregate over a range: a single shuffle between two stages. */
  private def oneShuffle(): Unit =
    spark.range(0, 20000, 1, 4).groupBy((col("id") % 7).as("k"))
      .agg(count(lit(1)).as("n")).collect()

  private def traced(c: Collector): SpanMetrics = {
    c.clear()
    c.span("query")(oneShuffle())
    val m = c.report()
    assert(m.keySet == Set("query"))
    assert(m("query").jobs == c.jobCount, "every job belongs to the span")
    m("query")
  }

  test("a one-shuffle query reports its shuffle, a stable job count and its time") {
    val c = new Collector(spark)
    try {
      val first = traced(c)
      val second = traced(c)
      assert(first.jobs >= 1)
      assert(second.jobs == first.jobs)
      assert(first.shuffleBytes > 0 && second.shuffleBytes > 0)
      assert(first.taskS > 0)
      assert(first.planS > 0, "the query's planning time is attributed to the span")
      assert(first.s >= first.driverS)
      assert(first.rowsOut == 0, "nothing is written")
    } finally c.close()
  }

  test("jobs outside a span are counted but attributed to no span") {
    val c = new Collector(spark)
    try {
      c.clear()
      oneShuffle()
      c.span("query")(oneShuffle())
      val m = c.report()
      assert(c.jobCount == 2 * m("query").jobs)
    } finally c.close()
  }
}
