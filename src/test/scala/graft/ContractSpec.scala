package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract: every gate name is distinct, every oracle SQL
  * entry pairs with a query, every query runs at smoke scale, and the
  * flagship entry returns rows. Catches a renamed/removed query before
  * the driver's gate does.
  */
class ContractSpec extends AnyFunSuite with SparkTest {

  private val sf = "/root/testdata/sf0.001"

  test("gate names are distinct; queries and oracleSql each carry every gate") {
    // a query and its oracle share one Gate value, so they pair by
    // construction; what a map cannot show is a repeated name — toMap
    // (like a map literal) silently keeps only the last of the two
    val names = SparkEntry.gates.map(_.name)
    val repeated = names.diff(names.distinct)
    assert(repeated.isEmpty, s"gate names used twice: $repeated")
    assert(names.size == 460)
    assert(SparkEntry.queries.size == names.size)
    assert(SparkEntry.oracleSql.size == names.size)
  }

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("every query has an oracle — no rows-only entries") {
    // every operator, including the hash-seeded ones, has a full DuckDB
    // replay; a query without one (or with blank SQL) would silently
    // downgrade the driver's check to rows-only
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty, s"queries without oracle SQL: $unoracled")
    assert(SparkEntry.oracleSql.forall(_._2.trim.nonEmpty), "a gate with blank oracle SQL")
  }

  test("entry returns rows at smoke scale") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs end-to-end at smoke scale (t1)") {
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try { fn(spark, sf).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
