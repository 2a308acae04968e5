package graft

import java.util.concurrent.atomic.AtomicLong

/** Process-unique temp-view names.
  *
  * Operators that route through the SQL parser (`spark.sql` — e.g.
  * GROUPING SETS, LATERAL subqueries, `percentile_disc … WITHIN GROUP`)
  * need catalog views. A fixed view name is
  * hidden global state: two pipelines sharing one SparkSession would
  * clobber each other's views. Every registration therefore gets a
  * process-unique suffix, and callers drop their views as soon as the
  * statement is analyzed (`spark.sql` resolves eagerly, so the returned
  * DataFrame keeps working after the drop).
  */
object Views {
  private val seq = new AtomicLong(0L)

  def unique(base: String): String = s"${base}_${seq.incrementAndGet()}"
}
