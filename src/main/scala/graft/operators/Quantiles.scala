package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-grid histogram quantiles — the scale tier beside exact
  * `percentile_disc` (the `q_quantiles` query).
  *
  * Exact per-group quantiles sort every group (`percentile_disc` is a
  * full sort behind one reducer per group at cluster scale). This
  * operator instead makes two combinable aggregate passes:
  *
  *   1. per-group bounds `(lo, hi, n)` — min/max/count, map-side
  *      combinable;
  *   2. per-group histogram over `cells` uniform buckets between the
  *      bounds — a `(group, bucket)` count, also combinable; the
  *      shuffle carries at most `cells` rows per group per map task.
  *
  * The p-quantile is then read off the cumulative histogram (tiny:
  * groups × cells rows) as the upper edge of the first bucket whose
  * cumulative count reaches `ceil(p·n)`. Error is bounded by one cell
  * width `(hi−lo)/cells` — a knob, not a distributional gamble (unlike
  * sampling-based sketches), and the whole computation is deterministic
  * IEEE arithmetic, so the DuckDB oracle replays it bit-for-bit.
  *
  * Degenerate groups (`hi == lo`) short-circuit to `lo` (the bucket
  * expression would otherwise divide by zero).
  */
object Quantiles {

  /** @return one row per (group, prob): `(groupCol, p, n, est)` */
  def gridQuantiles(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      probs: Seq[Double],
      cells: Int): DataFrame = {
    require(cells >= 2, "need at least 2 cells")
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1), "probs must be in (0, 1]")
    val spark = df.sparkSession

    val bounds = df.groupBy(col(groupCol)).agg(
      min(col(valueCol)).as("__lo"), max(col(valueCol)).as("__hi"),
      count(lit(1)).as("__n"))
    val width = col("__hi") - col("__lo")
    val rawBucket = floor((col(valueCol) - col("__lo")) / width * cells)
    val bucket = when(col("__hi") === col("__lo"), lit(0L))
      .otherwise(least(greatest(rawBucket, lit(0L)), lit((cells - 1).toLong)))

    val hist = df.join(broadcast(bounds), Seq(groupCol))
      .withColumn("__bkt", bucket)
      .groupBy(col(groupCol), col("__n"), col("__lo"), col("__hi"), col("__bkt"))
      .agg(count(lit(1)).as("__c"))
    val cum = hist.withColumn("__cum",
      sum(col("__c")).over(Window.partitionBy(col(groupCol)).orderBy(col("__bkt"))))

    val pTable = spark.createDataFrame(probs.map(Tuple1(_))).toDF("p")
    val picked = cum
      .join(broadcast(pTable), col("__cum") >= ceil(col("p") * col("__n")))
      .groupBy(col(groupCol), col("p"), col("__n"), col("__lo"), col("__hi"))
      .agg(min(col("__bkt")).as("__qb"))

    picked.select(
      col(groupCol), col("p"), col("__n").as("n"),
      when(col("__hi") === col("__lo"), col("__lo"))
        .otherwise(
          col("__lo") + (col("__qb") + 1).cast("double") * (col("__hi") - col("__lo")) / cells)
        .as("est"))
  }

  /** Trailing-window quantiles from mergeable daily grid histograms —
    * the "p50/p90 over the last 7 days, every day" dashboard, built
    * the way 100 TB percentile monitoring has to be: the ONLY
    * data-sized pass is the daily (group, day, cell) count (one
    * combinable aggregate); the rolling merge is a RANGE-frame SUM
    * over the calendar × cells × groups grid (corpus-independent —
    * the CRDT count-addition merge of
    * [[graft.functions.GridQuantileAgg]] applied on the time axis,
    * exactly as the rolling-HLL operator merges registers), and the
    * quantile reads off each day's cumulative cells by the exact
    * integer rank rule cum·den ≥ n·num (upper cell edge — the same
    * pinned pick as the sketch gates).
    *
    * Cells are CONFIG (`lo`/`width`/`nBins`, out-of-range clamps into
    * the edge cells); probes are exact fractions (num, den, name).
    * Days come off the daily count table (any day with data has a
    * row) — no second corpus scan.
    */
  def rollingGridQuantile(
      df: DataFrame,
      groupCol: String,
      dayCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column,
      lo: Long,
      width: Long,
      nBins: Int,
      windowDays: Int,
      probes: Seq[(Int, Int, String)]): DataFrame = {
    require(width >= 1 && nBins >= 2 && windowDays >= 1)
    require(probes.nonEmpty && probes.forall { case (n, d, _) => n > 0 && n <= d })
    val spark = df.sparkSession
    val bin = least(greatest(
      expr(s"CAST((__v - $lo) AS BIGINT) div $width"), lit(0L)),
      lit((nBins - 1).toLong))
    val daily = Caches.persisted(df
      .withColumn("__v", valueCol).withColumn("__day", dayCol)
      .groupBy(col(groupCol), col("__day"), bin.as("b"))
      .agg(count(lit(1)).as("c")))
    val days = daily.select(col(groupCol), col("__day")).distinct()
    val bins = spark.range(nBins).select(col("id").as("b"))
    val grid = days.crossJoin(broadcast(bins)) // calendar × cells × groups
    val wRoll = Window.partitionBy(col(groupCol), col("b"))
      .orderBy(col("__x")).rangeBetween(-(windowDays - 1).toLong, 0L)
    val windowed = grid.join(daily, Seq(groupCol, "__day", "b"), "left")
      .withColumn("__x", datediff(col("__day"), to_date(lit("1970-01-01"))))
      .withColumn("wc", sum(coalesce(col("c"), lit(0L))).over(wRoll))
    val wCum = Window.partitionBy(col(groupCol), col("__day"))
      .orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = windowed
      .withColumn("cum", sum(col("wc")).over(wCum))
      .withColumn("n", sum(col("wc")).over(
        Window.partitionBy(col(groupCol), col("__day"))))
      .where(col("n") > 0)
    val picks = probes.map { case (num, den, name) =>
      min(when(col("cum") * den >= col("n") * num, col("b"))).as(s"__qb_$name")
    }
    val agg = cum.groupBy(col(groupCol), col("__day").as("day"), col("n"))
      .agg(picks.head, picks.tail: _*)
    probes.foldLeft(agg) { case (d0, (_, _, name)) =>
      d0.withColumn(name, lit(lo) + (col(s"__qb_$name") + 1) * lit(width))
        .drop(s"__qb_$name")
    }.withColumnRenamed("n", "n_window")
  }

  /** Equi-depth (quantile) binning — the standard feature
    * discretization: assign each row the index of its quantile bucket,
    * so every bin holds ~1/nBins of the data regardless of the value
    * distribution (uniform-width bins collapse under skew).
    *
    * Cutoffs are ACTUAL data values, no interpolation: cutoff i is the
    * smallest value whose running row count (a running sum over the
    * distinct values in order) reaches i/nBins of the rows, tested as
    * the integer cross-multiplication `cum·nBins ≥ n·i` — no float in
    * the selection, and the value `percentile_disc(i/nBins)` returns.
    * The bin id is the exact count of cutoffs strictly below the value,
    * so the assignment is reproducible on any engine given the same
    * cutoffs. For gates against a `percentile_disc` oracle use a
    * power-of-two `nBins`: the fractions i/nBins are then exact binary
    * doubles and the oracle's rank positions match (a fraction like 0.1
    * can straddle a rounding boundary in p·n).
    *
    * NULLs: like `percentile_disc`, the cutoffs ignore NULL values; NULL
    * rows still pass through, with bin 0.
    *
    * Shape at scale: one combinable count aggregation (only distinct
    * values cross the shuffle) plus a running sum over the distinct
    * value domain (an unpartitioned, domain-sized window) produce the
    * nBins−1 cutoffs; the assignment is a broadcast of that 1-row table
    * plus a codegen'd when-chain over the rows.
    */
  def equiDepthBins(
      df: DataFrame,
      valueCol: String,
      nBins: Int,
      binCol: String = "bin"): DataFrame = {
    require(nBins >= 2, "need at least 2 bins")
    // the cutoffs — the smallest value whose cumulative row count
    // reaches ceil(i·n/nBins) — come from ONE combinable count
    // aggregation over the DISTINCT value domain plus a domain-sized
    // running sum, instead of nBins−1 separate percentile_disc
    // aggregates (each of which buffers every row per cutoff). The
    // rank test cum·nBins ≥ n·i is exact integer arithmetic, so the
    // cut selection never touches a float.
    val w = org.apache.spark.sql.expressions.Window.orderBy(valueCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = df.where(col(valueCol).isNotNull)
      .groupBy(col(valueCol)).agg(count(lit(1)).as("__n"))
      .select(col(valueCol), sum(col("__n")).over(w).as("__cum"))
    val cutCols = (1 until nBins).map { i =>
      min(when(col("__cum") * nBins >= col("__total") * i, col(valueCol)))
        .as(s"__c$i")
    }
    val cuts = cum
      .select(col(valueCol), col("__cum"), max(col("__cum")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()).as("__total"))
      .agg(cutCols.head, cutCols.tail: _*)
    val bin = (1 until nBins)
      .map(i => when(col(valueCol) > col(s"__c$i"), 1).otherwise(0))
      .reduce(_ + _)
    df.crossJoin(broadcast(cuts))
      .withColumn(binCol, bin)
      .drop((1 until nBins).map(i => s"__c$i"): _*)
  }

  /** Per-group WEIGHTED median: the smallest value whose cumulative
    * weight reaches half the group's total (`2·cum ≥ total`, exact
    * integer cross-multiplication — no float halving). With weight =
    * token count and value = document length this answers the curation
    * question "at what length does half the corpus's token MASS sit in
    * shorter documents?" — which the unweighted median misstates
    * whenever long docs dominate the mass.
    *
    * Shape at scale: weights collapse onto DISTINCT (group, value)
    * rows first (combinable sum — the corpus contributes its value
    * cardinality, not its row count); the running sum windows over
    * that collapsed table per group; one final min per group.
    */
  def weightedMedian(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      weightCol: String): DataFrame = {
    val byValue = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol))
      .agg(sum(col(weightCol)).as("__w"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    byValue
      .withColumn("__cum", sum(col("__w")).over(w))
      .withColumn("__tot", sum(col("__w")).over(tot))
      .where(col("__cum") * 2 >= col("__tot"))
      .groupBy(col(groupCol))
      .agg(min(col(valueCol)).as("w_median"))
  }

  /** Merge already-materialized [[graft.functions.HashRankQuantileAgg]]
    * states — the O(delta) maintenance / streaming-fold primitive:
    * `parts` holds one or more `(group, level, n, items[(tz, v)])` rows
    * per group (yesterday's state, the delta's, per-batch partials…)
    * and the result is the state a single pass over the UNION of their
    * inputs would have produced — exactly, not approximately, because
    * the sketch's survivors at any level ≥ a part's own level are fully
    * recoverable from that part (it only dropped items that can never
    * resurface). New level = min l ≥ max(part levels) with ≤ k
    * survivors; cost is (groups × ≤129 candidate levels × ≤ parts·k
    * items) — metadata-sized, history rows never touched.
    */
  def mergeHashRankStates(parts: DataFrame, groupCol: String, k: Int): DataFrame = {
    val lm = parts.groupBy(groupCol)
      .agg(max(col("level")).as("lmax"), sum(col("n")).as("n"))
    val ex = parts.select(col(groupCol), explode(col("items")).as("it"))
    // 128 = md5 bit width, the sketch's MaxLevel
    val pass = lm.select(col(groupCol), explode(sequence(col("lmax"), lit(128))).as("l"))
      .join(ex, Seq(groupCol), "left")
      .groupBy(col(groupCol), col("l"))
      .agg(sum(when(col("it._1") >= col("l"), 1L).otherwise(0L)).as("pc"))
    val newLevel = pass.where(col("pc") <= k)
      .groupBy(groupCol).agg(min(col("l")).cast("int").as("level"))
    val surv = ex.join(newLevel, Seq(groupCol))
      .where(col("it._1") >= col("level"))
    surv.groupBy(col(groupCol), col("level"))
      .agg(sort_array(collect_list(col("it"))).as("items"))
      .join(lm.select(col(groupCol), col("n")), Seq(groupCol))
      .select(col(groupCol), col("level"), col("n"), col("items"))
  }

  /** Quantile read-out from hash-rank sketch states
    * (`(group, level, n, items)` rows): survivors are an equal-weight
    * sample, so p50/p90 are the integer-rank picks `sorted[⌈p·m⌉]`.
    * A group whose survivor set squeezed to empty (astronomically
    * unlikely at real capacities) is omitted — the same drop the
    * oracle's join performs.
    */
  def hashRankReadout(states: DataFrame, groupCol: String): DataFrame =
    states
      .select(col(groupCol), col("n"), col("level"),
        sort_array(expr("transform(items, x -> x._2)")).as("__vs"))
      .withColumn("m_sample", size(col("__vs")).cast("long"))
      .where(col("m_sample") > 0)
      .withColumn("p50_est",
        expr("element_at(__vs, CAST((m_sample + 1) div 2 AS INT))"))
      .withColumn("p90_est",
        expr("element_at(__vs, CAST((m_sample * 9 + 9) div 10 AS INT))"))
      .drop("__vs")
}
