package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, struct, xxhash64}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints a JSON line with per-query seconds, between two copies of a
  * short summary line.
  *
  * One untimed warmup pass precedes two timed passes; each query reports
  * its faster pass. Warmup amortizes one-time costs a resident engine
  * never pays per query (whole-stage codegen compilation, JIT, parquet
  * footer caches); the min-of-two damps GC/scheduler jitter, which at
  * this data scale is of the same order as the shortest queries.
  *
  * Each timed pass evaluates a checksum over EVERY output column
  * (bit_xor of xxhash64 over the row struct), not a bare count — a count
  * would let Catalyst prune unevaluated projections, so projection-only
  * queries would time a scan instead of their expression work. bit_xor
  * (not sum) because a sum of uniform 64-bit hashes overflows LongType
  * under ANSI mode at benchmark row counts.
  *
  * A query that throws is recorded in the `failures` JSON field with its
  * elapsed-time slot set to -1 — a regression can only lower the score,
  * never masquerade as a fast success. The full JSON line also lands in
  * `SPARK_GRAFT_BENCH_OUT` (default `BENCH_LAST.json`), where the next
  * run reads its baselines.
  */
object Bench {

  /** The previous run's per-query seconds and control-set seconds
    * ([[controlQueries]]), read BEFORE this run overwrites the file; an
    * absent or unreadable file gives neither. The control seconds count
    * ONLY when that run timed the SAME control set (`control_set`
    * version match): a total over other queries would push the ratio
    * arbitrarily far from 1.
    */
  private[graft] def previousRun(path: String): (Map[String, Double], Option[Double]) =
    try {
      implicit val formats: Formats = DefaultFormats
      val prev = parse(Files.readString(Paths.get(path)))
      val controlSec =
        if ((prev \ "control_set") != JInt(controlSetVersion)) None
        else (prev \ "control_sec").extractOpt[Double].filter(_ > 0)
      ((prev \ "queries").extractOpt[Map[String, Double]].getOrElse(Map.empty), controlSec)
    } catch { case _: Throwable => (Map.empty, None) }

  /** Four pinned NEVER-CHANGING queries (code paths untouched for
    * rounds: the flagship aggregate, the AQI banding when-chain, a
    * point lookup, and one multi-second iterative graph query) re-timed
    * at suite start, middle and end. Their median-of-three total,
    * divided by the prior run's recorded total, is the CONTROL RATIO —
    * the ambient speed of this machine/session relative to the run the
    * `prev` baselines came from. Three rounds of driver regression
    * flags all dissolved under controlled A/Bs as uniform ambient shift
    * (BASELINE.md "Round-9 regression A/B"); the control ratio
    * normalizes that shift out mechanically, so a uniform 1.3× ambient
    * slowdown raises zero flags while a real 2× single-query regression
    * still flags (BenchLogicSpec pins both). `graph_sssp` joined in v2
    * because the original three are sub-second scheduling-floor queries
    * whose regime does not extrapolate to multi-second GC/iteration-
    * bound queries — the round-10 driver run measured ratio 0.636 on
    * them and spuriously "confirmed" seven graph queries that had run
    * absolutely FASTER. Bump [[controlSetVersion]] whenever this list
    * changes: the prior run's `control_sec` total is then incomparable
    * and the next run falls back to an unnormalized compare.
    */
  private[graft] val controlQueries =
    Seq("q1_agg", "p6_aqi_banding", "s5_point_lookup", "graph_sssp")
  private[graft] val controlSetVersion = 2

  /** Regression candidates, AMBIENT-NORMALIZED: `cur` regresses on
    * `prev` only relative to `prev × controlRatio` (>30% past it with a
    * 0.15 s absolute guard — sub-100 ms queries jitter past 30% from
    * scheduler noise alone). Pure so the flag logic is unit-testable
    * without a timed suite.
    */
  private[graft] def regressionCandidates(
      results: Map[String, Double],
      prev: Map[String, Double],
      controlRatio: Double): Seq[String] =
    results.toSeq.collect {
      case (q, cur) if cur >= 0 && prev.get(q).exists(p =>
        p > 0 && cur > p * 1.3 * controlRatio && cur - p * controlRatio > 0.15) => q
    }.sortBy(q => -(results(q) - prev(q) * controlRatio))

  /** FALLBACK control ratio for runs whose recorded `control_sec` is
    * incomparable (a control-set version bump, or a pre-control
    * baseline file): the pinned control queries are ordinary gates, so
    * their per-query SUITE times exist in both runs' `queries` maps —
    * the ratio of those sums normalizes the same ambient shift, one
    * regime noisier than the dedicated median-of-three passes but far
    * better than the unnormalized 1.0 that let round 11's first
    * v2-control run flag eight uniformly-shifted queries. Requires
    * EVERY control query present in both maps (a partial sum would
    * bias toward whichever regime the missing query lived in).
    */
  private[graft] def ratioFromQueryTimes(
      prevTimes: Map[String, Double],
      curTimes: Map[String, Double]): Option[Double] = {
    val ok = controlQueries.forall(q =>
      prevTimes.get(q).exists(_ > 0) && curTimes.get(q).exists(_ > 0))
    if (!ok) None
    else Some(controlQueries.map(curTimes).sum / controlQueries.map(prevTimes).sum)
  }

  /** CONFIRMED verdict for a solo-retimed regression candidate. The
    * ambient scaling is applied ONE-SIDED — `max(controlRatio, 1)` — so
    * a faster-than-baseline session (ratio < 1) can never LOWER the
    * confirm bar below the unscaled `prev × 1.3`: round 10's driver run
    * measured ratio 0.636 on the sub-second controls and the scaled bar
    * (prev × 0.83) "confirmed" seven queries that ran absolutely faster
    * than the prior round. A slower session (ratio > 1) still raises
    * the bar, which is the direction ambient noise actually needs
    * normalizing in. Pure so BenchLogicSpec pins both directions.
    */
  private[graft] def confirmedRegression(
      soloT: Double, prevT: Double, controlRatio: Double): Boolean =
    soloT >= 0 && soloT > prevT * 1.3 * math.max(controlRatio, 1.0)

  /** Startup wipe of every `stage_*` materialized-view table and every
    * `ivf*` persisted ANN index under [[SparkEntry.Artifacts.root]] — a bench run
    * may NEVER inherit a derived artifact from a previous run. The
    * first gate that needs a stage rebuilds it (in the untimed warmup
    * pass), and the derivation cost itself is carried by the timed
    * MV-refresh gates (`stage_*_build`, plus `basket_pair_lift` /
    * `dedup_ngram_jaccard` / `dedup_keep_list`, which recompute their
    * stages' derivations from parquet on every pass), so a fresh run's
    * JSON always contains the build seconds. Fixture tables (the data
    * being operated ON — delta/MoR tables, maintained states) stay:
    * building an input fixture is setup, not the timed operator.
    */
  private def wipeDerivedArtifacts(): Unit = {
    val root = new java.io.File(SparkEntry.Artifacts.root)
    val subs = Option(root.listFiles()).getOrElse(Array.empty)
    for (sf <- subs if sf.isDirectory;
         t <- Option(sf.listFiles()).getOrElse(Array.empty)
         if t.getName.startsWith("stage_") || t.getName.startsWith("ivf"))
      org.apache.commons.io.FileUtils.deleteQuietly(t)
  }

  /** The whole registry, or the comma-separated names of `filter`
    * (`SPARK_GRAFT_QUERIES`). A filter naming no query or an unknown one
    * fails before any session starts: a typo would otherwise time an
    * empty or partial suite and publish it as the next run's baseline.
    */
  private[graft] def selectQueries[V](registry: Map[String, V], filter: Option[String]): Map[String, V] =
    filter match {
      case None => registry
      case Some(spec) =>
        val names = spec.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names.filterNot(registry.contains).toSeq.sorted
        require(names.nonEmpty, s"SPARK_GRAFT_QUERIES='$spec' names no query")
        require(unknown.isEmpty, s"SPARK_GRAFT_QUERIES names unknown queries: ${unknown.mkString(", ")}")
        registry.filter { case (name, _) => names(name) }
    }

  /** Seconds at millisecond precision, or -1 for a failed slot: the
    * round-2 line (9 digits per query) overflowed the driver's bounded
    * output capture; at 3 decimals 460 queries fit in ~13 KB.
    */
  private[graft] def ms(v: Double): JValue = if (v < 0) JInt(-1) else fixed(v, 3)

  /** `v` rounded to `scale` decimals exactly as `f"%.{scale}f"` prints it. */
  private[graft] def fixed(v: Double, scale: Int): JDecimal =
    JDecimal(BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP))

  /** Wall seconds of `body`, and its result. */
  private[graft] def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }
  private[graft] def seconds(body: => Unit): Double = timed(body)._1

  /** A regression candidate with its [[confirmedRegression]] verdict. */
  private[graft] final case class Regression(
      q: String, prev: Double, cur: Double, solo: Double, confirmed: Boolean)

  /** Everything one run publishes; [[lines]] renders it. */
  private[graft] final case class Record(
      results: Map[String, Double], failures: Set[String], solo: Map[String, Double],
      cpus: Int, defaultParallelism: Int, shufflePartitions: Int,
      controls: Seq[Double], controlSec: Double, controlRatio: Double, // controls: start, mid, end
      regressions: Seq[Regression], merge5m: Option[JObject], sf: String)

  /** Frees what a query left behind: operator-persisted subplans, and
    * every persistent RDD — localCheckpoint blocks (iterative operators'
    * returned tables) are RDD-level and invisible to the SQL cache
    * registry; left alone they accumulate across the suite and the
    * eviction churn slows later queries ~20%.
    */
  private[graft] def release(spark: SparkSession): Unit = {
    graft.operators.Caches.release()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** One run's full line (every query's seconds) and short summary line. */
  private[graft] def lines(r: Record): (String, String) = {
    def secs(m: Map[String, Double]) =
      JObject(m.toList.sortBy(_._1).map { case (q, v) => q -> ms(v) })
    def names(qs: Seq[String]) = JArray(qs.toList.map(JString(_)))
    val head = List("metric" -> JString("total"),
      "value" -> ms(r.results.values.filter(_ >= 0).sum), "unit" -> JString("sec"))
    // the env block lets the driver VERIFY the core-count env was
    // honored (round-12 `suspect_cpus_ignored` flag): the session's
    // actual master parallelism and shuffle partitioning, not just the
    // requested count
    val env = List("cpus" -> JInt(r.cpus), "default_parallelism" -> JInt(r.defaultParallelism),
      "shuffle_partitions" -> JInt(r.shufflePartitions),
      "controls" -> JObject(List("start", "mid", "end").zip(r.controls.map(ms))),
      "control_sec" -> ms(r.controlSec), "control_set" -> JInt(controlSetVersion),
      "control_ratio" -> ms(r.controlRatio))
    val regressions = r.regressions.toList.map(g => JObject(
      "q" -> JString(g.q), "prev" -> ms(g.prev), "cur" -> ms(g.cur),
      "solo" -> ms(g.solo), "confirmed" -> JBool(g.confirmed)))
    val sf = "sf" -> JString(r.sf)
    val line = JObject(head ++ List("queries" -> secs(r.results), "solo" -> secs(r.solo)) ++
      env ++ List("regressions" -> JArray(regressions), "failures" -> names(r.failures.toSeq.sorted)) ++
      r.merge5m.map("merge5m" -> _) :+ sf)
    val summary = JObject(head ++
      List("n_queries" -> JInt(r.results.size), "n_failures" -> JInt(r.failures.size)) ++
      env :+ ("confirmed" -> names(r.regressions.filter(_.confirmed).map(_.q))) :+ sf)
    (compact(line), compact(summary))
  }

  /** [[MergeCrossoverBench.measure]]'s metrics plus this session's
    * control ratio and, after each seconds metric, its ratio-NORMALIZED
    * twin (raw / control_ratio — the time at the baseline session's
    * ambient speed), so BASELINE.md's cross-session crossover compares
    * are drift-proof. A failed `measure` keeps every key, at -1.
    */
  private[graft] def merge5mBlock(measure: => Seq[(String, Double)], controlRatio: Double): JObject = {
    val (metrics, ratio) =
      try (measure, controlRatio)
      catch { case e: Throwable =>
        System.err.println(s"[bench] merge5m FAILED: ${e.getMessage}")
        (MergeCrossoverBench.metricNames.map(_ -> -1.0), -1.0)
      }
    JObject(("control_ratio" -> ms(ratio)) :: metrics.toList.flatMap { case (k, v) =>
      val raw = k -> MergeCrossoverBench.json(k, v)
      if (!k.endsWith("_sec")) List(raw)
      else List(raw, k.stripSuffix("_sec") + "_norm_sec" ->
        (if (v < 0 || ratio <= 0) JInt(-1) else ms(v / ratio)))
    })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val filter = sys.env.get("SPARK_GRAFT_QUERIES")
    val selected = selectQueries(SparkEntry.queries, filter)
    wipeDerivedArtifacts()
    val spark = Sessions.driver()
    // Forces evaluation of every output column. xxhash64 covers all the
    // types our queries emit (primitives, strings, arrays, timestamps).
    def force(df: DataFrame): Unit =
      try {
        val ck: Column = call_function("bit_xor", xxhash64(struct(df.columns.map(df.col): _*)))
        df.select(ck.as("__ck")).collect()
        ()
      } finally release(spark)

    // warmup: JIT, codegen caches, parquet footers, broadcast paths
    selected.foreach { case (_, fn) =>
      try force(fn(spark, sfDir)) catch { case _: Throwable => () }
    }

    // one control-set measurement: total seconds across the pinned
    // controls (always run from the FULL registry, present even under a
    // SPARK_GRAFT_QUERIES filter so filtered runs still normalize)
    def controlsPass(): Double = controlQueries.map { name =>
      seconds(try force(SparkEntry.queries(name)(spark, sfDir)) catch { case _: Throwable => () })
    }.sum

    def timedPass(): (Map[String, Double], Set[String]) = {
      val failed = scala.collection.mutable.Set[String]()
      val times = selected.map { case (name, fn) =>
        val (t, ok) = timed(try { force(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed += name
          false
        })
        name -> (if (ok) t else -1.0)
      }
      (times, failed.toSet)
    }
    val ctlStart = controlsPass()
    val (p1, f1) = timedPass()
    val ctlMid = controlsPass()
    val (p2, f2) = timedPass()
    val ctlEnd = controlsPass()
    val failures = f1 ++ f2
    val results = p1.map { case (k, v) =>
      k -> (if (failures(k)) -1.0 else math.min(v, p2(k)))
    }
    // Per-query regression candidates vs the PREVIOUS round, AMBIENT-
    // NORMALIZED: the prior BENCH output's per-query baselines are
    // unnormalized cross-session times, so every comparison is scaled
    // by the control ratio (this run's median control-set time over the
    // prior run's recorded one) before flagging — a uniform machine/
    // session shift moves the controls identically and raises zero
    // flags; a real single-query regression stands out against the
    // shifted baseline. Candidates join the solo pool below.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    val (prev, prevControlSec) = previousRun(outPath)
    val controlSec = Seq(ctlStart, ctlMid, ctlEnd).sorted.apply(1) // median
    val controlRatio = prevControlSec match {
      case Some(prevCtl) if controlSec > 0 => controlSec / prevCtl
      // incomparable or absent recorded control total: normalize from
      // the shared control queries' suite times; 1.0 only when even
      // those are unavailable (first run ever / filtered prior map)
      case _ => ratioFromQueryTimes(prev, results).getOrElse(1.0)
    }
    val regressionCands = regressionCandidates(results, prev, controlRatio)

    // Solo re-timing: the five slowest queries PLUS the ANN family
    // (whose suite numbers drifted 1.4-1.75x across rounds with
    // insertion-only diffs — suite/JVM pressure, which solo timing
    // separates from real regressions) PLUS the top regression
    // candidates. Each runs again in a quiet JVM with no suite
    // immediately behind it. Published as "solo" next to the suite
    // numbers.
    val annFamily = Seq("ann_ivf_topk", "ann_pq_topk", "ann_ivf_pq_topk",
      "ann_ivf_refined_topk").filter(results.contains)
    val slowest = (results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(5).map(_._1) ++
      annFamily ++ regressionCands.take(8)).distinct
    val solo = slowest.map { name =>
      // Warm once UNTIMED before the timed solo run: a solo-cold
      // execution pays shared fixture/Memo builds that the in-suite
      // `prev` baseline never contained (suite order amortizes them
      // onto whichever gate runs first), so cold-solo vs in-suite-prev
      // systematically over-confirms — round 11 "confirmed"
      // feat_best_split at solo 2.019 s against in-suite 0.583 s purely
      // from the shared-fixture build landing on the solo run. The warm
      // pass absorbs one-time costs; the timed pass measures the
      // steady-state the in-suite baseline actually measures.
      try force(selected(name)(spark, sfDir)) catch { case _: Throwable => () }
      System.gc()
      val (t, ok) = timed(try { force(selected(name)(spark, sfDir)); true }
        catch { case _: Throwable => false })
      name -> (if (ok) t else -1.0)
    }.toMap
    val regressions = regressionCands.map { q =>
      val soloT = solo.getOrElse(q, -1.0)
      Regression(q, prev(q), results(q), soloT, confirmedRegression(soloT, prev(q), controlRatio))
    }
    // the 5M flat-vs-partitioned merge crossover (BASELINE.md's layout
    // claim), regression-tracked: full-suite runs only, timed once
    val merge5m =
      if (filter.nonEmpty) None else Some(merge5mBlock(MergeCrossoverBench.measure(spark), controlRatio))
    val (line, summary) = lines(Record(results, failures, solo,
      Sessions.driverCpus, spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      Seq(ctlStart, ctlMid, ctlEnd), controlSec, controlRatio, regressions, merge5m, sfDir))
    // the full per-query line (460 queries ≈ 13 KB) exceeds the
    // driver's bounded output capture — round 10's artifact caught only
    // a truncated, unparseable tail of it. Print the SHORT summary line
    // FIRST and again LAST so whichever end of the output the driver
    // keeps always contains a complete JSON line; the full map goes in
    // between and lands intact in the `outPath` file regardless.
    println(summary)
    println(line)
    println(summary)
    try Files.writeString(Paths.get(outPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath: ${e.getMessage}") }
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
