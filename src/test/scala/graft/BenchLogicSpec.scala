package graft

import java.nio.file.Files

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The bench tracker's ambient normalization, pinned without a timed
  * suite: a uniform machine/session shift (every query slower by the
  * same factor, controls included) must raise ZERO flags, while a real
  * single-query slowdown must still flag — the exact failure mode of
  * three rounds of driver regression candidates that all dissolved
  * under controlled A/Bs as ambient load.
  */
class BenchLogicSpec extends AnyFunSuite {

  private val prev = Map(
    "q_alpha" -> 1.000, "q_beta" -> 0.600, "q_gamma" -> 2.400,
    "q_delta" -> 0.320, "q_tiny" -> 0.060)

  test("uniform ambient shift with a matching control ratio raises zero flags") {
    // the whole suite runs 1.4x slower — and so do the controls
    val cur = prev.view.mapValues(_ * 1.4).toMap
    assert(Bench.regressionCandidates(cur, prev, controlRatio = 1.4).isEmpty)
    // without the normalization the same run flags most of the suite —
    // the archaeology the control set exists to end
    assert(Bench.regressionCandidates(cur, prev, controlRatio = 1.0).nonEmpty)
  }

  test("a real 2x single-query slowdown still flags through ambient shift") {
    val cur = prev.view.mapValues(_ * 1.4).toMap + ("q_gamma" -> 2.400 * 1.4 * 2.0)
    val flags = Bench.regressionCandidates(cur, prev, controlRatio = 1.4)
    assert(flags == Seq("q_gamma"))
  }

  test("guards hold: failed runs, absent baselines and sub-threshold jitter never flag") {
    // -1 (failed) and queries without a prev baseline are skipped
    val cur = Map("q_alpha" -> -1.0, "q_new" -> 9.9, "q_beta" -> 0.610)
    assert(Bench.regressionCandidates(cur, prev, 1.0).isEmpty)
    // >30% relative but <0.15 s absolute: scheduler noise, not a flag
    val jitter = Map("q_tiny" -> 0.100)
    assert(Bench.regressionCandidates(jitter, prev, 1.0).isEmpty)
    // worst regression sorts first (delta vs the scaled baseline)
    val two = Map("q_alpha" -> 2.0, "q_gamma" -> 7.0)
    assert(Bench.regressionCandidates(two, prev, 1.0) == Seq("q_gamma", "q_alpha"))
  }

  test("machine speedup (ratio < 1) never lowers the confirm bar") {
    // round 10's exact failure: controls ran 36% faster (ratio 0.636),
    // scaling the confirm bar to prev * 0.83 — queries that ran
    // absolutely FASTER than their baseline were "confirmed" regressed.
    // graph_components 3.785 -> solo 3.407 must NOT confirm:
    assert(!Bench.confirmedRegression(soloT = 3.407, prevT = 3.785, controlRatio = 0.636))
    // an unchanged query at exactly its old time: never confirmed
    assert(!Bench.confirmedRegression(soloT = 3.785, prevT = 3.785, controlRatio = 0.636))
    // a REAL 2x slowdown still confirms through the speedup
    assert(Bench.confirmedRegression(soloT = 7.6, prevT = 3.785, controlRatio = 0.636))
  }

  test("machine slowdown (ratio > 1) still raises the confirm bar") {
    // ambient 1.4x shift: solo at 1.4x old time is NOT a regression
    assert(!Bench.confirmedRegression(soloT = 1.40, prevT = 1.00, controlRatio = 1.4))
    // but a real 2x through the shift still confirms (2.8 > 1.3 * 1.4)
    assert(Bench.confirmedRegression(soloT = 2.80, prevT = 1.00, controlRatio = 1.4))
    // failed solo runs never confirm
    assert(!Bench.confirmedRegression(soloT = -1.0, prevT = 1.00, controlRatio = 1.0))
  }

  test("fallback ratio derives from shared control-query suite times when control_sec is incomparable") {
    // round 11's first v2-control run: the recorded v1 control_sec was
    // incomparable, ratio fell to 1.0, and eight uniformly-1.3x-shifted
    // queries flagged — the suite times of the pinned controls were in
    // both maps all along
    val prevT = Map("q1_agg" -> 0.313, "p6_aqi_banding" -> 0.254,
      "s5_point_lookup" -> 0.152, "graph_sssp" -> 2.301, "other" -> 1.0)
    val curT = prevT.view.mapValues(_ * 1.4).toMap
    val r = Bench.ratioFromQueryTimes(prevT, curT)
    assert(r.exists(v => math.abs(v - 1.4) < 1e-9))
    // under that ratio a uniformly shifted suite raises zero flags
    assert(Bench.regressionCandidates(curT, prevT, r.get).isEmpty)
    // any control query missing from either map: no partial-sum ratio
    assert(Bench.ratioFromQueryTimes(prevT - "graph_sssp", curT).isEmpty)
    assert(Bench.ratioFromQueryTimes(prevT, curT - "q1_agg").isEmpty)
    // failed control runs (-1) don't fake a ratio either
    assert(Bench.ratioFromQueryTimes(prevT, curT + ("graph_sssp" -> -1.0)).isEmpty)
  }

  test("solo confirms are judged on the WARM time, so fixture-build cost never confirms") {
    // the solo loop warms each candidate once UNTIMED before the timed
    // pass (Bench.main), so the time fed to confirmedRegression is the
    // steady-state run, not the cold run that pays shared fixture/Memo
    // builds the in-suite `prev` baseline never contained. Round 11's
    // failure: feat_best_split solo-COLD 2.019 s vs in-suite 0.583 s
    // (prev 0.451 s) "confirmed" purely from the fixture build landing
    // on the solo run. With warm timing the gate reads ~its in-suite
    // time and must NOT confirm:
    val prevT = 0.451
    val warm = 0.583  // steady-state, ≈ in-suite
    val cold = 2.019  // cold = 3.5x warm: fixture build, not a regression
    assert(!Bench.confirmedRegression(soloT = warm, prevT = prevT, controlRatio = 1.0))
    // the cold time WOULD have confirmed — the exact artifact closed
    assert(Bench.confirmedRegression(soloT = cold, prevT = prevT, controlRatio = 1.0))
    // a real slowdown shows up in the warm time too and still confirms
    assert(Bench.confirmedRegression(soloT = warm * 2.5, prevT = prevT, controlRatio = 1.0))
  }

  test("the control set carries a multi-second query and a version stamp") {
    // the v2 set pins graph_sssp so the ratio calibrates the regime the
    // expensive iterative queries live in, not just scheduling floor
    assert(Bench.controlQueries.contains("graph_sssp"))
    assert(Bench.controlSetVersion == 2)
  }

  // A published line, byte for byte as earlier runs wrote it: three
  // queries (one failed), control_set 2, a failed merge5m. Held here, not
  // read from BENCH_LAST.json, which every bench run overwrites.
  private val fixtureLine =
    """{"metric":"total","value":0.463,"unit":"sec","queries":{"p6_aqi_banding":-1,"q1_agg":0.313,"s5_point_lookup":0.150},"solo":{"q1_agg":0.301},"cpus":4,"default_parallelism":4,"shuffle_partitions":4,"controls":{"start":2.500,"mid":2.413,"end":2.610},"control_sec":2.500,"control_set":2,"control_ratio":1.046,"regressions":[],"failures":["p6_aqi_banding"],"merge5m":{"control_ratio":-1,"flat_delta_sec":-1,"flat_delta_norm_sec":-1,"partitioned_delta_sec":-1,"partitioned_delta_norm_sec":-1,"rows_rewritten":-1,"mor_correction_sec":-1,"mor_correction_norm_sec":-1,"mor_rows_written":-1,"mor_base_files_read":-1,"mor_base_files_total":-1,"mor_minor_sec":-1,"mor_minor_norm_sec":-1,"mor_minor_rows":-1,"mor_compact_sec":-1,"mor_compact_norm_sec":-1,"mor_compact_rows_rewritten":-1,"partitioned_correction_sec":-1,"partitioned_correction_norm_sec":-1,"partitioned_rows_rewritten":-1,"partitioned_minor_sec":-1,"partitioned_minor_norm_sec":-1,"partitioned_minor_rows":-1},"sf":"/data/sf0.01"}"""
  private val fixtureSummary =
    """{"metric":"total","value":0.463,"unit":"sec","n_queries":3,"n_failures":1,"cpus":4,"default_parallelism":4,"shuffle_partitions":4,"controls":{"start":2.500,"mid":2.413,"end":2.610},"control_sec":2.500,"control_set":2,"control_ratio":1.046,"confirmed":[],"sf":"/data/sf0.01"}"""

  private def previous(line: String) = {
    val f = Files.createTempFile("bench-prev", ".json")
    try { Files.writeString(f, line + "\n"); Bench.previousRun(f.toString) }
    finally Files.delete(f)
  }

  test("the previous-run reader returns the query map and control seconds of a recorded line") {
    val (times, controlSec) = previous(fixtureLine)
    assert(times == Map("p6_aqi_banding" -> -1.0, "q1_agg" -> 0.313, "s5_point_lookup" -> 0.15))
    assert(controlSec == Some(2.5))
    // another control set's seconds are incomparable; the times still count
    val (times2, other) = previous(fixtureLine.replace("\"control_set\":2", "\"control_set\":1"))
    assert(times2 == times && other.isEmpty)
    // absent or unreadable files give nothing
    assert(Bench.previousRun("/nonexistent/BENCH_LAST.json") == ((Map.empty, None)))
    assert(previous(fixtureLine.take(40)) == ((Map.empty, None)))
  }

  test("the record writer reproduces the recorded line and summary byte for byte") {
    val record = Bench.Record(
      results = Map("q1_agg" -> 0.3134, "p6_aqi_banding" -> -1.0, "s5_point_lookup" -> 0.15),
      failures = Set("p6_aqi_banding"), solo = Map("q1_agg" -> 0.3012),
      cpus = 4, defaultParallelism = 4, shufflePartitions = 4,
      controls = Seq(2.5004, 2.4126, 2.61), controlSec = 2.5004, controlRatio = 1.0456,
      regressions = Nil, merge5m = Some(Bench.merge5mBlock(sys.error("scenario failed"), 1.0456)), sf = "/data/sf0.01")
    assert(Bench.lines(record) == ((fixtureLine, fixtureSummary)))
    // the sf path is a JSON string, not raw text: quotes and backslashes survive
    val odd = """C:\data\"sf"\0.01"""
    val (line, _) = Bench.lines(record.copy(sf = odd))
    assert((parse(line) \ "sf") == JString(odd))
  }

  test("the merge5m success and failure blocks carry the same keys in the same order") {
    def keys(o: JObject) = o.obj.map(_._1)
    val measured = MergeCrossoverBench.metricNames.map(_ -> 1.5)
    val ok = Bench.merge5mBlock(measured, controlRatio = 1.2)
    assert(keys(ok) == keys(Bench.merge5mBlock(sys.error("scenario failed"), controlRatio = 1.2)))
    assert(keys(ok).head == "control_ratio" && keys(ok).size == 23)
    // each seconds metric is followed by its ratio-normalized twin
    assert((ok \ "flat_delta_sec").values == BigDecimal("1.500"))
    assert((ok \ "flat_delta_norm_sec").values == BigDecimal("1.250"))
    assert((ok \ "rows_rewritten").values == BigInt(1))
  }

  test("oracle_sql.json round-trips quotes, backslashes, control characters and non-ASCII text") {
    val sql = Map(
      "q_quote" -> "SELECT 'a\"b' AS \"x\"",
      "q_backslash" -> "SELECT '\\d+' AS re",
      "q_ws" -> "SELECT\t1\r\n FROM t",
      "q_ctl" -> "SELECT '\u0001' AS c",
      "q_text" -> "SELECT 'Zürich — 東京 ✓' AS city")
    val back = parse(Verify.oracleJson(sql)) match {
      case JObject(fields) => fields.map { case (k, JString(v)) => k -> v; case f => fail(s"$f") }.toMap
      case other => fail(s"$other")
    }
    assert(back == sql)
  }

  test("SPARK_GRAFT_QUERIES selection fails fast on unknown or empty names") {
    val registry = Map("q1_agg" -> 1, "p6_aqi_banding" -> 2, "graph_sssp" -> 3)
    assert(Bench.selectQueries(registry, None) == registry)
    assert(Bench.selectQueries(registry, Some(" q1_agg, graph_sssp ,")) ==
      Map("q1_agg" -> 1, "graph_sssp" -> 3))
    val e = intercept[IllegalArgumentException](
      Bench.selectQueries(registry, Some("q1_agg,q1_agx,zz_typo")))
    assert(e.getMessage.contains("unknown queries: q1_agx, zz_typo"))
    intercept[IllegalArgumentException](Bench.selectQueries(registry, Some(" , ")))
  }
}
