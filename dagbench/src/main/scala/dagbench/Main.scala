package dagbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.aqi.{Nds, Pipeline, Schemas, Staging, Watermarks}
import graft.sources.Warehouse

/** The JVM side of the benchmark. `run.py` makes the inputs, starts this
  * program once per run and checks what it wrote; this program runs units
  * of work, times them and records what they cost.
  *
  *   pipeline --sources P --days N --t0 T   unit i is the DAG run of day i: one
  *                                          `Pipeline.run` of the sources in
  *                                          `P<i>` at T + i days (day 0 is the
  *                                          initial load), up to day N
  *   gates    --fixture D                   one pass over [[Gates.all]] per unit
  *
  * Common options: `--runs D` (each unit's output goes below it),
  * `--seconds S`, `--trace 0|1`, `--cores K`, `--result F` (JSON written
  * there). A unit is timed from the call into the program to its return;
  * preparing its input, the GC sample and clean-up are outside.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val runs = Paths.get(opts("runs")).toAbsolutePath
    Files.createDirectories(runs)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${opts("cores")}]")
      .appName("dagbench")
      .config("spark.sql.shuffle.partitions", opts("cores"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", runs.resolve("spark-warehouse").toString)
      .config("spark.local.dir", runs.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result =
      try args.head match {
        case "pipeline" => new Loop(spark, opts, new PipelineUnits(spark, opts, runs)).run()
        case "gates" =>
          new Loop(spark, opts, new GateUnits(spark, opts, runs)).run() +
            ("oracle_sql" -> Gates.all.flatMap(g => graft.SparkEntry.oracleSql.get(g.name).map(g.name -> _)).toMap)
      } finally spark.stop()
    Files.writeString(Paths.get(opts("result")),
      org.json4s.jackson.Serialization.write(result + ("session_s" -> sessionS))(org.json4s.DefaultFormats))
  }
}

/** One kind of unit: what it runs, and what it records about its output. */
trait Units {
  /** Runs unit `i`; returns its wall seconds and what it recorded. */
  def run(i: Int, collector: Option[Collector]): (Double, Map[String, Any])

  /** Number of units there are inputs for. */
  def limit: Int = Int.MaxValue
}

/** Runs units back to back, one at a time (a closed loop with one client):
  * unit 0 is the cold unit, unit 1 a warm-up (the JIT is still compiling
  * through it: it takes 1.1-1.3x the units after it), then measured units
  * until `--seconds` have passed, at least one. With `--trace 1` the
  * measured units alternate between untraced and traced, at least one of
  * each, so the traced ones can be compared with untraced units of the same
  * JVM.
  */
final class Loop(spark: SparkSession, opts: Map[String, String], units: Units) {
  private val trace = opts("trace") == "1"

  def run(): Map[String, Any] = {
    val collector = if (trace) Some(new Collector(spark)) else None
    val out = Seq.newBuilder[Map[String, Any]]
    def unit(i: Int, traced: Boolean): Unit = {
      if (traced) collector.foreach(_.clear())
      val (s, rec) = units.run(i, if (traced) collector else None)
      out += rec ++ Map("i" -> i, "s" -> s, "traced" -> traced,
        "retained_heap_mb" -> Heap.retainedMb())
      Fs.releaseCached(spark)
    }
    unit(0, traced = false)
    unit(1, traced = false)
    val deadline = System.nanoTime() + (opts("seconds").toDouble * 1e9).toLong
    var i = 2
    while (i < units.limit && (i <= (if (trace) 3 else 2) || System.nanoTime() < deadline)) {
      unit(i, traced = trace && i % 2 == 1)
      i += 1
    }
    collector.foreach(_.close())
    Map("units" -> out.result())
  }
}

/** DAG-run units, one per day: unit 0 is the initial load into an empty
  * warehouse, unit i the daily delta of day i. Each unit runs in its own
  * copy of the previous unit's warehouse under `--runs` and leaves it there
  * for the check.
  */
final class PipelineUnits(spark: SparkSession, opts: Map[String, String], runs: Path) extends Units {
  private val t0 = Instant.parse(opts("t0"))
  private val ndsTables = Seq(Pipeline.StateNdsT, Pipeline.CountyNdsT, Pipeline.MeasurementNdsT)

  override def limit: Int = opts("days").toInt + 1

  def run(i: Int, collector: Option[Collector]): (Double, Map[String, Any]) = {
    val wh = runs.resolve(s"wh_$i")
    val src = opts("sources") + i
    val now = t0.plus(java.time.Duration.ofDays(i))
    if (i > 0) Fs.copyTree(runs.resolve(s"wh_${i - 1}"), wh)
    val before = Fs.files(wh)
    val t = System.nanoTime()
    val error =
      try {
        collector match {
          case Some(c) => traced(c, src, wh.toString, now)
          case None => Pipeline.run(spark, src, wh.toString, now)
        }
        None
      } catch { case e: Throwable => Some(e.toString) }
    val s = (System.nanoTime() - t) / 1e9
    val after = Fs.files(wh)
    val written = after.filter { case (p, n) => !before.get(p).contains(n) }
    val nds = after.collect { case (p, n) if ndsTables.exists(t => p.startsWith(s"$wh/$t/")) => n }
    val layers = collector.map { c =>
      Map("jobs_total" -> c.jobCount, "spans" -> c.report().map { case (k, m) => k -> m.toMap })
    }
    (s, Map("wh" -> wh.toString, "error" -> error.getOrElse(""),
      "bytes_written" -> written.values.sum, "files_written" -> written.size,
      "stored_bytes" -> nds.sum) ++ layers.getOrElse(Map.empty))
  }

  /** `Pipeline.run`'s steps, called one by one with a span around each
    * call into a layer. Keep in step with `Pipeline.run`: the traced units'
    * outputs pass the same check as the untraced ones.
    */
  private def traced(c: Collector, src: String, wh: String, now: Instant): Unit = {
    import Pipeline._
    val ts = Timestamp.from(now)
    val nowCol = lit(ts)
    c.span("watermarks")(Watermarks.setCet(spark, wh, StateAqiStage, ts))
    val (cet, lset) = c.span("watermarks")(Watermarks.getWindow(spark, wh, StateAqiStage))
    c.span("staging.aqi") {
      Warehouse.overwrite(Staging.stageAqi(spark, src, lset, cet), wh, StateAqiStage)
    }
    c.span("watermarks")(Watermarks.setLset(spark, wh, StateAqiStage, ts))
    c.span("staging.counties") {
      Warehouse.overwrite(Staging.stageCounties(spark, src), wh, UsCountiesStage)
    }
    val (aqiStage, countiesStage) = c.span("nds.states") {
      val aqiStage = Warehouse.read(spark, wh, StateAqiStage)
      val countiesStage = Warehouse.read(spark, wh, UsCountiesStage)
      Warehouse.overwrite(Nds.mergeStates(
        Warehouse.readOrEmpty(spark, wh, StateNdsT, Schemas.stateNds),
        countiesStage, aqiStage, nowCol), wh, StateNdsT)
      (aqiStage, countiesStage)
    }
    val stateNds = c.span("nds.counties") {
      val stateNds = Warehouse.read(spark, wh, StateNdsT)
      Warehouse.overwrite(Nds.mergeCounties(spark,
        Warehouse.readOrEmpty(spark, wh, CountyNdsT, Schemas.countyNds),
        stateNds, countiesStage, aqiStage, nowCol), wh, CountyNdsT)
      stateNds
    }
    c.span("nds.measurements") {
      Warehouse.overwrite(Nds.mergeMeasurements(
        Warehouse.readOrEmpty(spark, wh, MeasurementNdsT, Schemas.measurementNds),
        stateNds, Warehouse.read(spark, wh, CountyNdsT), aqiStage, nowCol),
        wh, MeasurementNdsT)
    }
  }
}

/** One pass over [[Gates.all]] per unit. Each gate's result is written as
  * parquet under `--runs` (the program's `Verify` path), so every pass's
  * output can be checked against the DuckDB oracle. The JVM's working
  * directory is the run directory, so the gates' derived artifacts
  * (`target/graft_wh`) start empty in every run.
  */
final class GateUnits(spark: SparkSession, opts: Map[String, String], runs: Path) extends Units {
  private val fixture = opts("fixture")
  private val artifacts = Paths.get("target", "graft_wh").toAbsolutePath

  def run(i: Int, collector: Option[Collector]): (Double, Map[String, Any]) = {
    val out = runs.resolve(s"out_$i")
    val before = Fs.files(artifacts)
    val results = Gates.all.map { g =>
      val t = System.nanoTime()
      val error =
        try {
          def body(): Unit = graft.SparkEntry.queries(g.name)(spark, fixture)
            .write.parquet(out.resolve(g.name).toString)
          collector.fold(body())(_.span(g.family)(body()))
          ""
        } catch { case e: Throwable => e.toString }
        finally Fs.releaseCached(spark)
      (g.name, error, (System.nanoTime() - t) / 1e9)
    }
    val after = Fs.files(out) ++ Fs.files(artifacts)
    val written = after.filter { case (p, n) => !before.get(p).contains(n) }
    val layers = collector.map { c =>
      Map("jobs_total" -> c.jobCount, "spans" -> c.report().map { case (k, m) => k -> m.toMap })
    }
    (results.map(_._3).sum, Map(
      "out" -> out.toString,
      "gate_s" -> results.map { case (g, _, s) => g -> s }.toMap,
      "errors" -> results.collect { case (g, e, _) if e.nonEmpty => g -> e }.toMap,
      "bytes_written" -> written.values.sum, "files_written" -> written.size,
      "stored_bytes" -> after.values.sum) ++ layers.getOrElse(Map.empty))
  }
}

/** The `gate_mix` gates and the family span each is traced under. */
final case class Gate(name: String, family: String)

object Gates {
  private def family(f: String, names: String*) = names.map(Gate(_, s"gates.$f"))

  val all: Seq[Gate] =
    family("relational", "q1_agg", "j6_not_in") ++
    family("stats", "q_equi_depth_bins") ++
    family("similarity", "emb_covariance") ++
    family("text_dedup", "text_doc_lm_score")
}

/** Heap occupancy after a full GC forced at the end of a unit, before the
  * data the unit cached is released: the heap the unit leaves live. A peak
  * during the unit is not sampled: after a minor GC the occupancy still
  * counts old-generation garbage, and whether a major GC falls inside a
  * unit is a matter of timing, so either made the figure swing by a
  * quarter between runs.
  */
object Heap {
  /** Two full GCs with a pause between: Spark's context cleaner drops the
    * blocks of broadcasts and shuffles the first GC found unreachable on
    * its own thread, and the second GC collects them.
    */
  def retainedMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Fs {
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Drops what a unit left cached, as the program's `Bench` does between
    * queries, so units do not inherit each other's memory.
    */
  def releaseCached(spark: SparkSession): Unit = {
    graft.operators.Caches.release()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
