package dagbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.dagbench.ExecutionEnd
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Layer metrics of one span name, summed over the span's occurrences. */
final case class SpanMetrics(
    s: Double,
    jobs: Int,
    taskS: Double,
    driverS: Double,
    planS: Double,
    shuffleBytes: Long,
    spillBytes: Long,
    rowsOut: Long,
    skew: Double) {
  def toMap: Map[String, Any] = Map(
    "s" -> s, "jobs" -> jobs, "task_s" -> taskS, "driver_s" -> driverS, "plan_s" -> planS,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes, "rows_out" -> rowsOut,
    "skew" -> skew)
}

/** Attributes Spark's work to the harness's spans, from outside the program.
  *
  * The harness wraps each call into a layer in [[span]], which sets the
  * span's name as the job group on the calling thread. A `SparkListener`
  * sees job, stage and task ends and attributes each job (and its stages
  * and tasks) by that group; Spark copies the group to the threads it
  * starts for a query, such as broadcast builds. At the end of each SQL
  * execution the same listener reads the query's analysis, optimisation
  * and planning time from `QueryExecution.tracker` (what a
  * `QueryExecutionListener` is handed, but keyed by execution id); a query
  * is attributed by the group of its jobs, or to the span open when it
  * started if it ran none.
  */
final class Collector(spark: SparkSession) {
  import Collector._
  private val sc = spark.sparkContext

  private val lock = new Object
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.Map[Int, Job]()
  private val stageGroup = mutable.Map[Int, Option[String]]()
  private val stageTasks = mutable.Map[Int, StageTasks]()
  private val stageWallMs = mutable.Map[Int, Long]()
  private val execGroup = mutable.Map[Long, Option[String]]()
  private val execStartMs = mutable.Map[Long, Long]()
  private val execPlanMs = mutable.Map[Long, Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = Job(group, e.time, e.time)
      e.stageIds.foreach(id => stageGroup.getOrElseUpdate(id, group))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execGroup.getOrElseUpdate(id.toLong, group))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val st = stageTasks.getOrElseUpdate(e.stageId, new StageTasks)
        st.runMs += m.executorRunTime
        st.taskMs += m.executorRunTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
        st.rowsOut += m.outputMetrics.recordsWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime) stageWallMs(i.stageId) = b - a
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized { execStartMs(s.executionId) = s.time }
      case s: SparkListenerSQLExecutionEnd =>
        ExecutionEnd.queryExecution(s).foreach { qe =>
          val phases = qe.tracker.phases
          val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
          lock.synchronized { execPlanMs(s.executionId) = ms }
        }
      case _ =>
    }
  }

  sc.addSparkListener(listener)

  def close(): Unit = sc.removeSparkListener(listener)

  /** Runs `f` as one occurrence of the span `name`. */
  def span[T](name: String)(f: => T): T = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try f
    finally {
      val wall = System.nanoTime() - n0
      val t1 = System.currentTimeMillis()
      sc.clearJobGroup()
      lock.synchronized { spans += Span(name, t0, t1, wall) }
    }
  }

  /** Forgets everything recorded so far (events still in flight included). */
  def clear(): Unit = {
    org.apache.spark.dagbench.ListenerDrain(sc)
    lock.synchronized {
      Seq(spans, jobs, stageGroup, stageTasks, stageWallMs, execGroup, execStartMs, execPlanMs)
        .foreach(_.clear())
    }
  }

  /** Number of jobs observed since the last [[clear]], in or out of spans. */
  def jobCount: Int = { org.apache.spark.dagbench.ListenerDrain(sc); lock.synchronized(jobs.size) }

  /** Metrics per span name since the last [[clear]]. */
  def report(): Map[String, SpanMetrics] = {
    org.apache.spark.dagbench.ListenerDrain(sc)
    lock.synchronized {
      def spanAt(ms: Long): Option[String] =
        spans.find(s => s.startMs <= ms && ms <= s.endMs).map(_.name)
      val execOwner = (execStartMs.keySet ++ execPlanMs.keySet).toSeq.map { id =>
        id -> execGroup.get(id).flatten.orElse(execStartMs.get(id).flatMap(spanAt))
      }.toMap
      spans.groupBy(_.name).map { case (name, occ) =>
        val g = Some(name)
        val myJobs = jobs.values.filter(_.group == g).toSeq
        // wall of each occurrence not covered by a running job of the span
        val driverMs = occ.map { s =>
          val iv = myJobs.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
            .filter { case (a, b) => b > a }.sortBy(_._1)
          var covered = 0L; var end = s.startMs
          iv.foreach { case (a, b) =>
            val from = math.max(a, end)
            if (b > from) { covered += b - from; end = b }
          }
          math.max(0L, s.wallNs / 1000000L - covered)
        }.sum
        val stages = stageGroup.collect { case (id, `g`) => id }.toSeq
        val tasks = stages.flatMap(stageTasks.get)
        val longest = stages.filter(stageWallMs.contains).sortBy(id => -stageWallMs(id)).headOption
          .flatMap(stageTasks.get).map(_.taskMs.sorted).filter(_.nonEmpty)
        val skew = longest.map(t => t.last.toDouble / math.max(1L, t(t.size / 2))).getOrElse(0.0)
        name -> SpanMetrics(
          s = occ.map(_.wallNs).sum / 1e9,
          jobs = myJobs.size,
          taskS = tasks.map(_.runMs).sum / 1e3,
          driverS = driverMs / 1e3,
          planS = execOwner.collect { case (id, `g`) => execPlanMs.getOrElse(id, 0L) }.sum / 1e3,
          shuffleBytes = tasks.map(_.shuffleBytes).sum,
          spillBytes = tasks.map(_.spillBytes).sum,
          rowsOut = tasks.map(_.rowsOut).sum,
          skew = skew)
      }
    }
  }
}

object Collector {
  private final case class Span(name: String, startMs: Long, endMs: Long, wallNs: Long)
  private final case class Job(group: Option[String], startMs: Long, var endMs: Long)
  private final class StageTasks {
    var runMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L; var rowsOut = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
  }
}
