package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Counters of one span over one op. `inMb`/`outMb` are task input and
  * output bytes; the caller reports whichever the span's `io_mb` means. */
final case class SpanStats(wallS: Double, jobs: Long, tasks: Long, cpuS: Double,
                           shuffleMb: Double, inMb: Double, outMb: Double, planMs: Double) {
  def +(o: SpanStats): SpanStats = SpanStats(wallS + o.wallS, jobs + o.jobs, tasks + o.tasks,
    cpuS + o.cpuS, shuffleMb + o.shuffleMb, inMb + o.inMb, outMb + o.outMb, planMs + o.planMs)
}

object SpanStats { val Zero: SpanStats = SpanStats(0, 0, 0, 0, 0, 0, 0, 0) }

/** What the tracer saw over one op window. */
final case class OpTrace(spans: Map[String, SpanStats], wallS: Double,
                         driverGapS: Double, coreBusy: Double)

/** Per-layer counters from Spark's own event stream, without touching
  * graft's code. Jobs are attributed to spans two ways:
  *
  *  - a *named* span: every job the calling thread submits inside
  *    [[span]] carries the span name as a local property;
  *  - the [[Tracer.Auto]] span: a job belongs to the SQL execution that
  *    ran it, and the execution is keyed by the path or table its plan
  *    writes (`classify`). This splits one `Pipeline.runBatch` or
  *    `runIncremental` call into its layers. A job outside any SQL
  *    execution (schema inference, say) goes to the next execution to
  *    end, and so does the driver time before that execution.
  */
final class Tracer(spark: SparkSession, cores: Int)
    extends SparkListener with QueryExecutionListener {
  private final class Job(val start: Long, val exec: Option[Long], val span: Option[String]) {
    var end: Long = Long.MaxValue
    var tasks, runMs, cpuNs, shuffleB, inB, outB = 0L
  }
  private final class Exec(val root: Long, val start: Long, val plan: String) {
    var end: Long = Long.MaxValue
  }
  private val jobs = mutable.ArrayBuffer[Job]()
  private val jobIds = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()
  private val execs = mutable.Map[Long, Exec]()
  private val plans = mutable.ArrayBuffer[(Long, Double)]()
  private val windows = mutable.ArrayBuffer[(String, Long, Long)]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val j = new Job(e.time, prop("spark.sql.execution.id").map(_.toLong), prop(Tracer.SpanKey))
    jobs += j
    jobIds(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobIds.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.shuffleB += m.shuffleWriteMetrics.bytesWritten
      j.inB += m.inputMetrics.bytesRead
      j.outB += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = new Exec(s.rootExecutionId.getOrElse(s.executionId), s.time,
          s.physicalPlanDescription)
      case s: SparkListenerSQLExecutionEnd => execs.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    val ms = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(ph.get).map(_.durationMs).sum
    if (ph.nonEmpty) plans += ((ph.values.map(_.startTimeMs).min, ms.toDouble))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Runs `body` with every job it submits labelled `name`. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      synchronized(windows += ((name, t0, t1)))
      sc.setLocalProperty(Tracer.SpanKey, prev)
    }
  }

  /** The counters of the window [t0, t1] (epoch ms). `classify` maps an
    * execution's physical plan to its span for jobs of the Auto span. A
    * span in `tail` closes the op: every execution from the first one
    * classified into it onward belongs to it too. */
  def collect(t0: Long, t1: Long, classify: String => String,
              tail: Set[String] = Set.empty): OpTrace = {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    synchronized {
      val inWin = jobs.filter(j => j.start >= t0 && j.start <= t1).toSeq
      val roots = execs.values.filter(x => x.start >= t0 && x.start <= t1 &&
        !execs.get(x.root).exists(_ ne x) && x.end != Long.MaxValue).toSeq.sortBy(_.end)
      val tailFrom = roots.sortBy(_.start).find(x => tail(classify(x.plan)))
      def label(x: Exec): String =
        classify(tailFrom.filter(_.start <= x.start).getOrElse(x).plan)
      def rootLabel(id: Long): Option[String] =
        execs.get(id).map(x => execs.getOrElse(x.root, x)).map(label)
      def autoLabel(j: Job): String = j.exec.flatMap(rootLabel)
        .orElse(roots.find(_.end >= j.end).map(label))
        .getOrElse(classify(""))
      val acc = mutable.Map[String, SpanStats]().withDefaultValue(SpanStats.Zero)
      inWin.foreach { j =>
        val name = j.span.filter(_ != Tracer.Auto).getOrElse(autoLabel(j))
        acc(name) += SpanStats(0, 1, j.tasks, j.cpuNs / 1e9, j.shuffleB / Tracer.MB,
          j.inB / Tracer.MB, j.outB / Tracer.MB, 0)
      }
      // wall: named windows directly; the Auto window by execution end
      val named = windows.filter(w => w._2 >= t0 && w._3 <= t1 && w._1 != Tracer.Auto).toSeq
      named.foreach { case (n, a, b) => acc(n) += SpanStats.Zero.copy(wallS = (b - a) / 1e3) }
      windows.filter(w => w._2 >= t0 && w._3 <= t1 && w._1 == Tracer.Auto).foreach {
        case (_, a, b) =>
          var prev = a
          roots.filter(x => x.start >= a && x.end <= b).foreach { x =>
            acc(label(x)) += SpanStats.Zero.copy(wallS = (x.end - prev) / 1e3)
            prev = x.end
          }
          acc(classify("")) += SpanStats.Zero.copy(wallS = (b - prev) / 1e3)
      }
      plans.filter(p => p._1 >= t0 && p._1 <= t1).foreach { case (at, ms) =>
        named.find(w => at >= w._2 && at <= w._3).foreach(w =>
          acc(w._1) += SpanStats.Zero.copy(planMs = ms))
      }
      val wall = math.max(t1 - t0, 1L)
      // wall time with no job running: the complement of the union of job intervals
      var covered, edge = 0L
      inWin.map(j => (j.start, math.min(j.end, t1))).sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, edge)
        if (b > s) { covered += b - s; edge = b }
      }
      val runMs = inWin.map(_.runMs).sum
      OpTrace(acc.toMap, wall / 1e3, (wall - covered) / 1e3, runMs.toDouble / (wall * cores))
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  /** The span whose jobs are keyed by the write target of their execution. */
  val Auto = "__auto__"
  private val MB = 1024.0 * 1024.0

  // the command node's entry in a formatted physical plan, with its
  // arguments on the node itself or on the command node under it:
  //   (13) Execute InsertIntoHadoopFsRelationCommand
  //   Input: []
  //   Arguments: file:/out/bronze, false, [lang#9], Parquet, ...
  // or
  //   (1) Execute SaveAsV1TableCommand
  //   Output: []
  //
  //   (2) SaveAsV1TableCommand
  //   Arguments: `gb_post`, Append, Project [...]
  private val ExecuteCmd =
    """\(\d+\) Execute (\w+)\s*\n(?:[^\n]*\n)*?Arguments: ([^,\n]*)""".r

  /** `(command, target)` of a plan that writes, e.g.
    * `("InsertIntoHadoopFsRelationCommand", "file:/x/bronze")`. */
  def writeTarget(plan: String): Option[(String, String)] =
    ExecuteCmd.findFirstMatchIn(plan).map(m => (m.group(1), m.group(2)))
}
