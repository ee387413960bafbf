package flowbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `start`/`end` are epoch milliseconds
  * with sub-millisecond digits, so they compare directly with the
  * epoch-millisecond stamps on listener events. `parent` is -1 for a
  * traced pass, the root of every other span. */
final case class Span(id: Int, name: String, label: String, parent: Int, start: Double,
    end: Double) {
  def ms: Double = end - start
  def covers(t: Double): Boolean = start <= t && t <= end
}

/** Span recorder for the traced run. Spans stay in memory and are
  * written out once at the end; while `recording` is off, `span` only
  * runs its body. The benchmark drives layers from one client thread,
  * so the open spans form a single stack. */
final class Tracer {
  private val baseWall = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseWall + (System.nanoTime() - baseNano) / 1e6

  val spans = ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 0
  var recording = false

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!recording) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val start = nowMs
      open = id :: open
      try body
      finally {
        open = open.tail
        spans += Span(id, name, label, parent, start, nowMs)
      }
    }
}

final case class JobEvent(start: Double, end: Double)
final case class TaskEvent(launch: Double, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long)
final case class PhaseEvent(phase: String, start: Double, ms: Double)

/** Scheduler and planner counts for the traced run: a SparkListener for
  * jobs and task metrics plus a QueryExecutionListener for the
  * QueryPlanningTracker phase times of every action. */
final class CountingListener extends SparkListener with QueryExecutionListener {
  private val jobStarts = scala.collection.mutable.Map[Int, Double]()
  val jobs = ArrayBuffer[JobEvent]()
  val tasks = ArrayBuffer[TaskEvent]()
  val phases = ArrayBuffer[PhaseEvent]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time.toDouble
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobs += JobEvent(s, e.time.toDouble))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskEvent(e.taskInfo.launchTime.toDouble,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      phases += PhaseEvent(phase, s.startTimeMs.toDouble, s.durationMs.toDouble)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
}

/** Folds spans and listener events into the per-layer metrics and the
  * trace file. Every event is attributed to the innermost span whose
  * interval holds its start time; events outside the calls of the
  * traced passes are dropped, so untraced passes leave no counts. */
final class TraceReport(spans: Seq[Span], l: CountingListener) {
  private val byParent = spans.groupBy(_.parent)
  private val passIds = spans.filter(_.parent == -1).map(_.id).toSet
  /** The calls of the traced passes: every count is per call. */
  private val units = spans.filter(s => passIds.contains(s.parent))

  private def innermost(t: Double): Option[Span] =
    spans.filter(_.covers(t)).maxByOption(s => (s.start, -s.end))
  private def inUnit(t: Double) = units.exists(_.covers(t))

  def selfMs(s: Span): Double =
    s.ms - byParent.getOrElse(s.id, Nil).map(_.ms).sum

  /** Mean self time in seconds of the spans named `name`, 0 if the
    * workload never calls that layer. */
  def layerSeconds(name: String): Double = {
    val ss = spans.filter(_.name == name)
    if (ss.isEmpty) 0.0 else ss.map(selfMs).sum / ss.size / 1000.0
  }

  private lazy val jobs = l.jobs.filter(j => inUnit(j.start)).toSeq
  private lazy val tasks = l.tasks.filter(t => inUnit(t.launch)).toSeq
  private lazy val phases = l.phases.filter(p => inUnit(p.start)).toSeq

  /** Call wall time not covered by any job: planning, driver-side
    * finishes, manifest and commit I/O. */
  private def driverOnlyMs: Double = units.map { p =>
    val ivs = jobs.map(j => (math.max(j.start, p.start), math.min(j.end, p.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var reach = p.start
    ivs.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    p.ms - covered
  }.sum

  /** Scheduler, planner and executor counts per call. */
  def counts: Seq[(String, Double, String)] = {
    val n = math.max(units.size, 1).toDouble
    val runMs = tasks.map(_.runMs).sum.toDouble
    def phaseMs(p: String) = phases.filter(_.phase == p).map(_.ms).sum / n
    Seq(
      ("spark.jobs", jobs.size / n, "count"),
      ("spark.tasks", tasks.size / n, "count"),
      ("driver.only_s", driverOnlyMs / 1000.0 / n, "s"),
      ("plan.analysis_ms", phaseMs("analysis"), "ms"),
      ("plan.optimizer_ms", phaseMs("optimization"), "ms"),
      ("plan.physical_ms", phaseMs("planning"), "ms"),
      ("exec.shuffle_write_bytes", tasks.map(_.shuffleWriteBytes).sum / n, "bytes"),
      ("exec.spill_bytes", tasks.map(_.spillBytes).sum / n, "bytes"),
      ("exec.cpu_share", if (runMs > 0) tasks.map(_.cpuNs).sum / 1e6 / runMs else 0.0, "ratio"),
      ("exec.gc_share", if (runMs > 0) tasks.map(_.gcMs).sum / runMs else 0.0, "ratio"))
  }

  /** The trace file: every span with its self time and the listener
    * counts attributed to it. */
  def json: String = {
    case class Acc(var jobs: Int = 0, var tasks: Int = 0, var shuffle: Long = 0L,
        var planMs: Double = 0.0)
    val acc = spans.map(s => s.id -> Acc()).toMap
    jobs.foreach(j => innermost(j.start).foreach(s => acc(s.id).jobs += 1))
    tasks.foreach(t => innermost(t.launch).foreach { s =>
      acc(s.id).tasks += 1; acc(s.id).shuffle += t.shuffleWriteBytes })
    phases.foreach(p => innermost(p.start).foreach(s => acc(s.id).planMs += p.ms))
    spans.sortBy(_.id).map { s =>
      val a = acc(s.id)
      f"""{"id":${s.id},"name":"${s.name}","label":"${s.label.replace("\"", "'")}",""" +
        f""""parent":${s.parent},""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_ms":${selfMs(s)}%.3f,""" +
        f""""jobs":${a.jobs},"tasks":${a.tasks},"shuffle_write_bytes":${a.shuffle},""" +
        f""""plan_ms":${a.planMs}%.3f}"""
    }.mkString("{\"spans\":[\n", ",\n", "\n]}\n")
  }
}
