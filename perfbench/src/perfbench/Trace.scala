package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.QueryPlanningTracker.PhaseSummary
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is 0 for a root span; job and stage spans
  * come from the [[Recorder]] and hang under the benchmark span that was
  * open when they started.
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, query: String) {
  def json(runId: String): String = Json.obj(Seq(
    "run" -> Json.str(runId), "id" -> Json.num(id), "name" -> Json.str(name),
    "start_ns" -> start.toString, "end_ns" -> end.toString,
    "parent" -> Json.num(parent), "query" -> Json.str(query)))
}

/** Span recorder for the benchmark's own calls into each layer. Spans stay
  * in memory until the run writes them out once.
  */
final class Tracer(clock: Clock, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextId = 1

  def newId(): Int = { nextId += 1; nextId - 1 }

  def span[T](name: String, query: String = "")(f: => T): T = {
    val parent = open.headOption
    val s = Span(newId(), name, clock.now(), 0L, parent.map(_.id).getOrElse(0),
      if (query.nonEmpty) query else parent.map(_.query).getOrElse(""))
    open ::= s
    try f
    finally {
      open = open.tail
      spans += s.copy(end = clock.now())
    }
  }
}

/** SparkListener that keeps every job, stage and task end in memory, and
  * QueryExecutionListener that keeps the Catalyst phase times of every
  * executed query; the traced run reads both after draining the listener
  * bus.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, start: Long, end: Long, stages: Seq[Int])
  final case class Stage(id: Int, submit: Long, complete: Long)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, schedMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        inBytes: Long, inRecords: Long, outBytes: Long, outRecords: Long)

  private val jobStarts = ArrayBuffer.empty[Job]
  private val jobEnds = scala.collection.mutable.Map.empty[Int, Long]
  private val stageEnds = ArrayBuffer.empty[Stage]
  private val taskEnds = ArrayBuffer.empty[Task]
  private val phases = ArrayBuffer.empty[(String, Long, Long)]

  private val phaseSpanNames = Map(
    "analysis" -> "plans.analyze", "optimization" -> "plans.optimize",
    "planning" -> "plans.physical")

  def addPhase(phase: String, p: PhaseSummary): Unit = synchronized {
    phaseSpanNames.get(phase).foreach(n =>
      phases += ((n, p.startTimeMs * 1000000L, p.endTimeMs * 1000000L)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, p) => addPhase(phase, p) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += Job(e.jobId, e.time * 1000000L, 0L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(e.jobId) = e.time * 1000000L
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageEnds += Stage(i.stageId, i.submissionTime.getOrElse(0L) * 1000000L,
      i.completionTime.getOrElse(0L) * 1000000L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val sched = (info.finishTime - info.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetch
      taskEnds += Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        math.max(0L, sched), m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    }
  }

  private def jobs: Seq[Job] = synchronized {
    jobStarts.toSeq.map(j => j.copy(end = jobEnds.getOrElse(j.id, j.start)))
  }
  private def within(windows: Seq[(Long, Long)])(t: Long): Boolean =
    windows.exists { case (a, b) => t >= a && t <= b }
  private def tasksOf(js: Seq[Job]): Seq[Task] = synchronized {
    val ids = js.flatMap(_.stages).toSet
    taskEnds.toSeq.filter(t => ids.contains(t.stage))
  }

  /** Executor CPU of every task whose job started inside `window`. */
  def cpuNs(window: (Long, Long)): Long =
    tasksOf(jobs.filter(j => within(Seq(window))(j.start))).map(_.cpuNs).sum

  /** Per-pass execution, exchange, scan and write-path metrics of the
    * jobs that started inside the traced pass windows.
    */
  def summary(windows: Seq[(Long, Long)], passes: Int, cpus: Int): Map[String, Double] = {
    val n = math.max(1, passes).toDouble
    val js = jobs.filter(j => within(windows)(j.start))
    val ids = js.flatMap(_.stages).toSet
    val ts = tasksOf(js)
    val writers = ts.filter(_.outBytes > 0)
    val writeStages = writers.map(_.stage).toSet
    val wallNs = windows.map { case (a, b) => b - a }.sum.toDouble
    val cpu = ts.map(_.cpuNs).sum.toDouble
    val mb = 1e6
    val stages = synchronized(stageEnds.count(s => ids.contains(s.id)))
    Map(
      "exec.jobs" -> js.length / n,
      "exec.stages" -> stages / n,
      "exec.tasks" -> ts.length / n,
      "exec.sched_delay_s" -> ts.map(_.schedMs).sum / 1e3 / n,
      "exec.task_run_s" -> ts.map(_.runMs).sum / 1e3 / n,
      "exec.task_cpu_s" -> cpu / 1e9 / n,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3 / n,
      "exec.cpu_util" -> (if (wallNs > 0) cpu / (wallNs * cpus) else 0.0),
      "shuffle.write_mb" -> ts.map(_.shuffleWrite).sum / mb / n,
      "shuffle.read_mb" -> ts.map(_.shuffleRead).sum / mb / n,
      "shuffle.spill_mb" -> ts.map(_.spill).sum / mb / n,
      "scan.read_mb" -> ts.map(_.inBytes).sum / mb / n,
      "scan.records" -> ts.map(_.inRecords).sum / n,
      "sources.write_mb" -> writers.map(_.outBytes).sum / mb / n,
      "sources.write_records" -> writers.map(_.outRecords).sum / n,
      "sources.write_job_s" -> js.filter(_.stages.exists(writeStages.contains))
        .map(j => j.end - j.start).sum / 1e9 / n)
  }

  /** Job and stage spans, each under the innermost benchmark span that
    * was open when it started (stages under their job), and Catalyst phase
    * spans under the benchmark span open at their midpoint; phase times
    * have millisecond resolution. Phases outside every benchmark span (the
    * plain passes and the kernel probes) are left out.
    */
  def spans(tracer: Tracer): Seq[Span] = {
    val bench = tracer.spans.toSeq
    def parentAt(t: Long): Span = bench.filter(s => s.start <= t && t <= s.end)
      .maxByOption(_.start).getOrElse(Span(0, "", 0L, 0L, 0, ""))
    val stageList = synchronized(stageEnds.toSeq)
    val stageById = stageList.groupBy(_.id)
    val jobSpans = jobs.flatMap { j =>
      val p = parentAt(j.start)
      val job = Span(tracer.newId(), "spark.job", j.start, j.end, p.id, p.query)
      job +: j.stages.flatMap(stageById.getOrElse(_, Nil)).map(s =>
        Span(tracer.newId(), "spark.stage", s.submit, s.complete, job.id, p.query))
    }
    val phaseSpans = synchronized(phases.toSeq).flatMap { case (name, start, end) =>
      val p = parentAt(start + (end - start) / 2)
      if (p.id == 0) None else Some(Span(tracer.newId(), name, start, end, p.id, p.query))
    }
    jobSpans ++ phaseSpans
  }
}

/** Self time per span name: a span's duration minus the part of it that
  * its children cover, summed over the spans under the traced passes.
  */
object SelfTime {
  def perName(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    def underPass(s: Span): Boolean =
      s.name == "pass" || byId.get(s.parent).exists(underPass)
    spans.filter(underPass).groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a })
        (s.end - s.start - covered).toDouble
      }.sum / 1e9
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((tot, reach), (a, b)) =>
      if (b <= reach) (tot, reach)
      else (tot + b - math.max(a, reach), b)
    }._1
}
