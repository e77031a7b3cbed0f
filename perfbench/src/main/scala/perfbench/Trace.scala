package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Interval arithmetic over [start, end) pairs in epoch milliseconds. */
object Intervals {
  /** Total length covered by the union of `xs`, each clipped to [lo, hi). */
  def covered(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val cs = xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    cs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** What one timed call into the program cost, seen from outside it. */
final case class CallStats(
    name: String, wallS: Double,
    /** Seconds of the call's wall time, split by layer: each instant is
      * shared equally among the jobs running then, and an instant with no
      * running job is `driver_gap`. The values add up to `wallS`.
      */
    split: Map[String, Double],
    jobs: Int, tasks: Int, actions: Int, planMs: Double,
    /** Seconds of the call during which an SQL execution (or, for
      * `bloom`, a job) was writing each sink; concurrent writes to one
      * sink count once.
      */
    writeS: Map[String, Double],
    shuffleWriteBytes: Long, spillBytes: Long, taskGcMs: Long, taskMs: Long,
    scanBytes: Long, scanRows: Long, factScanRows: Long, factScans: Int) {
  def driverGapS: Double = split.getOrElse("driver_gap", 0.0)
  def splitError: Double = math.abs(split.values.sum - wallS)
}

/** The outside-in collector: a `SparkListener` that records SQL
  * executions, jobs, stages and tasks in memory. The end event of an SQL
  * execution carries the `QueryExecution` and the action name that Spark
  * hands to query-execution listeners, so one listener sees both. Calls
  * the benchmark makes into the program are bracketed with [[call]];
  * everything the listener saw inside a call's window belongs to that
  * call (the benchmark has one client, so calls never overlap). Spans (call → SQL execution → job → stage, linked by
  * `spark.sql.execution.id`) are written out by [[writeSpans]] at exit.
  */
final class Collector(spark: SparkSession) {
  private final class Exec(val id: Long) {
    var root = id
    var start = Long.MaxValue
    var end = -1L
    var name = ""
    var sink = "read:"
    var planMs = 0.0
    var scanBytes = 0L
    var scanRows = 0L
    var factScanRows = 0L
    var factScans = 0
  }
  private final class Job(val id: Int, val exec: Long, val start: Long,
                          val stages: Seq[Int], val site: String) {
    var end = -1L
  }
  private final class Stage(val id: Int, val attempt: Int, val name: String) {
    var start = -1L
    var end = -1L
    var tasks = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private final class Call(val seq: Int, val name: String, val start: Long, val end: Long)

  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val attempts = mutable.Map[Int, mutable.ArrayBuffer[Stage]]()
  private def stageRec(id: Int, attempt: Int, name: String): Stage =
    stages.getOrElseUpdate((id, attempt), {
      val s = new Stage(id, attempt, name)
      attempts.getOrElseUpdate(id, mutable.ArrayBuffer()) += s
      s
    })
  private def stagesOf(id: Int): Seq[Stage] = attempts.get(id).map(_.toSeq).getOrElse(Nil)
  private def exec(id: Long): Exec = execs.getOrElseUpdate(id, new Exec(id))
  private val calls = mutable.ArrayBuffer[Call]()
  private var attached = false

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execs.synchronized {
        val x = exec(s.executionId)
        x.root = s.rootExecutionId.getOrElse(s.executionId)
        x.start = s.time
      }
      case x: SparkListenerSQLExecutionEnd => execs.synchronized {
        val rec = exec(x.executionId)
        rec.end = x.time
        PerfbenchBridge.reported(x).foreach { case (name, qe) => record(rec, name, qe) }
      }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val site = j.stageInfos.map(_.name).mkString(";")
      jobs(j.jobId) = new Job(j.jobId, exec, j.time, j.stageIds, site)
      j.stageInfos.foreach(si => stageRec(si.stageId, si.attemptNumber(), si.name))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(j.jobId).foreach(_.end = j.time)
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = jobs.synchronized {
      val si = s.stageInfo
      stageRec(si.stageId, si.attemptNumber(), si.name).start =
        si.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = jobs.synchronized {
      val si = s.stageInfo
      stages.get((si.stageId, si.attemptNumber())).foreach(_.end =
        si.completionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = jobs.synchronized {
      stages.get((t.stageId, t.stageAttemptId)).foreach { st =>
        st.tasks += 1
        st.taskMs += t.taskInfo.duration
        val m = t.taskMetrics
        if (m != null) {
          st.gcMs += m.jvmGCTime
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Fills in what an execution's `QueryExecution` tells: the sink it
    * writes, its planning phases and its file scans.
    */
  private def record(x: Exec, funcName: String, qe: QueryExecution): Unit = {
    x.name = funcName
    x.sink = qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => Collector.sinkOf(c.outputPath.toString)
      case w: V2WriteCommand if w.table.name.contains("noop") => "noop"
    }.getOrElse(s"read:$funcName")
    x.planMs = Collector.phaseMs(qe)
    reported.add(qe)
    val scans = try Collector.scans(qe.executedPlan) catch { case _: Exception => Nil }
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    x.scanBytes = scans.map(metric(_, "filesSize")).sum
    x.scanRows = scans.map(metric(_, "numOutputRows")).sum
    val fact = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("fact_user_events")))
    x.factScanRows = fact.map(metric(_, "numOutputRows")).sum
    x.factScans = fact.size
  }

  // the query executions whose phases an execution has already counted
  private val reported = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())

  /** Planning time of a `QueryExecution` no SQL execution has reported,
    * such as the analysis of a Dataset that is only built, never run;
    * 0 for one an execution reported.
    */
  def unreportedPlanMs(qe: QueryExecution): Double = execs.synchronized {
    if (reported.contains(qe)) 0.0 else Collector.phaseMs(qe)
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    PerfbenchBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    execs.synchronized(reported.clear())
    attached = false
  }

  def isAttached: Boolean = attached

  /** Runs `f` as one call and returns its result with the call's stats
    * (only when the collector is attached; wall time always).
    */
  def call[T](name: String)(f: => T): (T, Double, Option[CallStats]) = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    if (!attached) (r, wall, None)
    else {
      PerfbenchBridge.drain(spark.sparkContext)
      val c = new Call(calls.size, name, t0, math.max(t1, t0 + 1))
      calls += c
      (r, wall, Some(stats(c, wall)))
    }
  }

  /** The SQL executions and jobs that started inside a call's window. */
  private def within(c: Call): (Seq[Exec], Seq[Job]) = {
    def inCall(t: Long) = t >= c.start && t <= c.end
    (execs.values.filter(x => inCall(x.start)).toSeq, jobs.values.filter(j => inCall(j.start)).toSeq)
  }

  /** The call's stats; `wall` is its wall time from the monotonic clock,
    * which the millisecond split is checked against.
    */
  private def stats(c: Call, wall: Double): CallStats = execs.synchronized { jobs.synchronized {
    val (cx, cj) = within(c)
    val cs = cj.flatMap(_.stages).distinct.flatMap(stagesOf)
    val execById = cx.map(x => x.id -> x).toMap
    def layerOf(j: Job): String =
      if (j.exec >= 0) execById.get(j.exec).map(x =>
        execById.get(x.root).map(_.sink).getOrElse(x.sink)).getOrElse("read:")
      else if (j.site.contains("BloomSidecar")) "bloom"
      else "rdd"
    // sweep the call window: an instant is shared equally among the jobs
    // running then; an instant no job covers is driver time
    val ivs = cj.map(j => (math.max(j.start, c.start),
      math.min(if (j.end < 0) c.end else j.end, c.end), layerOf(j)))
      .filter { case (s, e, _) => e > s }
    val cuts = (ivs.flatMap { case (s, e, _) => Seq(s, e) } ++ Seq(c.start, c.end)).distinct.sorted
    val split = mutable.Map[String, Double]().withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val active = ivs.filter { case (s, e, _) => s <= a && e >= b }
        val len = (b - a) / 1000.0
        if (active.isEmpty) split("driver_gap") += len
        else active.foreach { case (_, _, l) => split(l) += len / active.size }
      case _ =>
    }
    val writeS = cx.filterNot(_.sink.startsWith("read")).groupBy(_.sink).map { case (k, xs) =>
      k -> Intervals.covered(xs.map(x => (x.start, if (x.end < 0) c.end else x.end)),
        c.start, c.end) / 1000.0 }
    val bloomS = Intervals.covered(cj.filter(layerOf(_) == "bloom")
      .map(j => (j.start, if (j.end < 0) c.end else j.end)), c.start, c.end) / 1000.0
    CallStats(c.name, wall, split.toMap, cj.size, cs.map(_.tasks).sum,
      cx.count(x => x.root == x.id), cx.map(_.planMs).sum,
      if (bloomS > 0) writeS + ("bloom" -> bloomS) else writeS,
      cs.map(_.shuffleWrite).sum, cs.map(_.spill).sum, cs.map(_.gcMs).sum,
      cs.map(_.taskMs).sum, cx.map(_.scanBytes).sum, cx.map(_.scanRows).sum,
      cx.map(_.factScanRows).sum, cx.map(_.factScans).sum)
  }}

  /** One JSON object per span: each call, the SQL executions, jobs and
    * stages inside it, with `self_ms` = duration minus the part of the
    * span covered by its children.
    */
  def writeSpans(f: java.io.File): Int = execs.synchronized { jobs.synchronized {
    val out = mutable.ArrayBuffer[Map[String, Any]]()
    def span(kind: String, id: String, parent: String, name: String, s: Long, e: Long,
             children: Seq[(Long, Long)], attrs: Map[String, Any]): Unit =
      out += Map("kind" -> kind, "id" -> id, "parent" -> parent, "name" -> name,
        "start_ms" -> s, "end_ms" -> e, "dur_ms" -> (e - s),
        "self_ms" -> ((e - s) - Intervals.covered(children, s, e))) ++ attrs
    def endOf(t: Long, dflt: Long) = if (t < 0) dflt else t
    calls.foreach { c =>
      val id = s"call:${c.seq}"
      val (cx, cj) = within(c)
      val topExecs = cx.filter(x => x.root == x.id || !cx.exists(_.id == x.root))
      val orphanJobs = cj.filter(j => j.exec < 0 || !cx.exists(_.id == j.exec))
      span("call", id, "", c.name, c.start, c.end,
        topExecs.map(x => (x.start, endOf(x.end, c.end))) ++
          orphanJobs.map(j => (j.start, endOf(j.end, c.end))), Map.empty)
      cx.foreach { x =>
        val kids = cx.filter(k => k.root == x.id && k.id != x.id)
          .map(k => (k.start, endOf(k.end, c.end))) ++
          cj.filter(_.exec == x.id).map(j => (j.start, endOf(j.end, c.end)))
        span("sql", s"sql:${x.id}",
          if (x.root != x.id && cx.exists(_.id == x.root)) s"sql:${x.root}" else id,
          x.name, x.start, endOf(x.end, c.end), kids,
          Map("execution_id" -> x.id, "sink" -> x.sink, "plan_ms" -> x.planMs,
            "scan_bytes" -> x.scanBytes, "scan_rows" -> x.scanRows))
      }
      cj.foreach { j =>
        val st = j.stages.flatMap(stagesOf).filter(_.start >= 0)
        span("job", s"job:${j.id}",
          if (j.exec >= 0 && cx.exists(_.id == j.exec)) s"sql:${j.exec}" else id,
          j.site.split(";").headOption.getOrElse(""), j.start, endOf(j.end, c.end),
          st.map(s => (s.start, endOf(s.end, c.end))),
          Map("execution_id" -> j.exec))
        st.foreach { s =>
          span("stage", s"stage:${s.id}.${s.attempt}", s"job:${j.id}", s.name,
            s.start, endOf(s.end, c.end), Nil,
            Map("tasks" -> s.tasks, "task_ms" -> s.taskMs, "gc_ms" -> s.gcMs,
              "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill))
        }
      }
    }
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try out.foreach(m => w.println(Json.write(m))) finally w.close()
    out.size
  }}
}

object Collector {
  /** Milliseconds of the analysis, optimization and planning phases a
    * `QueryExecution` has run so far.
    */
  def phaseMs(qe: QueryExecution): Double = qe.tracker.phases.values.map(_.durationMs).sum.toDouble

  /** The warehouse layer a write lands in, from its output path. */
  def sinkOf(path: String): String =
    if (path.contains("__compact_tmp")) "compact"
    else if (path.contains("/bronze_events")) "bronze"
    else if (path.contains("/user_events_silver")) "silver"
    else if (path.contains("/fact_user_events")) "fact"
    else if (path.contains("/dim_") || path.contains("recipe_master")) "dims"
    else "other_write"

  /** Every file scan in an executed plan, through adaptive stages and
    * subqueries.
    */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }
}
