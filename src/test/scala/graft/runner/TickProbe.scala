package graft.runner

import scala.collection.mutable

import org.apache.spark.graftListenerBusBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of driver code cost in Spark terms, observed from
  * outside the code under test:
  *   - `jobs` and `executions`: Spark jobs and SQL executions started,
  *     and `trail`, each in order: an execution's id and call site, or a
  *     job's execution id and final stage name (a failure message);
  *   - `callStacks`: each SQL execution's call stack, from the first
  *     frame outside Spark;
  *   - `scans`: per finished action, its name and the rows its file scans
  *     returned from tables under `roots` (final plan, query stages and
  *     subqueries included);
  *   - `plans`: per finished action, its executed physical plan as text
  *     (a pin's `localCheckpoint` included);
  *   - `confSamples`: the `confKeys` values of the caller's session, read
  *     as each SQL execution start is delivered to the listener;
  *   - `compiles`: classes generated code compiled (Janino), the change in
  *     `CodegenMetrics.METRIC_COMPILATION_TIME`'s count; a class found in
  *     Spark's code cache is not compiled again.
  * Spec suites run one at a time in the test JVM, so every event in the
  * window belongs to the block.
  */
final class TickProbe private (spark: SparkSession, roots: Seq[String],
                               confKeys: Seq[String]) {
  var jobs = 0
  val trail = mutable.ArrayBuffer[String]()
  var executions = 0
  val callStacks = mutable.ArrayBuffer[String]()
  val scans = mutable.ArrayBuffer[(String, Long)]()
  val plans = mutable.ArrayBuffer[String]()
  val confSamples = mutable.ArrayBuffer[Map[String, Option[String]]]()
  var compiles = 0L

  private def underRoots(p: org.apache.hadoop.fs.Path): Boolean = {
    val s = p.toUri.getPath
    roots.exists(r => s == r || s.startsWith(r + "/"))
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def scannedRows(qe: QueryExecution): Long =
      collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(underRoots) =>
          s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      val x = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      trail += s"${x.getOrElse("-")}:${e.stageInfos.maxBy(_.stageId).name}"
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        val sample = confKeys.map(k => k -> spark.conf.getOption(k)).toMap
        synchronized {
          executions += 1
          confSamples += sample
          callStacks += x.details
          trail += s"[${x.executionId} ${x.description}]"
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val (n, plan) = (Plans.scannedRows(qe), qe.executedPlan.toString)
      synchronized {
        scans += funcName -> n
        plans += plan
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Rows scanned from `roots` by every action except those named in `except`. */
  def rowsScannedExcept(except: String*): Long =
    scans.collect { case (f, n) if !except.contains(f) => n }.sum
}

object TickProbe {
  def during[T](spark: SparkSession, roots: Seq[String] = Nil,
                confKeys: Seq[String] = Nil)(body: => T): (T, TickProbe) = {
    val p = new TickProbe(spark, roots, confKeys)
    graftListenerBusBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(p.listener)
    spark.listenerManager.register(p.qeListener)
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val r = body
      p.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      graftListenerBusBridge.drain(spark.sparkContext)
      (r, p)
    } finally {
      spark.sparkContext.removeSparkListener(p.listener)
      spark.listenerManager.unregister(p.qeListener)
    }
  }
}
