package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer. Spans nest request → SQL execution → job and carry
  * the request id: the client thread tags its jobs through a local
  * property, an execution belongs to the request of its jobs (or, when
  * it ran none, to the request open at its start), and each action's
  * QueryExecution is matched to its execution through the execution's
  * end event. Task counters are summed on their job. Everything is kept
  * in memory and written out once, when the run ends; the arithmetic over
  * the spans (unions, self time, per-request sums) is done by the
  * benchmark's Python side (metrics.py).
  *
  * The tracer only attaches listeners; it changes no engine code path.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val actions = mutable.ArrayBuffer.empty[Action]
  private val qeExec = mutable.Map.empty[Long, Long]
  private var attached = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val j = new Job(e.jobId, p.flatMap(x => Option(x.getProperty(RequestKey))),
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong),
        e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.c("tasks") += 1
        if (e.reason != Success) j.c("failed_tasks") += 1
        val m = e.taskMetrics
        if (m != null) {
          j.c("task_ms") += m.executorRunTime
          j.c("cpu_ms") += m.executorCpuTime / 1000000L
          j.c("gc_ms") += m.jvmGCTime
          j.c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          j.c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
          j.c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
          j.c("input_bytes") += m.inputMetrics.bytesRead
          j.c("input_rows") += m.inputMetrics.recordsRead
          j.c("output_rows") += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId) = new Exec(s.executionId, s.time)
        case s: SparkListenerSQLExecutionEnd =>
          execs.get(s.executionId).foreach(_.end = s.time)
          PerfbenchAccess.queryExecution(s).foreach(qe => qeExec(qe.id) = s.executionId)
        case _ =>
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(f, qe, failed = false)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit =
      record(f, qe, failed = true)
  }

  private def record(f: String, qe: QueryExecution, failed: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val counts = planCounts(qe.executedPlan)
    synchronized {
      actions += new Action(qe.id, f, failed,
        ms("analysis"), ms("optimization"), ms("planning"), counts)
    }
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    attached = true
  }

  /** Detach after every queued event has been seen. */
  def detach(): Unit = if (attached) {
    PerfbenchAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    attached = false
  }

  /** Spans and counters as JSON lines, one object per job, execution and
    * action.
    */
  def dump(): Seq[String] = {
    detach()
    synchronized {
      jobs.values.map(_.json).toSeq ++ execs.values.map(_.json) ++
        actions.map(a => a.json(qeExec.getOrElse(a.qeId, -1L)))
    }
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  val RequestKey = "perfbench.request"

  /** Node counts over the final executed plan, adaptive stages and
    * subqueries included.
    */
  def planCounts(plan: SparkPlan): Map[String, Long] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Map(
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeExec]).toLong,
      "reused_exchanges" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]).toLong,
      "broadcast_joins" -> nodes.count {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
        case _ => false
      }.toLong,
      "smj_joins" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]).toLong)
  }

  final class Job(val id: Int, val request: Option[String], val exec: Option[Long],
                  val start: Long) {
    var end: Long = -1L
    val c: mutable.Map[String, Long] = mutable.LinkedHashMap(
      Seq("tasks", "failed_tasks", "task_ms", "cpu_ms", "gc_ms",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
        "input_bytes", "input_rows", "output_rows").map(_ -> 0L): _*)
    def json: String = Json.obj(Seq("type" -> Json.str("job"), "id" -> id.toString,
      "request" -> request.map(Json.str).getOrElse("null"),
      "exec" -> exec.map(_.toString).getOrElse("null"),
      "start" -> start.toString, "end" -> end.toString) ++
      c.toSeq.map { case (k, v) => k -> v.toString })
  }

  final class Exec(val id: Long, val start: Long) {
    var end: Long = -1L
    def json: String = Json.obj(Seq("type" -> Json.str("exec"), "id" -> id.toString,
      "start" -> start.toString, "end" -> end.toString))
  }

  final class Action(val qeId: Long, val func: String, val failed: Boolean,
                     val analysisMs: Long, val optimizationMs: Long,
                     val planningMs: Long, val counts: Map[String, Long]) {
    def json(exec: Long): String = Json.obj(Seq("type" -> Json.str("action"),
      "exec" -> exec.toString, "func" -> Json.str(func),
      "failed" -> failed.toString, "analysis_ms" -> analysisMs.toString,
      "optimization_ms" -> optimizationMs.toString,
      "planning_ms" -> planningMs.toString) ++
      counts.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
  }
}

/** Just enough JSON writing for the run records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
