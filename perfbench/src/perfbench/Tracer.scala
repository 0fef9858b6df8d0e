package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** Span timestamps: epoch milliseconds from the wall clock, the clock
  * Spark stamps listener events with. (The wall clock can run at a
  * measurably different rate from System.nanoTime, so a nanoTime-based
  * span would drift away from the job and phase times it encloses.)
  */
object Clock {
  def nowMs: Double = System.currentTimeMillis().toDouble
}

final class Span(val id: Int, val parent: Int, val name: String,
    val startMs: Double) {
  var endMs: Double = startMs
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = endMs - startMs
  def contains(t: Double): Boolean = t >= startMs && t <= endMs
}

/** The spans of one traced run, kept in memory and written out as JSON
  * lines when the run ends. Span 0 is "no parent".
  */
final class Trace {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def open(parent: Span, name: String, startMs: Double = Clock.nowMs): Span = {
    val s = new Span(spans.size + 1, if (parent == null) 0 else parent.id,
      name, startMs)
    spans += s
    s
  }

  def close(s: Span, endMs: Double = Clock.nowMs): Span = { s.endMs = endMs; s }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"\"$k\":${Json.num(v)}" }
        .mkString("{", ",", "}")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},"attrs":$attrs}""")
    } finally w.close()
  }
}

final case class JobEvent(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

final case class StageEvent(id: Int, submitMs: Long, endMs: Long,
    counters: Map[String, Double])

/** One executed query: its planning phases (from the query's
  * QueryPlanningTracker) and what its final physical plan holds.
  */
final case class QueryEvent(phases: Map[String, (Long, Long)],
    exchanges: Int, broadcasts: Int, filesWritten: Long, bytesWritten: Long,
    rowsWritten: Long) {
  def phaseMs(p: String): Double = phases.get(p).map(t => (t._2 - t._1).toDouble).getOrElse(0.0)
  def firstStartMs: Long = if (phases.isEmpty) Long.MaxValue else phases.values.map(_._1).min
  def lastEndMs: Long = if (phases.isEmpty) Long.MinValue else phases.values.map(_._2).max
}

final case class SparkWork(jobs: Seq[JobEvent], stages: Seq[StageEvent],
    queries: Seq[QueryEvent], aqeUpdates: Int)

/** Collects jobs, stages, executed queries and AQE re-plans while it is
  * attached; [[take]] hands over everything seen since the last call.
  */
final class SparkWorkListener extends SparkListener with QueryExecutionListener {
  private val started = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobEvent]
  private val stages = mutable.ArrayBuffer.empty[StageEvent]
  private val queries = mutable.ArrayBuffer.empty[QueryEvent]
  private var aqeUpdates = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (t0, ids) =>
      jobs += JobEvent(e.jobId, t0, e.time, ids) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val c =
      if (m == null) Map("tasks" -> i.numTasks.toDouble)
      else Map(
        "tasks" -> i.numTasks.toDouble,
        "task_ms" -> m.executorRunTime.toDouble,
        "task_cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "input_rows" -> m.inputMetrics.recordsRead.toDouble)
    synchronized {
      stages += StageEvent(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), c)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { aqeUpdates += 1 }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    var exchanges, broadcasts = 0
    var files, bytes, rows = 0L
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case _: ReusedExchangeExec =>
        case e: ShuffleExchangeLike => exchanges += 1; e.children.foreach(visit)
        case b: BroadcastExchangeLike => broadcasts += 1; b.children.foreach(visit)
        case w: DataWritingCommandExec =>
          files += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
          bytes += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
          rows += w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          w.children.foreach(visit)
        case w: V2TableWriteExec => // the noop write of a gate's result
          rows += w.commitProgress.map(_.numOutputRows).getOrElse(0L)
          w.children.foreach(visit)
        case other => other.children.foreach(visit)
      }
      p.subqueries.foreach(visit)
    }
    try visit(qe.executedPlan)
    catch { case _: Exception => } // a failed query may have no plan; its phases still count
    synchronized { queries += QueryEvent(phases.toMap, exchanges, broadcasts, files, bytes, rows) }
  }

  def take(sc: org.apache.spark.SparkContext): SparkWork = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val w = SparkWork(jobs.toSeq, stages.toSeq, queries.toSeq, aqeUpdates)
      jobs.clear(); stages.clear(); queries.clear(); aqeUpdates = 0
      w
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Turns the Spark work of one operation into per-layer counters and
  * child spans (job → stage) under the operation's step spans.
  */
object Layers {

  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    clipped.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else { if (open) total += curB - curA; curA = a; curB = b; open = true }
    }
    if (open) total += curB - curA
    total
  }

  /** Counters every operation reports, whatever its workload. */
  def counters(w: SparkWork, op: Span): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def st(k: String) = w.stages.map(_.counters.getOrElse(k, 0.0)).sum
    m("exec.jobs") = w.jobs.size
    m("exec.stages") = w.stages.size
    m("exec.tasks") = st("tasks")
    m("exec.task_ms") = st("task_ms")
    m("exec.task_cpu_ms") = st("task_cpu_ms")
    m("exec.gc_ms") = st("gc_ms")
    m("exec.driver_gap_ms") = op.ms - unionMs(
      w.jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble)), op.startMs, op.endMs)
    m("shuffle.write_bytes") = st("shuffle_write_bytes")
    m("shuffle.read_bytes") = st("shuffle_read_bytes")
    m("shuffle.fetch_wait_ms") = st("fetch_wait_ms")
    m("spill.bytes") = st("spill_bytes")
    m("scan.input_bytes") = st("input_bytes")
    m("scan.input_rows") = st("input_rows")
    m("plan.exchanges") = w.queries.map(_.exchanges).sum
    m("plan.broadcasts") = w.queries.map(_.broadcasts).sum
    m("aqe.plan_updates") = w.aqeUpdates
    m("fs.bytes_written") = w.queries.map(_.bytesWritten).sum.toDouble
    m("fs.files_written") = w.queries.map(_.filesWritten).sum.toDouble
    m("output.rows") = w.queries.map(_.rowsWritten).sum.toDouble
    m("catalyst.analyze_ms") = w.queries.map(_.phaseMs("analysis")).sum
    m("catalyst.optimize_ms") = w.queries.map(_.phaseMs("optimization")).sum
    m("catalyst.plan_ms") = w.queries.map(_.phaseMs("planning")).sum
    m
  }

  /** Job and stage spans, each job under the smallest step span that
    * holds its start (the operation itself when none does).
    */
  def jobSpans(trace: Trace, w: SparkWork, op: Span, steps: Seq[Span]): Unit = {
    val stageById = w.stages.groupBy(_.id)
    val placed = mutable.Set.empty[Int]
    w.jobs.sortBy(_.startMs).foreach { j =>
      val parent = steps.filter(_.contains(j.startMs.toDouble))
        .sortBy(_.ms).headOption.getOrElse(op)
      val js = trace.close(trace.open(parent, s"job ${j.id}", j.startMs.toDouble),
        j.endMs.toDouble)
      j.stageIds.filter(placed.add).flatMap(id => stageById.getOrElse(id, Nil)).foreach { s =>
        val ss = trace.close(trace.open(js, s"stage ${s.id}", s.submitMs.toDouble),
          s.endMs.toDouble)
        s.counters.foreach { case (k, v) => ss.attrs(k) = v }
      }
    }
  }
}
