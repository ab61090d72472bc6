package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into the program, timed by the benchmark. `id` is put on
  * every Spark job the call submits (local property [[Trace.OpKey]]),
  * which is how the listener attributes jobs, stages and tasks to it.
  */
final case class Span(id: String, kind: String, timed: Boolean,
    startMs: Long, endMs: Long, wallNs: Long, gcMs: Long, ok: Boolean)

/** Spark's own counters for one [[Span]]. */
final class OpCounters {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var planningMs = 0L
  var replicaRows = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of `[startMs, endMs]` covered by no job. */
  def gapMs(startMs: Long, endMs: Long): Long = {
    var covered = 0L
    var upTo = startMs
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      val (a, b) = (math.max(s, upTo), math.min(e, endMs))
      if (b > a) { covered += b - a; upTo = b }
    }
    (endMs - startMs) - covered
  }
}

object Trace {
  val OpKey = "perfbench.op"
}

/** The traced run's listener: a SparkListener for jobs, stages and
  * tasks, and a QueryExecutionListener for planning time. Registered
  * only when tracing, so the untraced run pays nothing for it.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  private val byOp = new ConcurrentHashMap[String, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  // planning events carry no op id: kept with their wall-clock start
  // and attributed to the span whose interval holds it
  private val plans = ArrayBuffer.empty[(Long, Long, Long)]

  private def acc(op: String): OpCounters =
    byOp.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpKey)))
    op.foreach { o =>
      acc(o).synchronized(acc(o).jobs += 1)
      jobStart.put(e.jobId, (o, e.time))
      e.stageIds.foreach(s => stageOp.put(s, o))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (o, t0) =>
      val a = acc(o)
      a.synchronized(a.jobIntervals += ((t0, e.time)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (o <- Option(stageOp.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = acc(o)
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  /** Rows a join-free, aggregate-free plan read from checkpointed
    * tables: a driver-side re-collect of a collection's table (the
    * serving replica). A search scans under a join, `numEntities` under
    * an aggregate, so neither counts.
    */
  private def recollectedRows(plan: SparkPlan): Long = {
    val names = collectWithSubqueries(plan) { case p => p.nodeName }
    if (names.exists(n => n.contains("Join") || n.contains("Aggregate"))) 0L
    else collect(plan) { case p if p.nodeName.contains("Scan ExistingRDD") ||
        p.getClass.getSimpleName == "RDDScanExec" =>
      p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val start = phases.map(_.startTimeMs).min
      val ms = phases.map(_.durationMs).sum
      val rows = recollectedRows(qe.executedPlan)
      plans.synchronized(plans += ((start, ms, rows)))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Counters per span id, after the listener bus has drained. */
  def forSpans(spans: Seq[Span]): Map[String, OpCounters] = {
    val sorted = spans.sortBy(_.startMs)
    plans.synchronized(plans.toList).foreach { case (start, ms, rows) =>
      sorted.find(s => s.startMs <= start && start <= s.endMs).foreach { s =>
        val a = acc(s.id)
        a.synchronized { a.planningMs += ms; a.replicaRows += rows }
      }
    }
    spans.map(s => s.id -> acc(s.id)).toMap
  }
}
