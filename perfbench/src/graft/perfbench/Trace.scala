package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval at a layer boundary. Spans of one query or
  * micro-batch share `group`; `parent` names the span that caused it.
  * Times are milliseconds since the run started.
  */
final case class Span(id: Int, parent: Int, group: String, name: String,
    startMs: Double, var endMs: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "group" -> group,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs)
}

/** In-memory span store; written out once when the run ends. */
final class Spans(t0Ns: Long) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  def msOf(ns: Long): Double = (ns - t0Ns) / 1e6
  def add(parent: Int, group: String, name: String, startMs: Double, endMs: Double): Int = {
    val id = buf.size + 1
    buf += Span(id, parent, group, name, startMs, endMs)
    id
  }
  def close(id: Int, endMs: Double): Unit = buf(id - 1).endMs = endMs
  def all: Seq[Span] = buf.toSeq
}

/** Execution counters summed over the tasks of a set of jobs. */
final class ExecTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var scanBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var peakExecMem = 0L

  def metrics: Map[String, Double] = Map(
    "exec.jobs" -> jobs.toDouble,
    "exec.stages" -> stages.toDouble,
    "exec.tasks" -> tasks.toDouble,
    "exec.task_run_s" -> runMs / 1e3,
    "exec.task_cpu_s" -> cpuNs / 1e9,
    "exec.gc_s" -> gcMs / 1e3,
    "exec.scan_mb" -> scanBytes / 1e6,
    "exec.shuffle_write_mb" -> shuffleWrite / 1e6,
    "exec.shuffle_read_mb" -> shuffleRead / 1e6,
    "exec.spill_mb" -> spill / 1e6,
    "exec.peak_exec_mem_mb" -> peakExecMem / 1e6)
}

/** A finished Spark job, with the phase it was tagged with and the
  * module of its first graft stack frame (`tables`, `ops` or `other`).
  */
final case class JobRecord(id: Int, tag: String, phase: String, module: String,
    startMs: Long, endMs: Long)

/** Census of one executed physical plan. */
final case class PlanCensus(scans: Int, exchanges: Int, reused: Int, bhj: Int,
    smj: Int, bnlj: Int, sortAggs: Int, graftExprs: Int)

object PlanCensus extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): PlanCensus = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    def n(f: SparkPlan => Boolean) = nodes.count(f)
    PlanCensus(
      scans = n(p => p.isInstanceOf[FileSourceScanExec] || p.isInstanceOf[BatchScanExec]),
      exchanges = n(p => p.isInstanceOf[ShuffleExchangeExec] || p.isInstanceOf[BroadcastExchangeExec]),
      reused = n(_.isInstanceOf[ReusedExchangeExec]),
      bhj = n(_.isInstanceOf[BroadcastHashJoinExec]),
      smj = n(_.isInstanceOf[SortMergeJoinExec]),
      bnlj = n(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      sortAggs = n(_.isInstanceOf[SortAggregateExec]),
      graftExprs = nodes.map(_.expressions.map(_.collect {
        case e if e.getClass.getName.startsWith("graft.functions.") => e
      }.size).sum).sum)
  }
}

/** The traced run's listeners. Jobs are tagged through the `perfbench.tag`
  * local property (`<group>|<phase>`), which Spark copies onto every job
  * submitted from the tagging thread; untagged jobs (the stream's
  * micro-batches run on their own thread) count as phase `exec`.
  * Everything is read only after [[ListenerBus.drain]], and both
  * listeners are removed by [[close]].
  */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val jobs = new ConcurrentHashMap[Int, (String, Long, String)]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val finished = new ConcurrentLinkedQueue[JobRecord]()
  private val totals = new ConcurrentHashMap[String, ExecTotals]()
  private val executions = new ConcurrentLinkedQueue[(String, QueryExecution)]()

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executions.add(funcName -> qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  sc.addSparkListener(this)
  spark.listenerManager.register(qeListener)

  def tag(group: String, phase: String): Unit =
    sc.setLocalProperty(Recorder.TagKey, s"$group|$phase")
  def untag(): Unit = sc.setLocalProperty(Recorder.TagKey, null)

  private def totalsOf(tag: String) = totals.computeIfAbsent(tag, _ => new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.TagKey)))
      .getOrElse("stream|exec")
    val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    val frame = details.split("\n").find(_.trim.startsWith("graft.")).getOrElse("").trim
    val module =
      if (frame.startsWith("graft.Tables")) "tables"
      else if (frame.startsWith("graft.ops.")) "ops"
      else "other"
    jobs.put(e.jobId, (tag, e.time, module))
    e.stageIds.foreach(stageTag.put(_, tag))
    totalsOf(tag).synchronized { totalsOf(tag).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { case (tag, start, module) =>
      val Array(group, phase) = tag.split("\\|", 2)
      finished.add(JobRecord(e.jobId, group, phase, module, start, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
      val t = totalsOf(tag); t.synchronized { t.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val tag = Option(stageTag.get(e.stageId)).getOrElse("stream|exec")
    val t = totalsOf(tag)
    t.synchronized {
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.scanBytes += m.inputMetrics.bytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Wait for the listener bus, then hand over (and forget) everything
    * recorded so far: finished jobs, per-tag execution totals, and the
    * query executions that completed.
    */
  def harvest(): (Seq[JobRecord], Map[String, ExecTotals], Seq[(String, QueryExecution)]) = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val out = mutable.ArrayBuffer.empty[T]
      var x = q.poll()
      while (x != null) { out += x; x = q.poll() }
      out.toSeq
    }
    val t = totals.asScala.toMap
    totals.clear()
    (take(finished), t, take(executions))
  }

  def close(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(this)
    untag()
  }
}

object Recorder {
  val TagKey = "perfbench.tag"
}
