package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Always-on storage accounting: executor memory held by RDD blocks
  * (cached and checkpointed), tracked from block updates, and its peak
  * since the last [[reset]].
  */
class StorageListener extends SparkListener {
  private val blocks = scala.collection.mutable.HashMap.empty[String, Long]
  private var held = 0L
  @volatile var peakBytes = 0L

  def reset(): Unit = synchronized { peakBytes = held }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      held -= blocks.getOrElse(key, 0L)
      if (info.storageLevel.isValid && info.memSize > 0) {
        blocks(key) = info.memSize; held += info.memSize
      } else blocks.remove(key)
      if (held > peakBytes) peakBytes = held
    }
  }
}

/** A named interval of the benchmark's own code. `op` is the op id the
  * span belongs to, or -1 for set-up and checks.
  */
final case class Span(id: Int, name: String, start: Long, var end: Long,
    parent: Int, op: Int)

/** `exec` is the SQL execution id, or -1 for a job outside one. */
final case class JobRec(id: Int, start: Long, var end: Long, frames: Seq[String],
    exec: Long, var span: Int = -1)

final case class TaskRec(job: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, written: Long)

final case class PlanRec(start: Long, planMs: Long)

/** The traced run's recorder. Spans come from the benchmark's code; a
  * SparkListener records jobs (with the call stack that submitted them)
  * and tasks; a QueryExecutionListener records Catalyst phase times from
  * `QueryExecution.tracker`. Everything stays in memory until the run
  * ends.
  */
class Tracer extends SparkListener with QueryExecutionListener {
  val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack.empty[Span]
  private var currentOp = -1

  val jobs = ArrayBuffer.empty[JobRec]
  private val execSite = scala.collection.mutable.HashMap.empty[Long, Seq[String]]
  private val jobById = scala.collection.mutable.HashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  val tasks = ArrayBuffer.empty[TaskRec]
  val plans = ArrayBuffer.empty[PlanRec]

  def now(): Long = System.currentTimeMillis()

  def span[T](name: String, op: Int = currentOp)(body: => T): T = {
    val s = synchronized {
      val sp = Span(spans.size, name, now(), -1L,
        stack.headOption.map(_.id).getOrElse(-1), op)
      spans += sp; stack.push(sp); sp
    }
    val prevOp = currentOp
    currentOp = op
    try body
    finally synchronized { s.end = now(); stack.pop(); currentOp = prevOp }
  }

  /** `graft.X$.method` names of the call stack, innermost first. */
  private def framesOf(callSite: String): Seq[String] =
    callSite.split("\n").toSeq.map(_.trim).filter(_.startsWith("graft."))
      .map(f => f.takeWhile(_ != '('))

  /** A SQL execution's call site is taken on the thread that ran the
    * action; jobs it submits from other threads (broadcasts, adaptive
    * query stages) inherit its execution id.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSite(x.executionId) = framesOf(x.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val fromExec = exec.flatMap(execSite.get).getOrElse(Nil)
    val fromStage = framesOf(
      e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse(""))
    val j = JobRec(e.jobId, e.time, -1L, if (fromExec.nonEmpty) fromExec else fromStage,
      exec.getOrElse(-1L))
    jobs += j; jobById(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(stageJob.getOrElse(e.stageId, -1),
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      plans += PlanRec(ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum)
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  /** Attribute every job to the innermost span open at its start. */
  def attribute(): Unit = synchronized {
    jobs.foreach { j =>
      val open = spans.filter(s => s.start <= j.start && (s.end < 0 || j.start <= s.end))
      j.span = if (open.isEmpty) -1 else open.maxBy(s => (s.start, s.id)).id
    }
  }

  def json(): String = synchronized {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val sb = new StringBuilder("{\"spans\":[")
    sb ++= spans.map(s => s"""{"id":${s.id},"name":${q(s.name)},"start":${s.start},""" +
      s""""end":${s.end},"parent":${s.parent},"op":${s.op}}""").mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= jobs.map(j => s"""{"id":${j.id},"start":${j.start},"end":${j.end},""" +
      s""""span":${j.span},"site":${q(j.frames.headOption.getOrElse(""))}}""").mkString(",")
    sb ++= "]}"
    sb.toString
  }
}

object Intervals {
  /** Total length of the union of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length from the first start to the last end, 0 if empty. */
  def extent(iv: Seq[(Long, Long)]): Long =
    if (iv.isEmpty) 0L else iv.map(_._2).max - iv.map(_._1).min
}
