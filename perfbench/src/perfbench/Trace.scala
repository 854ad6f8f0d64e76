package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call the benchmark makes into a layer. `op` is the
  * operation it belongs to (-1 for set-up); `parent` is the enclosing
  * span's id (-1 at the top). Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans kept in memory for one run and written out when it ends. The
  * benchmark drives one client thread, so a stack gives each span its
  * parent. */
final class Spans {
  val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var op = -1
  private var nextId = 0

  def withOp[A](id: Int)(body: => A): A = {
    val saved = op
    op = id
    try body finally op = saved
  }

  def apply[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, System.nanoTime()) :: open
    try body
    finally {
      val (_, _, start) = open.head
      open = open.tail
      done += Span(id, name, start, System.nanoTime(), parent, op)
    }
  }

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark engine totals of one operation, summed over every job its job
  * group ran. Times are seconds, sizes bytes. */
final class EngineTotals {
  var analysis, optimization, planning, exec = 0.0
  var actions, jobs, stages, tasks, failedTasks, aqeUpdates = 0L
  var executorRun, executorCpu, gc = 0.0
  var shuffleRead, shuffleWrite, spill = 0L

  def add(o: EngineTotals): Unit = {
    analysis += o.analysis; optimization += o.optimization; planning += o.planning; exec += o.exec
    actions += o.actions; jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; aqeUpdates += o.aqeUpdates
    executorRun += o.executorRun; executorCpu += o.executorCpu; gc += o.gc
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** The outside-in tracer: one `SparkListener` plus one
  * `QueryExecutionListener`, registered by the benchmark. Callbacks run on
  * Spark's listener-bus threads, and AQE stage jobs carry no graft call
  * site, so every event is tied to its operation by the job group the
  * benchmark sets: jobs through their properties, stages and tasks through
  * their job, SQL executions through `jobGroupId`, and query executions
  * through the execution that ran them. Events whose group the benchmark
  * did not set are ignored. Call [[totals]] only after the bus has
  * drained. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val GroupKey = "spark.jobGroup.id"
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val execGroup = new ConcurrentHashMap[Long, String]
  private val execSpan = new ConcurrentHashMap[Long, (Long, Long)]
  private val byGroup = new ConcurrentHashMap[String, EngineTotals]
  private val qeExec = new ConcurrentHashMap[QueryExecution, Long]
  private val queries = new ConcurrentLinkedQueue[(QueryExecution, Long)]

  private def update(group: String)(f: EngineTotals => Unit): Unit =
    if (group != null && group.startsWith(Harness.GroupPrefix)) {
      val t = byGroup.computeIfAbsent(group, _ => new EngineTotals)
      t.synchronized(f(t))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty(GroupKey)).orNull
    if (group != null) {
      e.stageIds.foreach(stageGroup.put(_, group))
      update(group)(_.jobs += 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    update(stageGroup.get(e.stageInfo.stageId))(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    update(stageGroup.get(e.stageId)) { t =>
      t.tasks += 1
      if (e.reason != Success) t.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.executorRun += m.executorRunTime / 1e3
        t.executorCpu += m.executorCpuTime / 1e9
        t.gc += m.jvmGCTime / 1e3
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(execGroup.put(s.executionId, _))
      execSpan.put(s.executionId, (s.time, Long.MaxValue))
    case end: SparkListenerSQLExecutionEnd =>
      execSpan.computeIfPresent(end.executionId, (_, v) => (v._1, end.time))
      SparkInternals.queryExecution(end).foreach(qeExec.put(_, end.executionId))
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      update(execGroup.get(u.executionId))(_.aqeUpdates += 1)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    queries.add((qe, durationNs))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    queries.add((qe, 0L))

  /** Engine totals per job group. Catalyst phases count once per query
    * execution, even when several actions reuse it; an action's execution
    * time excludes the part of its interval the phases already cover. */
  def totals(): Map[String, EngineTotals] = {
    val seenPhases = scala.collection.mutable.Set.empty[QueryExecution]
    queries.asScala.foreach { case (qe, durNs) =>
      val id = qeExec.getOrDefault(qe, -1L)
      update(execGroup.get(id)) { t =>
        val phases = qe.tracker.phases
        def sec(p: String) = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
        if (seenPhases.add(qe)) {
          t.analysis += sec("analysis"); t.optimization += sec("optimization"); t.planning += sec("planning")
        }
        val (startMs, endMs) = Option(execSpan.get(id)).getOrElse((0L, 0L))
        val overlapMs = phases.values.map(p =>
          math.max(0L, math.min(p.endTimeMs, endMs) - math.max(p.startTimeMs, startMs))).sum
        t.actions += 1
        t.exec += math.max(0.0, durNs / 1e9 - overlapMs / 1e3)
      }
    }
    queries.clear()
    byGroup.asScala.toMap
  }
}
