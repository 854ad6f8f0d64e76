package perfbench

import java.util.Locale
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkInternals

/** JSON and report formatting; every number goes through `Locale.ROOT`. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** A measured number with all its digits. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"not a finite number: $v")
    java.lang.Double.toString(v)
  }

  /** `{"name":{"value":v,"unit":"u"},...}` */
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${str(n)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }.mkString("{", ",", "}")

  def fmt(v: Double, digits: Int = 4): String = String.format(Locale.ROOT, s"%.${digits}f", Double.box(v))
}

/** One timed operation: an ingest request or a query. */
final case class Op(id: Int, name: String, seconds: Double, items: Int, failed: Boolean, traced: Boolean)

/** Runs timed operations one at a time, as the benchmark's single client.
  * Each operation gets its own job group, so the tracer can tie Spark's
  * events to it; an operation that throws (non-fatally), outlives the
  * timeout or fails its output check counts as failed. A fatal error
  * aborts the run, naming the workload and the operation. */
final class Harness(val spark: SparkSession, val workload: String, timeoutSeconds: Int) {
  val spans = new Spans
  val ops = ArrayBuffer.empty[Op]
  val tracer = new Tracer
  /** Failed set-up checks; any of them makes the run incorrect. */
  val setupProblems = ArrayBuffer.empty[String]
  private var tracingOn = false
  private var nextId = 0
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }

  /** Runs a set-up step; a program that throws in it fails the set-up
    * check instead of ending the run. */
  def checked(what: String)(body: => Unit): Unit =
    try body catch { case NonFatal(e) => setupProblems += s"$what threw $e" }

  def group(op: Int, part: String = ""): String = s"${Harness.GroupPrefix}$op$part"

  def tracing: Boolean = tracingOn

  /** Runs `body` with the tracer registered. Deregistering waits for the
    * listener bus to drain, so every event of `body` reaches the tracer
    * and none of the next operation's does. */
  def traced[A](body: => A): A = {
    val sc = spark.sparkContext
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    tracingOn = true
    try body
    finally {
      tracingOn = false
      SparkInternals.drainListenerBus(sc)
      spark.listenerManager.unregister(tracer)
      sc.removeSparkListener(tracer)
    }
  }

  /** Runs item `i` once untraced and once traced, alternating which goes
    * first, so the traced/untraced ratio is not biased by warm-up. */
  def paired(i: Int)(run: Boolean => Unit): Unit =
    if (i % 2 == 0) { run(false); traced(run(true)) }
    else { traced(run(true)); run(false) }

  /** Runs `body` under a job group of `op` that is not the operation's
    * own, so its Spark work stays out of the operation's engine totals. */
  def aside[A](op: Int, part: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group(op, part), s"$workload $part", interruptOnCancel = true)
    try body finally sc.clearJobGroup()
  }

  /** Times `body` as operation `name`. `check` runs after the clock
    * stops and returns the mismatches it found; `items` counts the
    * datasets or queries the operation completed. */
  def op[A](name: String, span: String)(body: => A)(check: (Int, A) => Seq[String], items: A => Int): Option[A] = {
    val id = nextId
    nextId += 1
    val sc = spark.sparkContext
    val g = group(id)
    @volatile var timedOut = false
    val timer = watchdog.schedule((() => { timedOut = true; sc.cancelJobGroup(g) }): Runnable,
      timeoutSeconds.toLong, TimeUnit.SECONDS)
    sc.setJobGroup(g, s"$workload $name", interruptOnCancel = true)
    val t0 = System.nanoTime()
    val result =
      try Right(spans.withOp(id)(spans(span)(body)))
      catch {
        case NonFatal(e) => Left(e)
        case e: Throwable =>
          System.err.println(s"[perfbench] fatal error in workload $workload, operation $id ($name): $e")
          throw e
      }
      finally {
        timer.cancel(false)
        sc.clearJobGroup()
      }
    val seconds = (System.nanoTime() - t0) / 1e9
    val problems = result match {
      case _ if timedOut => Seq(s"timed out after ${timeoutSeconds}s")
      case Left(e) => Seq(s"threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(2).mkString(" | ")}")
      case Right(a) =>
        try spans.withOp(id)(check(id, a))
        catch {
          case NonFatal(e) => Seq(s"output check threw ${e.getClass.getName}: ${e.getMessage}")
        }
    }
    problems.foreach(p => System.err.println(s"[perfbench] $workload operation $id ($name) failed: $p"))
    System.err.println(s"[perfbench] $workload operation $id ($name) ${Json.fmt(seconds)} s")
    val ok = result.toOption.filter(_ => problems.isEmpty)
    ops += Op(id, name, seconds, ok.map(items).getOrElse(0), failed = ok.isEmpty, traced = tracingOn)
    ok
  }

  def close(): Unit = watchdog.shutdownNow()
}

object Harness {
  val GroupPrefix = "perfbench-op-"
}
