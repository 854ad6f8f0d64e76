package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession

/** Entry point of the per-change benchmark; `perfbench/run.py` builds it and
  * passes validated arguments. One run is one workload in one JVM:
  *
  *  - `--trace 0`: set-up, then whole blocks (ingest) or passes (reports)
  *    for at least `seconds`; prints the end-to-end metrics.
  *  - `--trace 1`: set-up, then whole blocks or passes for at least
  *    `seconds` in which every operation runs twice, untraced and traced
  *    in alternating order; prints the per-layer metrics of the traced
  *    copies, with the traced/untraced latency ratio as the tracing
  *    overhead, and writes the spans next to the run.
  *
  * The last stdout line is the result JSON; `[perfbench]` lines before it
  * are the human-readable report. */
object Main {
  val Workloads: Seq[String] = Seq("ingest_single", "reports")

  def main(args: Array[String]): Unit = args.toList match {
    case "oracle-sql" :: out :: Nil =>
      Files.write(Paths.get(out), Reports.oracleSqlJson().getBytes("UTF-8"))
    case "run" :: workload :: seed :: seconds :: trace :: runDir :: repoRoot :: cores :: Nil
        if Workloads.contains(workload) && seed.toLongOption.isDefined &&
          seconds.toIntOption.exists(_ > 0) && Set("0", "1").contains(trace) &&
          cores.toIntOption.exists(_ > 0) =>
      // a fatal error must end the JVM even if Spark leaves threads behind;
      // Harness has already named the workload and the operation
      try run(workload, seed.toLong, seconds.toInt, trace == "1", Paths.get(runDir), Paths.get(repoRoot), cores.toInt)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          System.err.flush()
          Runtime.getRuntime.halt(1)
      }
    case _ =>
      System.err.println("usage: perfbench.Main run <workload> <seed> <seconds> <0|1> <runDir> <repoRoot> <cores>" +
        " | oracle-sql <out.json>")
      sys.exit(2)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  private def run(workload: String, seed: Long, seconds: Int, trace: Boolean, runDir: Path,
                  repoRoot: Path, cores: Int): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(cores, s"perfbench-$workload")
    val h = new Harness(spark, workload, timeoutSeconds = 60)
    val report = ArrayBuffer.empty[(String, Double, String)]
    def setupDone(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // set-up seconds, and wall seconds of each whole pass (reports) or of
    // all whole blocks (ingest) run in the measured segment
    var setupS = 0.0
    var walls = Seq.empty[Double]
    workload match {
      case "reports" =>
        val dataDir = repoRoot.resolve("perfbench/data/sf0.01").toString
        val w = new Reports(h, seed, dataDir, Reports.loadAnswers(repoRoot.resolve("perfbench/answers.json")))
        w.setup()
        setupS = setupDone()
        walls = w.runPasses(seconds, paired = trace)
        Seq("edges", "weighted_edges", "lp_labels", "ppjoin_truth").foreach { a =>
          report += ((s"plans.artifact.${a}_s", h.spans.named(s"plans.artifact.$a").map(_.seconds).sum, "s"))
        }
        if (!trace) report += (("pass_s", median(walls), "s"))
      case "ingest_single" =>
        val w = new Ingest(h, seed, repoRoot, runDir)
        w.setup()
        setupS = setupDone()
        walls = Seq(w.runBlocks(seconds, paired = trace))
    }

    val untraced = h.ops.filterNot(_.traced).toSeq
    val failed = h.ops.count(_.failed)
    val endToEnd = Seq(("setup_s", setupS, "s"), ("latency_geomean_s", geomean(untraced.map(_.seconds)), "s"),
      ("items_per_s", untraced.map(_.items).sum / walls.sum, "1/s"))
    if (!trace) report ++= endToEnd ++ Seq(("latency_p50_s", median(untraced.map(_.seconds)), "s"),
      ("peak_rss_mb", peakRssMb(), "MB"))
    report ++= Seq(("operations", h.ops.size.toDouble, "count"),
      ("failed_frac", failed.toDouble / h.ops.size, "ratio"))

    val metrics =
      if (!trace) endToEnd
      else {
        val layers = Layers.compute(h, cores, workload, passes = walls.size)
        report ++= layers.all
        h.spans.writeJsonl(runDir.resolve("spans.jsonl"))
        Files.write(runDir.resolve("layers.json"), (Json.metrics(layers.all) + "\n").getBytes("UTF-8"))
        layers.perLayer
      }

    h.close()
    spark.stop()
    h.setupProblems.foreach(p => System.out.println(s"[perfbench] set-up check failed: $p"))
    report.foreach { case (n, v, u) => System.out.println(s"[perfbench] $workload $n ${Json.fmt(v, 6)} $u") }
    System.out.println(s"""{"correct":${failed == 0 && h.setupProblems.isEmpty},"attempted":${h.ops.size},""" +
      s""""failed":$failed,"metrics":${Json.metrics(metrics)}}""")
    System.out.flush()
  }
}

/** Per-layer metrics of a traced segment. `perLayer` holds the metrics
  * every workload has (the result JSON's); `all` adds the module spans of
  * the workload at hand. Engine metrics are per-operation means of each
  * operation's job-group totals. */
final case class Layers(perLayer: Seq[(String, Double, String)], all: Seq[(String, Double, String)])

object Layers {
  def compute(h: Harness, cores: Int, workload: String, passes: Int): Layers = {
    val totals = h.tracer.totals()
    val traced = h.ops.filter(_.traced).toSeq
    val untraced = h.ops.filterNot(_.traced).toSeq
    val n = traced.size.toDouble
    val perOp = traced.map(op => op -> totals.getOrElse(h.group(op.id), new EngineTotals))
    val sum = new EngineTotals
    perOp.foreach { case (_, t) => sum.add(t) }
    val wall = traced.map(_.seconds).sum
    val selfS = perOp.map { case (op, t) => op.seconds - t.analysis - t.optimization - t.planning - t.exec }.sum
    val mb = 1024.0 * 1024.0
    val perLayer = Seq(
      ("spark.analysis_s", sum.analysis / n, "s"),
      ("spark.optimization_s", sum.optimization / n, "s"),
      ("spark.planning_s", sum.planning / n, "s"),
      ("spark.exec_s", sum.exec / n, "s"),
      ("driver.self_s", selfS / n, "s"),
      ("spark.actions", sum.actions / n, "count"),
      ("spark.jobs", sum.jobs / n, "count"),
      ("spark.stages", sum.stages / n, "count"),
      ("spark.tasks", sum.tasks / n, "count"),
      ("spark.aqe_updates", sum.aqeUpdates / n, "count"),
      ("spark.executor_run_s", sum.executorRun / n, "s"),
      ("spark.executor_cpu_s", sum.executorCpu / n, "s"),
      ("spark.gc_s", sum.gc / n, "s"),
      ("spark.core_util", sum.executorRun / (wall * cores), "ratio"),
      ("spark.shuffle_read_mb", sum.shuffleRead / mb / n, "MB"),
      ("spark.shuffle_write_mb", sum.shuffleWrite / mb / n, "MB"),
      ("spark.spill_mb", sum.spill / mb / n, "MB"),
      ("spark.failed_tasks", sum.failedTasks / n, "count"),
      ("trace.overhead", Main.geomean(traced.map(_.seconds)) / Main.geomean(untraced.map(_.seconds)) - 1, "ratio"))

    val tracedIds = traced.map(_.id).toSet
    val spans = h.spans.done.filter(s => tracedIds(s.op)).toSeq
    def meanOf(name: String): Double = {
      val xs = spans.filter(_.name == name).map(_.seconds)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val module: Seq[(String, Double, String)] = workload match {
      case "reports" =>
        val perQuery = Reports.All.map(q => q -> meanOf(s"query.$q"))
        Reports.Module.values.toSeq.distinct.sorted.map { m =>
          (s"operators.${m}_s", perQuery.collect { case (q, s) if Reports.Module(q) == m => s }.sum, "s")
        } ++ perQuery.map { case (q, s) => (s"query.${q}_s", s, "s") } ++ Seq(
          ("trace.pass_s", traced.map(_.seconds).sum / passes, "s"),
          ("trace.overhead_pass", traced.map(_.seconds).sum / untraced.map(_.seconds).sum - 1, "ratio"))
      case _ =>
        val stageOps = spans.filter(s => Ingest.StageSpans.contains(s.name)).map(_.op).toSet
        val stageSum = spans.filter(s => Ingest.StageSpans.contains(s.name)).map(_.seconds).sum
        val apiSum = spans.filter(s => s.name == "api.request" && stageOps(s.op)).map(_.seconds).sum
        Seq(("api.request_s", meanOf("api.request"), "s")) ++
          Ingest.StageSpans.map(s => (s"${s}_s", meanOf(s), "s")) ++ Seq(
          ("ingest.stage_coverage", if (apiSum > 0) stageSum / apiSum else 0.0, "ratio"),
          ("status.update_s", meanOf("status.update"), "s"),
          ("status.append_s", meanOf("status.append"), "s"),
          ("status.view_s", meanOf("status.view"), "s"),
          ("status.store_rows", traced.map(_.items).sum.toDouble, "count"))
    }
    Layers(perLayer, perLayer ++ module)
  }
}
