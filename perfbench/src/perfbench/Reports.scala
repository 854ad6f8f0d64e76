package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{Bench, SparkEntry}
import graft.operators.{Dedup, GraphOps}
import org.apache.spark.sql.{Column, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `reports` workload: passes over 23 `SparkEntry.queries` entries,
  * each query executed in full through
  * `Bench.runFullPlan` (the noop sink). Set-up builds the four shared
  * artifacts in the run's fresh warehouse and times each build. */
final class Reports(h: Harness, seed: Long, dataDir: String, answers: Map[String, Reports.Answer]) {
  import Reports._
  private val spark: SparkSession = h.spark
  private val rnd = new SplittableRandom(seed)
  private val orders = ArrayBuffer.empty[Seq[String]]
  private val queries = SparkEntry.queries

  /** Warms every table's scan path, then builds the shared artifacts —
    * each build is its own `plans.artifact.*` span inside set-up. */
  def setup(): Unit = {
    h.spans("setup.tables") {
      TableNames.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())
    }
    Seq[(String, () => Unit)](
      "edges" -> (() => GraphOps.sharedEdges(spark, dataDir)),
      "weighted_edges" -> (() => GraphOps.sharedWeightedEdges(spark, dataDir)),
      "lp_labels" -> (() => GraphOps.sharedLpLabels(spark, dataDir, graft.plans.Rounds.of(spark, "lpa", 2))),
      "ppjoin_truth" -> (() => Dedup.sharedPpjoinTruth(spark, dataDir)),
    ).foreach { case (a, build) => h.checked(s"the $a build")(h.spans(s"plans.artifact.$a")(build())) }
  }

  /** A pass runs the heavy queries, then the report queries, each group
    * in a seeded order: the report queries, which hold the median, then
    * run on a session the heavy ones have warmed, whatever the seed. */
  private def order(pass: Int): Seq[String] = {
    def shuffled(xs: Seq[String]) = {
      val a = xs.toArray
      for (i <- a.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
    while (orders.size <= pass) orders += shuffled(Heavy) ++ shuffled(Light)
    orders(pass)
  }

  /** Runs whole passes until `minSeconds` of wall time have passed and
    * returns the wall time of each. `paired` runs every query twice,
    * untraced and traced. */
  def runPasses(minSeconds: Double, paired: Boolean): Seq[Double] = {
    val walls = ArrayBuffer.empty[Double]
    while (walls.sum < minSeconds) {
      val t0 = System.nanoTime()
      order(walls.size).zipWithIndex.foreach { case (q, i) =>
        if (paired) h.paired(i)(_ => runQuery(q)) else runQuery(q)
      }
      walls += (System.nanoTime() - t0) / 1e9
    }
    walls.toSeq
  }

  private def runQuery(name: String): Unit =
    h.op(name, s"query.$name") {
      val df = queries(name)(spark, dataDir)
      val obs = Observation()
      Bench.runFullPlan(df.observe(obs, count(lit(1)).as("rows"), sum(rowHash(df.schema)).as("digest")))
      obs
    }(check = (_, obs) => {
      val got = obs.get
      val rows = got("rows").asInstanceOf[Long]
      val digest = Option(got("digest")).map(d => BigDecimal(d.asInstanceOf[java.math.BigDecimal])).getOrElse(BigDecimal(0))
      answers.get(name) match {
        case None => Seq(s"no recorded answer for $name")
        case Some(a) if a.rows != rows || a.digest != digest =>
          Seq(s"$name: $rows rows, digest $digest; the oracle answer has ${a.rows} rows, digest ${a.digest}")
        case _ => Nil
      }
    }, items = _ => 1)
}

object Reports {

  /** Heavy queries: executor work, shuffle, the AQE loop and every
    * shared-artifact consumer. */
  val Heavy: Seq[String] = Seq("q276_clustering_coef", "q224_cheapest_paths", "q232_label_propagation",
    "q296_dbscan", "q307_markov_attribution", "q113_bloom_calibration", "q326_blocking_quality",
    "q216_ppjoin_exact", "q217_source_cap_stream")

  /** Queries that mirror the reference's own reports; each is dominated by
    * fixed per-query cost. */
  val Light: Seq[String] = Seq("q02_status_counts", "q140_status_pivot", "q50_qc_metrics",
    "q24_checksum_manifest", "q25_weekly_usage", "q26_latest_status", "q45_two_hop_usage",
    "q332_status_history", "q27_route_rules", "q30_manifest_annotate", "q31_ancestry",
    "q46_error_diagnostics", "q69_es_hits", "q61_session_errors")

  val All: Seq[String] = Heavy ++ Light

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** The graft module that defines each query. */
  val Module: Map[String, String] = Map(
    "q276_clustering_coef" -> "GraphOps", "q224_cheapest_paths" -> "GraphOps",
    "q232_label_propagation" -> "GraphOps", "q296_dbscan" -> "Clustering",
    "q307_markov_attribution" -> "RangeJoin", "q61_session_errors" -> "RangeJoin",
    "q113_bloom_calibration" -> "Sketches", "q326_blocking_quality" -> "Dedup",
    "q216_ppjoin_exact" -> "Dedup", "q24_checksum_manifest" -> "Dedup",
    "q217_source_cap_stream" -> "IngestStream", "q02_status_counts" -> "RelationalReports",
    "q140_status_pivot" -> "RelationalReports", "q50_qc_metrics" -> "RelationalReports",
    "q25_weekly_usage" -> "LogPipeline", "q26_latest_status" -> "LogPipeline",
    "q45_two_hop_usage" -> "LogPipeline", "q332_status_history" -> "LogPipeline",
    "q27_route_rules" -> "Routing", "q30_manifest_annotate" -> "Routing",
    "q31_ancestry" -> "EntityGraph", "q46_error_diagnostics" -> "Validation",
    "q69_es_hits" -> "Validation")

  /** A query's recorded oracle answer: its row count and the sum of its
    * rows' digests. */
  final case class Answer(rows: Long, digest: BigDecimal)

  def loadAnswers(path: Path): Map[String, Answer] = {
    val root = new ObjectMapper().readTree(Files.readAllBytes(path)).path("queries")
    root.fieldNames().asScala.map { q =>
      val a = root.path(q)
      q -> Answer(a.path("rows").asLong(-1L), BigDecimal(a.path("digest").asText("-1")))
    }.toMap
  }

  /** One value in the canonical text form `record_answers.py` gives the
    * oracle's value: `None` for null, `True`/`False`, six decimals for
    * floating point, session-zone (UTC) microseconds for timestamps, and
    * Spark's string cast otherwise. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c.isNull, "None").when(isnan(c), "NaN").otherwise(format_string("%.6f", c))
    case BooleanType => when(c.isNull, "None").when(c, "True").otherwise("False")
    case TimestampType | TimestampNTZType =>
      coalesce(date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS"), lit("None"))
    case _: NumericType | StringType | DateType => coalesce(c.cast(StringType), lit("None"))
    case other => throw new IllegalArgumentException(s"no canonical form for output type $other")
  }

  /** A row's digest: the first 60 bits of the md5 of its canonical values,
    * columns in name order, as a decimal; summed over the rows it is
    * independent of row order. */
  def rowHash(schema: StructType): Column = {
    val values = schema.fields.sortBy(_.name).toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    conv(substring(md5(concat_ws("\u0001", values: _*).cast(BinaryType)), 1, 15), 16, 10)
      .cast(DecimalType(38, 0))
  }

  /** The oracle SQL of every query, for `record_answers.py`. */
  def oracleSqlJson(): String =
    All.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}").mkString("{", ",", "}")
}
