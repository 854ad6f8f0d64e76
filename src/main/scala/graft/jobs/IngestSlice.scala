package graft.jobs

import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import graft.extract.{CollectionDispatch, Envelope}
import graft.operators.Routing
import graft.sources.{FileCatalog, Readers}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The minimum end-to-end slice (SURVEY.md §7 / §3.1): request_ingest of
  * a generic metadata.tsv dataset — scan (S1) → dispatch (S14) → parse +
  * validate (S2/S4/V2) → envelope (+schema check) → route (J5) → status
  * event.
  *
  * Each input is read once. The listing, the metadata.tsv and the
  * contributors TSV are small, so each is collected once into a local
  * relation; dispatch, the metadata checks and the envelope then run over
  * those, and every other probe reads the collected rows. A dataset with
  * both TSVs takes six actions: the listing, dispatch, each TSV, the
  * metadata checks, and one for the envelope document with its
  * violations. On fixture_generic that is nine Spark jobs; IngestSliceSpec
  * holds the slice to twelve.
  */
object IngestSlice {

  final case class IngestResult(
      datasetId: String,
      collectionType: String,
      workflow: String,
      violations: Seq[String],
      envelopeJson: String,
      statusEvent: (String, String, String))

  /** Workflow routing rules keyed on assay_type (workflow_map.yml shape). */
  val workflowRules: Seq[Routing.RoutingRule] = Seq(
    Routing.RoutingRule("(?i)codex", "codex_cytokit", 1),
    Routing.RoutingRule("(?i)rnaseq|scrna", "salmon_rnaseq", 2),
    Routing.RoutingRule("(?i)atac", "sc_atac_seq", 3),
  )

  /** Melt a one-row schema-on-read table to (key, value) metadata rows. */
  def meltRow(df: DataFrame, datasetId: String): DataFrame = {
    val kvs = df.columns.map(c => struct(lit(c).as("key"), col(c).as("value")))
    df.select(explode(array(kvs.toIndexedSeq: _*)).as("kv"))
      .select(lit(datasetId).as("dataset_id"), col("kv.key"), col("kv.value"))
  }

  /** The manifest annotation rules of the slice's files. */
  private val manifestRules = Seq(
    FileCatalog.ManifestRule("(?i)\\.fastq$", "raw reads", "EDAM:format_1930", isDataProduct = true),
    FileCatalog.ManifestRule("(?i)metadata\\.tsv$", "assay metadata", "EDAM:format_3475"))

  private val rootMetadataTsv = Pattern.compile("(?i)^[^/]*metadata\\.tsv$")

  /** Collects a small frame once: its rows, and a local relation over them. */
  private def localize(df: DataFrame): (Seq[Row], DataFrame) = {
    val rows = df.collect().toSeq
    (rows, df.sparkSession.createDataFrame(rows.asJava, df.schema))
  }

  def run(spark: SparkSession, dir: String, datasetId: String): IngestResult = {
    // S1: distributed scan + tagging, collected once
    val (files, listing) = localize(FileCatalog.scan(spark, dir).withColumn("dataset_id", lit(datasetId)))
    // S14: priority dispatch
    val collectionType = CollectionDispatch.dispatch(listing)
    // S2/S4 + V2: metadata parse + structural validation; of several
    // root-level metadata.tsv files the largest is read, ties by path
    val metadataPath = files.map(r => (r.getAs[String]("rel_path"), r.getAs[Long]("size")))
      .filter { case (p, _) => rootMetadataTsv.matcher(p).find() }
      .sortBy { case (p, size) => (-size, p) }
      .headOption.map { case (p, _) => s"$dir/$p" }
    val md = metadataPath.map(p => localize(Readers.tsv(spark, p)))
    val violationList = md match {
      case None => Seq("required_file: metadata.tsv missing")
      case Some((_, df)) =>
        Readers.metadataChecks(df).collect().map(r => s"${r.getString(0)}: ${r.getString(1)}").toSeq
    }
    // a field of the first data row; a header-only metadata.tsv has the
    // columns but no rows — report violations, don't throw
    def firstRowField(name: String): Option[String] = md.flatMap { case (rows, df) =>
      if (df.columns.contains(name)) rows.headOption.flatMap(r => Option(r.getAs[String](name))) else None
    }
    // contributors sub-TSV (F1 contract)
    val contributors = firstRowField("contributors_path")
      .map(p => localize(Readers.tsv(spark, s"$dir/${p.stripPrefix("./")}")
        .withColumn("dataset_id", lit(datasetId)))._2)
      .getOrElse(spark.range(0).select(
        lit(datasetId).as("dataset_id"), lit("").as("name"), lit("").as("affiliation"),
        lit("").as("orcid_id"), lit("").as("is_contact"), lit("").as("email")))
    // envelope assembly + validation, in one action
    val metadata = md.map(_._2).filter(_.columns.nonEmpty).map(meltRow(_, datasetId))
      .getOrElse(spark.range(0).select(lit(datasetId).as("dataset_id"), lit("").as("key"), lit("").as("value")))
    val envelope = Envelope.assemble(metadata, FileCatalog.annotate(listing, manifestRules), contributors,
      Seq(("graft-ingest", BuildInfo.commit, "graft", BuildInfo.version)))
    val doc = Envelope.checkedJsonDoc(envelope).head()
    val envViolations = doc.getSeq[String](doc.fieldIndex("violations"))
    // J5 routing on assay_type
    val assay = firstRowField("assay_type").getOrElse("")
    val workflow = workflowRules.sortBy(_.priority)
      .find(r => Pattern.compile(r.pattern).matcher(assay).find())
      .map(_.workflow).getOrElse("no_workflow")
    // status event from validation outcome
    val status = if (violationList.isEmpty && envViolations.isEmpty) "valid" else "invalid"
    IngestResult(
      datasetId, collectionType, workflow,
      violationList ++ envViolations,
      doc.getAs[String]("doc"),
      (datasetId, "dataset", status))
  }

  /** Minimal build provenance (the reference shells out to git —
    * utils.py:626-663; we inline constants wired at release time).
    */
  object BuildInfo {
    val commit: String = "dev"
    val version: String = "0.1.0"
  }
}
