package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.IngestApi
import graft.extract.{CollectionDispatch, Envelope}
import graft.jobs.IngestSlice
import graft.sources.{FileCatalog, Readers}
import graft.status.StatusMachine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `ingest_single` workload: one client drives
  * `IngestApi.requestIngest` one request at a time. After each accepted
  * request the client validates the dataset's status event with
  * `updateStatuses`, appends the event and the run id to its parquet
  * stores, and reads `statusView`; the stores grow through the run. */
final class Ingest(h: Harness, seed: Long, repoRoot: Path, runDir: Path) {
  private val spark: SparkSession = h.spark
  import spark.implicits._
  private val json = new ObjectMapper()
  private val gen = new Corpus.Generator(seed, runDir.resolve("corpus"))
  private val blocks = ArrayBuffer.empty[Seq[Corpus.Request]]

  private val manifestRules = Seq(
    FileCatalog.ManifestRule("(?i)\\.fastq$", "raw reads", "EDAM:format_1930", isDataProduct = true),
    FileCatalog.ManifestRule("(?i)metadata\\.tsv$", "assay metadata", "EDAM:format_3475"))

  /** The client's stores for one segment of the run. */
  private final class Stores(dir: Path) {
    val processed: String = dir.resolve("processed_run_ids").toString
    val status: String = dir.resolve("status_events").toString
    Seq.empty[String].toDF("run_id").write.parquet(processed)
    Seq.empty[(String, String, String, Long, Long)].toDF("uuid", "entity_type", "status", "ts", "seq")
      .write.parquet(status)
    var statusRows = 0L
    var ts = 0L
  }

  /** Set-up: the fixture verdict check (which also warms the session),
    * the corpus determinism check and a client warm-up. */
  def setup(): Unit = {
    Corpus.fixtures.foreach { case (dir, want) =>
      h.checked(s"IngestSlice.run on $dir") {
        val r = h.spans("setup.fixture_check")(IngestSlice.run(spark, repoRoot.resolve(dir).toString, "fixture-check"))
        val got = Corpus.Verdict(r.collectionType, r.workflow, r.statusEvent._3 == "valid")
        if (got != want)
          h.setupProblems += s"fixture $dir: IngestSlice.run gave $got, the corpus plants $want"
      }
    }
    def firstBlocks(s: Long) = {
      val g = new Corpus.Generator(s, runDir.resolve("corpus"))
      Corpus.digest(Seq.fill(2)(g.block()).flatten)
    }
    val (a, b, other) = h.spans("setup.corpus_determinism")((firstBlocks(seed), firstBlocks(seed), firstBlocks(seed + 1)))
    if (a != b) h.setupProblems += "the corpus generator gave two trees for one seed"
    if (a == other) h.setupProblems += "the corpus generator ignored its seed"
    System.out.println(s"[perfbench] corpus seed $seed, first two blocks sha256 $a")
    // one client round trip against throwaway stores, so that the first
    // timed request does not pay the first execution of the store paths
    h.checked("the client warm-up")(h.spans("setup.client_warmup") {
      val stores = new Stores(runDir.resolve("stores-warmup"))
      val dir = repoRoot.resolve(Corpus.fixtures.head._1).toString
      val ack = IngestApi.requestIngest(spark, "warmup", dir, "warmup", spark.read.parquet(stores.processed))
      h.setupProblems ++= ack.result.toSeq.flatMap(r => statusRoundTrip(Seq(r.statusEvent), Seq("warmup"), stores))
    })
  }

  private def nextBlock(i: Int): Seq[Corpus.Request] = {
    while (blocks.size <= i) {
      val b = gen.block()
      b.foreach(r => if (!r.retry) Corpus.write(r.dataset))
      blocks += b
    }
    blocks(i)
  }

  /** Runs whole blocks until `minSeconds` of wall time have passed and
    * returns that wall time. `paired` runs every request twice, untraced
    * and traced, each against its own stores; the run id carries the
    * variant, so both copies do the same work. */
  def runBlocks(minSeconds: Double, paired: Boolean): Double = {
    val stores = (if (paired) Seq("v", "t") else Seq("u"))
      .map(v => v -> new Stores(runDir.resolve(s"stores-$v"))).toMap
    def run(variant: String, req: Corpus.Request): Unit =
      single(req.copy(runId = s"$variant-${req.runId}"), stores(variant))
    var n = 0
    var wall = 0.0
    while (wall < minSeconds) {
      val block = nextBlock(n)
      val t0 = System.nanoTime()
      if (!paired) block.foreach(run("u", _))
      else block.zipWithIndex.foreach { case (r, i) => h.paired(i)(traced => run(if (traced) "t" else "v", r)) }
      wall += (System.nanoTime() - t0) / 1e9
      n += 1
    }
    wall
  }

  private def single(req: Corpus.Request, stores: Stores): Unit =
    h.op(req.dataset.shape.name, "api.request") {
      IngestApi.requestIngest(spark, req.runId, req.dataset.dir.toString, req.dataset.id,
        spark.read.parquet(stores.processed))
    }(check = (op, ack) => {
      val problems = checkAck(req, ack)
      if (problems.nonEmpty || !ack.accepted) problems
      else afterAccepted(op, req, ack.result.get, stores)
    }, items = ack => if (ack.accepted) 1 else 0)

  /** The planted verdict, the run-id dedup and the envelope document. */
  private def checkAck(req: Corpus.Request, ack: IngestApi.IngestAck): Seq[String] = {
    val d = req.dataset
    if (ack.runId != req.runId) Seq(s"ack for ${ack.runId}, request ${req.runId}")
    else if (ack.accepted == req.retry) Seq(s"${req.runId}: accepted=${ack.accepted} for retry=${req.retry}")
    else ack.result.toSeq.flatMap { r =>
      val got = Corpus.Verdict(r.collectionType, r.workflow, r.statusEvent._3 == "valid")
      val doc = json.readTree(r.envelopeJson)
      val files = doc.path("files")
      Seq(
        Option.when(got != d.verdict)(s"${d.id} (${d.shape.name}): got $got, planted ${d.verdict}"),
        Option.when(r.statusEvent != ((d.id, "dataset", if (d.verdict.valid) "valid" else "invalid")))(
          s"${d.id}: status event ${r.statusEvent}"),
        Option.when(!files.isArray || files.size != d.files.size)(
          s"${d.id}: envelope lists ${files.size} files, the dataset has ${d.files.size}"),
      ).flatten
    }
  }

  /** After an accepted request: in a traced copy, the stage replay of the
    * dataset; then the client's status round trip. */
  private def afterAccepted(op: Int, req: Corpus.Request, result: IngestSlice.IngestResult,
                            stores: Stores): Seq[String] = {
    if (h.tracing) h.aside(op, "-stages")(replayStages(req.dataset.dir.toString, req.dataset.id))
    h.aside(op, "-status")(statusRoundTrip(Seq(result.statusEvent), Seq(req.runId), stores))
  }

  /** Validates the accepted datasets' status events, appends them and
    * their run ids to the stores, and reads the status view back. */
  private def statusRoundTrip(events: Seq[(String, String, String)], runIds: Seq[String],
                              stores: Stores): Seq[String] = {
    val requested = events.toDF("uuid", "entity_type", "status")
    val (ok, rejected) = h.spans("status.update") {
      val (ok, rejected) = IngestApi.updateStatuses(spark, requested, spark.read.parquet(stores.status))
      (ok.collect().map(r => (r.getAs[String]("uuid"), r.getAs[String]("entity_type"), r.getAs[String]("status")))
        .toSet, rejected.collect())
    }
    stores.ts += 1
    h.spans("status.append") {
      StatusMachine.stampEvents(ok.toSeq.toDF("uuid", "entity_type", "status"), stores.ts, stores.statusRows)
        .write.mode("append").parquet(stores.status)
      runIds.toDF("run_id").write.mode("append").parquet(stores.processed)
    }
    stores.statusRows += ok.size
    val view = h.spans("status.view") {
      IngestApi.statusView(spark.read.parquet(stores.status)).select("uuid", "status").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    }
    Seq(
      Option.when(ok != events.toSet)(s"updateStatuses accepted $ok of ${events.toSet}"),
      Option.when(rejected.nonEmpty)(s"updateStatuses rejected ${rejected.mkString(", ")}"),
      Option.when(view.size != stores.statusRows)(s"statusView has ${view.size} rows, the store ${stores.statusRows}"),
    ).flatten ++ events.collect { case (id, _, s) if !view.get(id).contains(s) =>
      s"statusView shows ${view.get(id)} for $id, expected $s"
    }
  }

  /** The stage calls `IngestSlice.run` makes, one span per stage, so the
    * traced run can split a request's time by module. `ingest.stage_coverage`
    * shows when this copy stops matching the slice. */
  private def replayStages(dir: String, datasetId: String): Unit = {
    val listing = h.spans("sources.scan")(FileCatalog.scan(spark, dir).withColumn("dataset_id", lit(datasetId)))
    h.spans("extract.dispatch")(CollectionDispatch.dispatch(listing))
    val (md, contributors) = h.spans("sources.metadata_tsv") {
      val path = listing.filter(col("rel_path").rlike("(?i)^[^/]*metadata\\.tsv$"))
        .select("rel_path").collect().headOption.map(r => s"$dir/${r.getString(0)}")
      path.fold((spark.emptyDataFrame, Option.empty[DataFrame])) { p =>
        val (md, violations) = Readers.metadataTsv(spark, p)
        violations.collect()
        val first = if (md.columns.contains("contributors_path")) md.take(1).headOption else None
        (md, first.flatMap(r => Option(r.getAs[String]("contributors_path"))).map(c =>
          Readers.tsv(spark, s"$dir/${c.stripPrefix("./")}").withColumn("dataset_id", lit(datasetId))))
      }
    }
    val (annotated, metadata) = h.spans("sources.annotate") {
      (FileCatalog.annotate(listing, manifestRules),
        if (md.columns.nonEmpty) IngestSlice.meltRow(md, datasetId)
        else spark.range(0).select(lit(datasetId).as("dataset_id"), lit("").as("key"), lit("").as("value")))
    }
    h.spans("extract.envelope") {
      val envelope = Envelope.assemble(metadata, annotated,
        contributors.getOrElse(spark.range(0).select(lit(datasetId).as("dataset_id"), lit("").as("name"),
          lit("").as("affiliation"), lit("").as("orcid_id"), lit("").as("is_contact"), lit("").as("email"))),
        Seq(("graft-ingest", IngestSlice.BuildInfo.commit, "graft", IngestSlice.BuildInfo.version)))
      Envelope.validate(envelope).collect()
      if (md.columns.contains("assay_type") && md.count() > 0) md.head()
      Envelope.toJsonDoc(envelope).head()
    }
  }
}

object Ingest {
  val StageSpans: Seq[String] =
    Seq("sources.scan", "extract.dispatch", "sources.metadata_tsv", "sources.annotate", "extract.envelope")
}
