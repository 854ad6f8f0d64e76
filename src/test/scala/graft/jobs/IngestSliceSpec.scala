package graft.jobs

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import org.apache.spark.graftspec.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class IngestSliceSpec extends SparkSpec {

  private val generic = "src/test/resources/fixture_generic"
  private val multiassay = "src/test/resources/fixture_multiassay"

  /** Runs `f` on a fresh temp directory holding `files` (relative path →
    * text), and deletes the directory afterwards. */
  private def withDataset[T](files: (String, String)*)(f: String => T): T = {
    val dir = Files.createTempDirectory("ingest-slice-spec")
    try {
      files.foreach { case (rel, text) =>
        val p = dir.resolve(rel)
        Files.createDirectories(p.getParent)
        Files.write(p, text.getBytes(UTF_8))
      }
      f(dir.toString)
    } finally {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
  }

  private val contributorsTsv =
    "name\taffiliation\torcid_id\tis_contact\temail\nAda\tUni\t0-1\tTRUE\tada@x.org\n"

  test("end-to-end generic ingest: scan → dispatch → validate → envelope → route → status") {
    val r = IngestSlice.run(spark, generic, "ds-0001")
    assert(r.collectionType == "generic_metadatatsv")
    assert(r.workflow == "codex_cytokit")
    assert(r.violations.isEmpty)
    assert(r.statusEvent == (("ds-0001", "dataset", "valid")))
    assert(r.envelopeJson.contains(""""assay_type":"codex""""))
    assert(r.envelopeJson.contains(""""ada@example.org""""))     // promoted contact
    assert(r.envelopeJson.contains(""""raw reads""""))           // manifest annotation
    assert(r.envelopeJson.contains(""""dag_provenance_list""""))
  }

  test("devtest dir routes to no_workflow but still dispatches") {
    val r = IngestSlice.run(spark, "src/test/resources/fixture_devtest", "ds-0002")
    assert(r.collectionType == "devtest")
    assert(r.workflow == "no_workflow")
    assert(r.statusEvent._3 == "invalid") // no metadata.tsv → violations
  }

  test("generic envelope document matches byte-for-byte") {
    // every field is deterministic: relative path, type tag, byte size and
    // the manifest annotation; modification times are not in the document
    val golden =
      """{"metadata":{"assay_type":"codex","data_path":"./raw","contributors_path":"./contributors.tsv","antibodies_path":"./antibodies.tsv","tissue_id":"TEST0001-LK-1","donor_id":"TEST0001"},""" +
      """"files":[{"rel_path":"antibodies.tsv","type":"tsv","size":44,"description":"","edam_term":"","is_qa_qc":false,"is_data_product":false},""" +
      """{"rel_path":"contributors.tsv","type":"tsv","size":122,"description":"","edam_term":"","is_qa_qc":false,"is_data_product":false},""" +
      """{"rel_path":"extras/thumbnail.jpg","type":"unknown","size":14,"description":"","edam_term":"","is_qa_qc":false,"is_data_product":false},""" +
      """{"rel_path":"my-metadata.tsv","type":"tsv","size":145,"description":"assay metadata","edam_term":"EDAM:format_3475","is_qa_qc":false,"is_data_product":false},""" +
      """{"rel_path":"raw/sample_001.csv","type":"csv","size":8,"description":"","edam_term":"","is_qa_qc":false,"is_data_product":false},""" +
      """{"rel_path":"raw/sample_001.fastq","type":"fastq","size":16,"description":"raw reads","edam_term":"EDAM:format_1930","is_qa_qc":false,"is_data_product":true}],""" +
      """"contributors":[{"name":"Ada","affiliation":"Uni","orcid_id":"0000-0001","is_contact":"TRUE","email":"ada@example.org"},""" +
      """{"name":"Bob","affiliation":"Lab","orcid_id":"0000-0002","is_contact":"FALSE","email":"bob@example.org"}],""" +
      """"contacts":[{"name":"Ada","email":"ada@example.org","affiliation":"Uni"}],""" +
      """"dag_provenance_list":[{"name":"graft-ingest","hash":"dev","origin":"graft","version":"0.1.0"}]}"""
    assert(IngestSlice.run(spark, generic, "ds-golden").envelopeJson == golden)
  }

  test("multiassay dir dispatches to multiassay_metadatatsv and is valid") {
    val r = IngestSlice.run(spark, multiassay, "ds-0003")
    assert(r.collectionType == "multiassay_metadatatsv")
    assert(r.workflow == "no_workflow")
    assert(r.violations.isEmpty)
    assert(r.statusEvent == (("ds-0003", "dataset", "valid")))
  }

  test("of several root metadata.tsv files the largest is read") {
    // 10x_multiome-metadata.tsv (92 bytes) beats rna-metadata.tsv (84);
    // the RNAseq row would route to salmon_rnaseq
    val r = IngestSlice.run(spark, multiassay, "ds-0004")
    val doc = new ObjectMapper().readTree(r.envelopeJson)
    assert(doc.path("metadata").path("assay_type").asText() == "10x Multiome")
    assert(r.workflow == "no_workflow")
  }

  test("of equal-size root metadata.tsv files the first path in order is read") {
    val header = "assay_type\tdata_path\tcontributors_path\n"
    withDataset(
      "b-metadata.tsv" -> s"${header}codex\t./raw\t./contributors.tsv\n",
      "a-metadata.tsv" -> s"${header}ATACs\t./raw\t./contributors.tsv\n",
      "contributors.tsv" -> contributorsTsv) { dir =>
      val tie = IngestSlice.run(spark, dir, "ds-0005")
      assert(tie.collectionType == "multiassay_metadatatsv")
      assert(tie.workflow == "sc_atac_seq")
    }
  }

  test("header-only metadata.tsv is valid and routes nowhere") {
    withDataset(
      "metadata.tsv" -> "assay_type\tdata_path\tcontributors_path\n",
      "contributors.tsv" -> contributorsTsv,
      "raw/a.fastq" -> "@r\nACGT\n") { dir =>
      val r = IngestSlice.run(spark, dir, "ds-0006")
      assert(r.collectionType == "generic_metadatatsv")
      assert(r.workflow == "no_workflow")
      assert(r.violations.isEmpty)
      assert(r.statusEvent == (("ds-0006", "dataset", "valid")))
      val doc = new ObjectMapper().readTree(r.envelopeJson)
      assert(doc.path("metadata").size() == 0)
      assert(doc.path("contributors").size() == 0)
      assert(doc.path("files").size() == 3)
    }
  }

  test("an empty assay_type cell routes nowhere") {
    withDataset(
      "metadata.tsv" -> "assay_type\tdata_path\tcontributors_path\n\t./raw\t./contributors.tsv\n",
      "contributors.tsv" -> contributorsTsv) { dir =>
      val r = IngestSlice.run(spark, dir, "ds-0009")
      assert(r.collectionType == "generic_metadatatsv")
      assert(r.workflow == "no_workflow")
      assert(r.statusEvent == (("ds-0009", "dataset", "valid")))
    }
  }

  test("missing metadata.tsv is unrecognized and invalid") {
    withDataset(
      "contributors.tsv" -> contributorsTsv,
      "raw/a.fastq" -> "@r\nACGT\n") { dir =>
      val r = IngestSlice.run(spark, dir, "ds-0007")
      assert(r.collectionType == "unrecognized")
      assert(r.workflow == "no_workflow")
      assert(r.violations == Seq("required_file: metadata.tsv missing"))
      assert(r.statusEvent == (("ds-0007", "dataset", "invalid")))
    }
  }

  test("a tissue id without its donor prefix is routed but invalid") {
    withDataset(
      "metadata.tsv" -> ("assay_type\tdata_path\tcontributors_path\ttissue_id\tdonor_id\n" +
        "RNAseq\t./raw\t./contributors.tsv\tHBM0002-LK-1\tHBM0001\n"),
      "contributors.tsv" -> contributorsTsv,
      "raw/a.fastq" -> "@r\nACGT\n") { dir =>
      val r = IngestSlice.run(spark, dir, "ds-0008")
      assert(r.collectionType == "generic_metadatatsv")
      assert(r.workflow == "salmon_rnaseq")
      assert(r.violations == Seq("tissue_id_prefix: tissue_id HBM0002-LK-1 !startswith HBM0001"))
      assert(r.statusEvent == (("ds-0008", "dataset", "invalid")))
      assert(r.envelopeJson.contains(""""contacts":[{"name":"Ada","email":"ada@x.org","affiliation":"Uni"}]"""))
    }
  }

  test("a warm generic request runs at most 12 Spark jobs") {
    IngestSlice.run(spark, generic, "ds-warm")
    val group = "ingest-slice-job-budget"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "IngestSlice job budget")
      try IngestSlice.run(spark, generic, "ds-budget") finally sc.clearJobGroup()
      ListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    info(s"IngestSlice.run started ${jobs.get()} Spark jobs")
    assert(jobs.get() > 0, "the listener saw no job of the group")
    assert(jobs.get() <= 12, s"IngestSlice.run started ${jobs.get()} Spark jobs")
  }
}
