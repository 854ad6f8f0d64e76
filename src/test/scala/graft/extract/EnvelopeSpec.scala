package graft.extract

import graft.SparkSpec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

class EnvelopeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def fixtures = {
    val metadata = Seq(
      ("d1", "assay_type", "codex"), ("d1", "data_path", "./raw"),
      ("d2", "assay_type", "rnaseq")).toDF("dataset_id", "key", "value")
    val listing = Seq(
      ("d1", "raw/a.csv", "csv", 10L, "sample table", "EDAM:1", false, true),
      ("d1", "my-metadata.tsv", "tsv", 5L, "", "", false, false))
      .toDF("dataset_id", "rel_path", "type", "size", "description", "edam_term", "is_qa_qc", "is_data_product")
    val contributors = Seq(
      ("d1", "Ada", "Uni", "0000-1", "TRUE", "ada@x.org"),
      ("d1", "Bob", "Lab", "0000-2", "no", "bob@x.org"))
      .toDF("dataset_id", "name", "affiliation", "orcid_id", "is_contact", "email")
    (metadata, listing, contributors)
  }

  test("assemble builds one nested envelope per dataset with promoted contacts") {
    val (md, listing, contribs) = fixtures
    val env = Envelope.assemble(md, listing, contribs, Seq(("graft", "abc123", "origin", "0.1")))
    val rows = env.orderBy("dataset_id").collect()
    assert(rows.length == 2)
    val d1 = rows(0)
    assert(d1.getAs[Map[String, String]]("metadata") == Map("assay_type" -> "codex", "data_path" -> "./raw"))
    assert(d1.getSeq[org.apache.spark.sql.Row](d1.fieldIndex("files")).length == 2)
    val contacts = d1.getSeq[org.apache.spark.sql.Row](d1.fieldIndex("contacts"))
    assert(contacts.map(_.getAs[String]("email")) == Seq("ada@x.org"))
    assert(Envelope.validate(env).count() == 0)
  }

  test("validate reports missing provenance") {
    val (md, listing, contribs) = fixtures
    val env = Envelope.assemble(md, listing, contribs, Seq.empty)
    val v = Envelope.validate(env).select("violation").as[String].collect().toSet
    assert(v == Set("missing dag_provenance_list"))
  }

  test("toJsonDoc emits parseable canonical JSON") {
    val (md, listing, contribs) = fixtures
    val env = Envelope.assemble(md, listing, contribs, Seq(("graft", "abc", "o", "1")))
    val doc = Envelope.toJsonDoc(env).filter(col("dataset_id") === "d1").head().getAs[String]("doc")
    assert(doc.contains(""""contacts":[{"name":"Ada""""))
    assert(doc.contains(""""dag_provenance_list":[{"name":"graft""""))
  }
  test("golden envelope documents match byte-for-byte (F5 exact-doc compare)") {
    // Frozen canonical output: any change to field order, null handling,
    // promotion rules, or struct layout shows up as a diff here.
    val goldenD1 =
      """{"metadata":{"assay_type":"codex","data_path":"./raw"},"files":[{"rel_path":"my-metadata.tsv","type":"tsv","size":5,"description":"","edam_term":"","is_qa_qc":false,"is_data_product":false},{"rel_path":"raw/a.csv","type":"csv","size":10,"description":"sample table","edam_term":"EDAM:1","is_qa_qc":false,"is_data_product":true}],"contributors":[{"name":"Ada","affiliation":"Uni","orcid_id":"0000-1","is_contact":"TRUE","email":"ada@x.org"},{"name":"Bob","affiliation":"Lab","orcid_id":"0000-2","is_contact":"no","email":"bob@x.org"}],"contacts":[{"name":"Ada","email":"ada@x.org","affiliation":"Uni"}],"dag_provenance_list":[{"name":"graft","hash":"abc123","origin":"origin","version":"0.1"}]}"""
    val goldenD2 =
      """{"metadata":{"assay_type":"rnaseq"},"files":[],"contributors":[],"contacts":[],"dag_provenance_list":[{"name":"graft","hash":"abc123","origin":"origin","version":"0.1"}]}"""
    val (md, listing, contribs) = fixtures
    val env = Envelope.assemble(md, listing, contribs, Seq(("graft", "abc123", "origin", "0.1")))
    val docs = Envelope.toJsonDoc(env).orderBy("dataset_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(docs("d1") == goldenD1)
    assert(docs("d2") == goldenD2)
  }

  test("assemble is one aggregation: a single shuffle keyed on dataset_id, no joins") {
    val (md, listing, contribs) = fixtures
    val doc = Envelope.toJsonDoc(Envelope.assemble(md, listing, contribs, Seq(("graft", "abc", "o", "1"))))
    doc.collect() // finalize AQE so the executed plan is the real one
    val plan = doc.queryExecution.executedPlan
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"expected one shuffle:\n$plan")
    assert(shuffles.head.outputPartitioning.toString.contains("dataset_id"), s"shuffle not keyed on dataset_id:\n$plan")
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, s"expected no joins:\n$plan")
  }

  test("checkedJsonDoc returns the toJsonDoc document and the validate violations in one row") {
    val (md, listing, contribs) = fixtures
    for (prov <- Seq(Seq(("graft", "abc", "o", "1")), Seq.empty)) {
      val env = Envelope.assemble(md, listing, contribs, prov)
      val docs = Envelope.toJsonDoc(env).collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val violations = Envelope.validate(env).collect().toSeq.groupMap(_.getString(0))(_.getString(1))
      val checked = Envelope.checkedJsonDoc(env).collect()
      assert(checked.map(_.getString(0)).toSet == docs.keySet)
      checked.foreach { r =>
        assert(r.getString(1) == docs(r.getString(0)))
        assert(r.getSeq[String](2) == violations.getOrElse(r.getString(0), Seq.empty))
      }
    }
  }
}
