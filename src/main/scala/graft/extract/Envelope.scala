package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset metadata envelope assembly (SURVEY.md §1.1;
  * dataset_metadata_schema.yml:11-21, assembled at utils.py:1586-1721):
  * one nested document per dataset — string-map metadata, file records,
  * provenance list, contacts promoted from contributors
  * (utils.py:1541-1549,1658-1662 truthy is_contact set).
  *
  * The three inputs are tagged into one union and folded by a single
  * collect_list aggregation keyed on dataset_id, so envelope assembly for
  * N datasets is one shuffle, not N driver round trips.
  */
object Envelope {

  /** The reference's truthy set for is_contact. */
  val TruthySet: Seq[String] = Seq("TRUE", "T", "1", "Y", "YES")

  def isTruthy(c: Column): Column = upper(trim(c)).isin(TruthySet: _*)

  /** Assemble one envelope row per dataset:
    * {dataset_id, metadata: map<string,string>, files: array<struct>,
    *  contributors: array<struct>, contacts: array<struct>,
    *  dag_provenance_list: array<struct>}.
    *
    * `metadata` rows are (dataset_id, key, value) — schema-on-read
    * strings per §1.2. `listing` is the annotated file catalog with a
    * dataset_id column.
    */
  def assemble(metadata: DataFrame, listing: DataFrame,
               contributors: DataFrame,
               provenance: Seq[(String, String, String, String)]): DataFrame = {
    val provLit = array(provenance.map { case (n, h, o, v) =>
      struct(lit(n).as("name"), lit(h).as("hash"), lit(o).as("origin"), lit(v).as("version"))
    }: _*)
    // one row per input row, with only its own side's column set: the
    // aggregation below collects each side's non-null column
    val tagged = metadata.select(col("dataset_id"), struct(col("key"), col("value")).as("entry"))
      .unionByName(listing.select(col("dataset_id"), struct(
        col("rel_path"), col("type"), col("size"),
        col("description"), col("edam_term"),
        col("is_qa_qc"), col("is_data_product")).as("file")), allowMissingColumns = true)
      .unionByName(contributors.select(col("dataset_id"), struct(
        col("name"), col("affiliation"), col("orcid_id"),
        col("is_contact"), col("email")).as("contributor")), allowMissingColumns = true)
    val c = col("contributor")
    tagged.groupBy("dataset_id")
      .agg(
        map_from_entries(collect_list(col("entry"))).as("metadata"),
        sort_array(collect_list(col("file"))).as("files"),
        sort_array(collect_list(c)).as("contributors"),
        sort_array(collect_list(when(isTruthy(c.getField("is_contact")), struct(
          c.getField("name").as("name"), c.getField("email").as("email"),
          c.getField("affiliation").as("affiliation"))))).as("contacts"))
      // a dataset is enveloped when it has metadata or files; contributors
      // alone do not make one. A side with no rows leaves an EMPTY
      // array/map, not null — the envelope schema is total
      .filter(size(col("metadata")) > 0 || size(col("files")) > 0)
      .withColumn("dag_provenance_list", provLit)
  }

  /** Envelope → canonical JSON document column (K3). */
  def toJsonDoc(envelope: DataFrame): DataFrame =
    envelope.select(col("dataset_id"), jsonDoc(envelope).as("doc"))

  /** V1-style envelope checks: required members present and well-formed;
    * returns violations (empty = valid).
    */
  def validate(envelope: DataFrame): DataFrame =
    envelope.select(col("dataset_id"), explode(violationArray).as("violation"))

  /** [[toJsonDoc]] and [[validate]] in one pass: (dataset_id, doc,
    * violations array), so one action yields both.
    */
  def checkedJsonDoc(envelope: DataFrame): DataFrame =
    envelope.select(col("dataset_id"), jsonDoc(envelope).as("doc"), violationArray.as("violations"))

  private def jsonDoc(envelope: DataFrame): Column =
    to_json(struct(envelope.columns.filter(_ != "dataset_id").toIndexedSeq.map(col): _*))

  private def violationArray: Column =
    array_compact(array(
      when(col("dag_provenance_list").isNull || size(col("dag_provenance_list")) === 0,
        lit("missing dag_provenance_list")),
      when(col("files").isNull, lit("missing files")),
      when(col("metadata").isNull, lit("missing metadata"))))
}
