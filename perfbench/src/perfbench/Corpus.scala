package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded ingest corpus: dataset directories in the shapes of the
  * checked-in fixtures (`src/test/resources/fixture_*`), each carrying the
  * verdict `IngestSlice.run` must return for it.
  *
  * Requests come in blocks of [[BlockSize]]. Every block holds the same
  * mix — four generic datasets, one of each other shape, one retried run
  * id, and every assay type once among the datasets that are routed on it —
  * so runs that process whole blocks see the same work and exercise every
  * routing rule whatever the seed; the seed picks the order, the names, the
  * file contents, and which dataset gets which assay type and which
  * heavy-tailed raw-file count.
  */
object Corpus {

  sealed abstract class Shape(val name: String)
  object Shape {
    case object Generic extends Shape("generic")
    case object Multiassay extends Shape("multiassay")
    case object Devtest extends Shape("devtest")
    case object HeaderOnly extends Shape("header_only")
    case object MissingMetadata extends Shape("missing_metadata")
    case object TissuePrefix extends Shape("tissue_prefix")
  }
  import Shape._

  /** What `IngestSlice.run` must return for a dataset. */
  final case class Verdict(collectionType: String, workflow: String, valid: Boolean)

  /** One dataset directory; `files` maps each relative path to its bytes. */
  final case class Dataset(id: String, dir: Path, shape: Shape, verdict: Verdict,
                           files: Map[String, Array[Byte]])

  /** One ingest request. A retry re-sends the run id of an earlier
    * request, so the API must acknowledge it without running it. */
  final case class Request(runId: String, dataset: Dataset, retry: Boolean)

  val BlockSize = 10

  /** Raw files per dataset: the quartile midpoints of a Pareto(x_m = 4,
    * alpha = 0.5), from a handful to a few hundred. */
  val RawFileLadder: Seq[Int] = Seq(5, 10, 28, 256)
  private val blockShapes: Seq[Shape] =
    Seq(Generic, Generic, Generic, Generic, Multiassay, Devtest, HeaderOnly, MissingMetadata, TissuePrefix)

  /** Assay types and the workflow each routes to under `IngestSlice.workflowRules`. */
  val assayWorkflows: Seq[(String, String)] = Seq(
    "codex" -> "codex_cytokit", "RNAseq" -> "salmon_rnaseq",
    "scRNAseq-10xGenomics" -> "salmon_rnaseq", "ATACseq-bulk" -> "sc_atac_seq",
    "MIBI" -> "no_workflow")
  require(assayWorkflows.size == blockShapes.count(routed), "one assay type per routed dataset of a block")

  /** Whether a shape's workflow comes from its `metadata.tsv` assay type. */
  private def routed(shape: Shape): Boolean = shape == Generic || shape == TissuePrefix

  /** The planted verdict of a shape; `workflow` is the assay's route. */
  def verdict(shape: Shape, workflow: String): Verdict = shape match {
    case Generic => Verdict("generic_metadatatsv", workflow, valid = true)
    case TissuePrefix => Verdict("generic_metadatatsv", workflow, valid = false)
    // a header-only metadata.tsv has no assay row to route on, and no
    // row-level or envelope violation either
    case HeaderOnly => Verdict("generic_metadatatsv", "no_workflow", valid = true)
    case MissingMetadata => Verdict("unrecognized", "no_workflow", valid = false)
    // the larger of the two *-metadata.tsv files is the one the slice
    // reads; its assay ("10x Multiome") routes nowhere
    case Multiassay => Verdict("multiassay_metadatatsv", "no_workflow", valid = true)
    case Devtest => Verdict("devtest", "no_workflow", valid = false)
  }

  /** Checked-in fixtures and the verdict their shape plants. */
  val fixtures: Seq[(String, Verdict)] = Seq(
    "src/test/resources/fixture_generic" -> verdict(Generic, "codex_cytokit"),
    "src/test/resources/fixture_multiassay" -> verdict(Multiassay, "no_workflow"),
    "src/test/resources/fixture_devtest" -> verdict(Devtest, "no_workflow"))

  /** sha-256 over every (dataset/relative path, bytes) pair, in path order. */
  def digest(requests: Seq[Request]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = requests.map(_.dataset).distinctBy(_.id)
      .flatMap(d => d.files.map { case (p, b) => (s"${d.id}/$p", b) }).sortBy(_._1)
    files.foreach { case (p, b) => md.update(p.getBytes(UTF_8)); md.update(0: Byte); md.update(b) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Writes a dataset's tree under its directory. */
  def write(d: Dataset): Unit = d.files.foreach { case (rel, bytes) =>
    val p = d.dir.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  /** Generates blocks in order; block `b` depends only on the seed and on
    * the blocks before it. Even blocks retry a run id of the same block,
    * odd blocks one of the block before, so the dedup probe sees retries of
    * fresh and of stored run ids. */
  final class Generator(seed: Long, root: Path) {
    private val rnd = new SplittableRandom(seed)
    private var previous: Seq[Request] = Nil
    private var nextBlock = 0

    def block(): Seq[Request] = {
      val b = nextBlock
      nextBlock += 1
      val shapes = shuffle(blockShapes)
      // raw-file counts: the generic datasets take the heavy-tailed ladder,
      // the three other raw-file shapes its lower rungs, each jittered by
      // up to 10%; the seed only decides which dataset gets which rung, so
      // every block has the same amount of listing work
      val genericCounts = shuffle(RawFileLadder)
      val otherCounts = shuffle(RawFileLadder.take(3))
      val routes = shuffle(assayWorkflows)
      var g, o, a = 0
      val fresh = shapes.zipWithIndex.map { case (shape, i) =>
        val rung = shape match {
          case Generic => g += 1; genericCounts(g - 1)
          case HeaderOnly | MissingMetadata | TissuePrefix => o += 1; otherCounts(o - 1)
          case Multiassay | Devtest => 0
        }
        val files = math.max(1, math.round(rung * (0.9 + 0.2 * rnd.nextDouble())).toInt)
        val route = if (routed(shape)) { a += 1; routes(a - 1) } else ("", "no_workflow")
        val id = f"ds-$b%03d-$i%02d"
        Request(f"run-$id%s-${rnd.nextInt(1 << 20)}%05x", dataset(id, shape, files, route), retry = false)
      }
      val at = 1 + rnd.nextInt(BlockSize - 1)
      val pool = if (b % 2 == 1 && previous.nonEmpty) previous.filterNot(_.retry) else fresh.take(at)
      val retried = pool(rnd.nextInt(pool.size))
      val requests = (fresh.take(at) :+ retried.copy(retry = true)) ++ fresh.drop(at)
      previous = requests
      requests
    }

    private def shuffle[A](xs: Seq[A]): Seq[A] = {
      val a = xs.toArray[Any]
      for (i <- a.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq.asInstanceOf[Seq[A]]
    }

    private def word(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString

    private def contributors(): String = {
      val n = 1 + rnd.nextInt(3)
      val rows = (0 until n).map { i =>
        val name = word(1).toUpperCase + word(4)
        val contact = if (i == 0) "TRUE" else "FALSE"
        s"$name\t${word(6)} lab\t0000-000${rnd.nextInt(10)}-${1000 + rnd.nextInt(9000)}\t$contact\t${name.toLowerCase}@${word(5)}.org"
      }
      ("name\taffiliation\torcid_id\tis_contact\temail" +: rows).mkString("", "\n", "\n")
    }

    private def rawFiles(n: Int): Map[String, Array[Byte]] =
      (1 to n).map { i =>
        if (i % 2 == 1) f"raw/sample_$i%03d.fastq" -> s"@r$i\n${word(12).map(c => "ACGT"(c % 4))}\n+\n${"F" * 12}\n"
        else f"raw/sample_$i%03d.csv" -> s"a,b\n${rnd.nextInt(100)},${rnd.nextInt(100)}\n"
      }.map { case (p, s) => p -> s.getBytes(UTF_8) }.toMap

    private val genericHeader =
      "assay_type\tdata_path\tcontributors_path\tantibodies_path\ttissue_id\tdonor_id"

    /** `route` is the assay type and its workflow; only routed shapes use it. */
    private def dataset(id: String, shape: Shape, nRaw: Int, route: (String, String)): Dataset = {
      val (assay, workflow) = route
      val donor = f"HBM${rnd.nextInt(10000)}%04d"
      val tissue =
        if (shape == TissuePrefix) f"HBM${(donor.drop(3).toInt + 1) % 10000}%04d-LK-1"
        else s"$donor-${Seq("LK", "RK", "HT", "SP")(rnd.nextInt(4))}-${1 + rnd.nextInt(9)}"
      val metadataName = s"${Seq("my", "lab", "upload")(rnd.nextInt(3))}-metadata.tsv"
      val antibodies = "antibody_name\tchannel_id\trr_id\n" +
        (1 to 1 + rnd.nextInt(3)).map(i => s"CD${rnd.nextInt(100)}\tch$i\tAB_$i\n").mkString
      val text: Map[String, String] = shape match {
        case Generic | TissuePrefix => Map(
          metadataName -> s"$genericHeader\n$assay\t./raw\t./contributors.tsv\t./antibodies.tsv\t$tissue\t$donor\n",
          "contributors.tsv" -> contributors(), "antibodies.tsv" -> antibodies,
          "extras/thumbnail.jpg" -> s"fake-jpg-${word(8)}")
        case HeaderOnly => Map(metadataName -> s"$genericHeader\n",
          "contributors.tsv" -> contributors())
        case MissingMetadata => Map("contributors.tsv" -> contributors())
        case Multiassay => Map(
          // both metadata files keep the fixture's bytes: the slice reads
          // the larger one, so their sizes must not vary with the seed
          "10x_multiome-metadata.tsv" ->
            "assay_type\tdata_path\tcontributors_path\tlab_id\n10x Multiome\t./dataset1\t./contributors.tsv\tL1\n",
          "rna-metadata.tsv" ->
            "assay_type\tdata_path\tcontributors_path\tlab_id\nRNAseq\t./dataset2\t./contributors.tsv\t\n",
          "contributors.tsv" -> contributors(),
          "global/panel.json" -> s"""{"panel": "${word(6)}"}""",
          "non_global/notes.txt" -> word(16),
          "dataset1/reads.fastq" -> s"@r1\n${word(8).map(c => "ACGT"(c % 4))}\n+\nFFFFFFFF\n",
          "dataset2/counts.csv" -> s"a,b\n${rnd.nextInt(100)},${rnd.nextInt(100)}\n")
        case Devtest => Map(
          "test.yml" -> s"# devtest control file\ncollectiontype: devtest\ndelay_sec: ${rnd.nextInt(60)}\nfiles_to_copy:\n  - file_068.bov\n",
          "file_068.bov" -> s"bov${word(4)}",
          "tform.txt" -> s"(rotation 0.5 1.5 2)\n(translation ${rnd.nextInt(50)} 20 30)\nnoise\n")
      }
      val raw = shape match {
        case Generic | TissuePrefix | HeaderOnly | MissingMetadata => rawFiles(nRaw)
        case _ => Map.empty[String, Array[Byte]]
      }
      Dataset(id, root.resolve(id), shape, verdict(shape, workflow),
        text.map { case (p, s) => p -> s.getBytes(UTF_8) } ++ raw)
    }
  }
}
