package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator shared by every workload. The same seed
  * gives byte-identical files. Every document id is below 100,000,
  * the range the engine's planted-copy conventions reserve for base
  * documents (copies live at +100000/+200000). Text is lowercase
  * words separated by single spaces (pages by newlines), so the stub
  * extractor's whitespace split and the engine's word split agree. */
object Inputs {

  val Labels: Vector[String] = Vector("statement", "paystub", "w2", "other")
  val Channels: Vector[String] = Vector("EML", "FAX", "WIN", "SCN")

  private val LabelWords: Map[String, Vector[String]] = Map(
    "statement" -> Vector("account", "balance", "deposit", "withdrawal",
      "statement", "interest", "transfer", "checking", "savings", "branch",
      "overdraft", "credit", "debit", "opening", "closing", "routing"),
    "paystub" -> Vector("earnings", "gross", "net", "pay", "employee",
      "hours", "rate", "overtime", "deductions", "withholding", "ytd",
      "salary", "payroll", "bonus", "commission", "stub"),
    "w2" -> Vector("wages", "tips", "compensation", "social", "security",
      "medicare", "employer", "identification", "federal", "income",
      "withheld", "box", "control", "dependent", "allocated", "nonqualified"),
    "other" -> Vector("invoice", "receipt", "letter", "notice", "policy",
      "claim", "memo", "agenda", "contract", "appointment", "reference",
      "subject", "regards", "shipment", "order", "warranty"))

  private val Stopwords: Vector[String] =
    Vector("the", "a", "of", "and", "to", "in", "is", "for")

  private val Syllables: Vector[String] = Vector("ka", "lo", "mi", "ne",
    "ru", "ta", "vo", "shi", "pe", "da", "gu", "fe", "zo", "bi", "ha",
    "ju", "xe", "wa", "yo", "qi", "sa", "te", "no", "ri")

  /** A filler word from a vocabulary of ~14k, so two generated
    * documents share almost no word 3-shingles unless planted. */
  private def filler(r: Random): String =
    (0 until 2 + r.nextInt(2)).map(_ => Syllables(r.nextInt(Syllables.length))).mkString

  private def pick[T](r: Random, xs: Vector[T]): T = xs(r.nextInt(xs.length))

  private def weighted(r: Random, xs: Vector[(String, Double)]): String = {
    var u = r.nextDouble() * xs.map(_._2).sum
    xs.find { case (_, w) => u -= w; u < 0 }.getOrElse(xs.last)._1
  }

  private def words(r: Random, n: Int, topic: Vector[String],
                    stop: Vector[String]): String =
    Vector.fill(n) {
      val u = r.nextDouble()
      if (u < 0.35) pick(r, topic) else if (u < 0.6) pick(r, stop) else filler(r)
    }.mkString(" ")

  // ---- doc_pipeline: one headerless csv per document, one line per page

  final case class PageDoc(id: Long, label: String, channel: String,
                           pages: Vector[String]) {
    /** The file name carries the label and the document id. */
    def fileName: String = f"${label}_$id%06d.csv"
    /** The flattened document, as the consolidate stage joins it. */
    def text: String = pages.mkString("\n")
  }

  def pageDocs(seed: Long, n: Int): Vector[PageDoc] = {
    require(n < 100000, "document ids must stay below 100000")
    val r = new Random(seed)
    Vector.tabulate(n) { i =>
      val label = weighted(r, Vector("statement" -> 0.4, "paystub" -> 0.2,
        "w2" -> 0.2, "other" -> 0.2))
      val channel = pick(r, Channels)
      val pages = Vector.fill(1 + r.nextInt(6))(
        words(r, 25 + r.nextInt(40), LabelWords(label), Stopwords))
      PageDoc(i.toLong, label, channel, pages)
    }
  }

  /** `root/<channel>/<label>_<id>.csv`, one page per line. */
  def writePageFiles(docs: Seq[PageDoc], root: Path): Unit = {
    Channels.foreach(c => Files.createDirectories(root.resolve(c)))
    docs.foreach { d =>
      Files.write(root.resolve(d.channel).resolve(d.fileName),
        (d.pages.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    }
  }

  /** The doc id and label that [[PageDoc.fileName]] encodes. */
  val FileNamePattern = "^([a-z0-9]+)_(\\d+)\\.csv$"

  // ---- ingest_gate: watched-folder files of B documents each

  final case class GateFile(index: Int, docs: Vector[(Long, String)],
                            exactOfEarlier: Set[Long], dupInBatch: Set[Long]) {
    /** The file name carries the file index and its first document id. */
    def fileName: String = f"gate_$index%04d_${docs.head._1}%06d.parquet"
  }

  /** `files` files of `perFile` documents. From the second file on,
    * each file holds two exact copies and one near copy (first word
    * dropped) of fresh documents from earlier files, and one exact
    * copy of a fresh document earlier in the same file. */
  def gateFiles(seed: Long, files: Int, perFile: Int): Vector[GateFile] = {
    require(files * perFile < 100000, "document ids must stay below 100000")
    require(perFile >= 6, "a gate file needs room for its planted copies")
    val r = new Random(seed)
    val fresh = scala.collection.mutable.ArrayBuffer.empty[String]
    Vector.tabulate(files) { f =>
      val base = f.toLong * perFile
      val texts = Array.fill(perFile)(
        words(r, 40 + r.nextInt(60), LabelWords(pick(r, Labels)), Stopwords))
      var exact = Set.empty[Long]
      var inBatch = Set.empty[Long]
      if (f > 0) {
        Seq(1, 2).foreach { j =>
          texts(j) = fresh(r.nextInt(fresh.length))
          exact += base + j
        }
        texts(3) = fresh(r.nextInt(fresh.length)).split(" ").drop(1).mkString(" ")
        texts(5) = texts(4)
        inBatch += base + 5
      }
      val planted = if (f > 0) Set(1, 2, 3, 5) else Set.empty[Int]
      texts.indices.filterNot(planted).foreach(j => fresh += texts(j))
      GateFile(f, Vector.tabulate(perFile)(j => (base + j, texts(j))), exact, inBatch)
    }
  }

  val GateSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** One parquet file per gate file, named by [[GateFile.fileName]],
    * with modification times in file order (the file source takes the
    * oldest file first). */
  def writeGateFiles(spark: SparkSession, files: Seq[GateFile], dir: Path): Seq[Path] = {
    val paths = files.map(f => dir.resolve(f.fileName))
    writeParquetFiles(spark, files.map(_.docs.map { case (id, t) => Row(id, t) }),
      GateSchema, paths)
    val t0 = System.currentTimeMillis() - 1000L * paths.length
    paths.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t0 + 1000L * i))
    }
    paths
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Write `parts(i)` as the single parquet file `targets(i)`, in one
    * Spark job (one partition per file), then move each part file to
    * its target name. */
  private def writeParquetFiles(spark: SparkSession, parts: Seq[Seq[Row]],
                                schema: StructType, targets: Seq[Path]): Unit = {
    val tmp = targets.head.getParent.resolve(s".tmp-${targets.head.getFileName}")
    val rdd = spark.sparkContext.parallelize(parts, parts.length).flatMap(identity)
    spark.createDataFrame(rdd, schema).write.parquet(tmp.toString)
    val written = Files.list(tmp).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)
    require(written.length == targets.length,
      s"expected ${targets.length} part files, found ${written.length}")
    written.zip(targets).foreach { case (from, to) =>
      Files.createDirectories(to.getParent)
      Files.move(from, to, StandardCopyOption.REPLACE_EXISTING)
    }
    deleteTree(tmp)
  }
}
