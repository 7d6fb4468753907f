package graft.parity

import graft.SparkSpec
import org.apache.spark.sql.functions
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** S6 sink: per-source flagged reports with reference presentation rules. */
class ReportSinkSpec extends SparkSpec {
  import spark.implicits._

  test("writes one gated report per source with first-row-only blanking") {
    val out = tempDir("graft_report")
    val ann = Annotate.annotated(Seq(
      (1L, "10, slow big text", "en", "fileA"),
      (2L, "11, clean text", "en", "fileA"),   // no tags
      (3L, "12, dup line", "en", "fileB"),
      (4L, "13, nothing here", "en", "fileC")  // no tags -> fileC absent
    ).toDF("doc_id", "text", "lang", "source"))

    val n = ReportSink.writeFlaggedReports(ann, out)
    n shouldBe 3L // doc 1 has 2 tags, doc 3 has 1

    def lines(src: String): Seq[String] =
      Files.list(Paths.get(s"$out/source=$src")).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".txt"))
        .flatMap(p => Files.readAllLines(p).asScala)

    // gating: only sources with >= 1 flagged doc get a report
    Files.exists(Paths.get(s"$out/source=fileC")) shouldBe false

    val a = lines("fileA")
    a.head should startWith("Record #")
    // doc 1: first tag row carries the record keys, second is blanked
    val doc1 = a.filter(_.contains("slow")) // tag rows for doc 1 mention tag literal
    a.exists(l => l.startsWith("10") && l.contains("slow")) shouldBe true
    a.exists(l => l.trim.startsWith("big") && !l.contains("10")) shouldBe true
    // doc 2 (no tags) never appears
    a.exists(_.contains("11")) shouldBe false

    val b = lines("fileB")
    b.head should startWith("Record #")
    b.exists(l => l.startsWith("12") && l.contains("dup")) shouldBe true
    doc1 should not be empty
  }

  test("PDF output: valid structure, correct page count, gated, text present") {
    val out = tempDir("graft_report_pdf")
    // 30 body rows in fileA -> 2 pages at 24/page; fileB stays tagless
    val docs = (1 to 28).map(i => (i.toLong, s"$i, slow entry $i", "en", "fileA")) :+
      (100L, "100, slow big pair", "en", "fileA") :+
      (200L, "200, clean text", "en", "fileB")
    val ann = Annotate.annotated(docs.toDF("doc_id", "text", "lang", "source"))

    val n = ReportSink.writeFlaggedPdfReports(ann, out)
    n shouldBe 30L // 28 single-tag + 2 tags for doc 100

    // published names are "<sanitized>-<8-hex md5 of raw source>.pdf"
    // (the hash keeps distinct sources distinct after lossy sanitizing)
    def published(src: String): Seq[java.nio.file.Path] =
      Files.list(Paths.get(out)).iterator().asScala
        .filter(_.getFileName.toString.matches(s"$src-[0-9a-f]{8}\\.pdf"))
        .toSeq
    // flagged-only gating
    published("fileB") shouldBe empty

    val fileA = published("fileA")
    fileA should have size 1
    val bytes = Files.readAllBytes(fileA.head)
    val pdf = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    // structural validity: header, trailer, and an xref whose startxref
    // offset points AT the xref table
    pdf should startWith("%PDF-1.4")
    pdf should endWith("%%EOF")
    val startxref = pdf.substring(pdf.lastIndexOf("startxref"))
      .split("\n")(1).trim.toInt
    pdf.substring(startxref, startxref + 4) shouldBe "xref"
    // every object offset in the xref table points at its "N 0 obj"
    val xrefLines = pdf.substring(startxref).split("\n")
      .drop(3) // "xref", "0 N", free entry
      .takeWhile(_.matches("\\d{10} 00000 n \\s?"))
    xrefLines.zipWithIndex.foreach { case (l, i) =>
      val off = l.take(10).toInt
      pdf.substring(off, off + s"${i + 1} 0 obj".length) shouldBe s"${i + 1} 0 obj"
    }
    // every /Length declares exactly the bytes between "stream\n" and
    // "\nendstream" — the EOL before endstream is outside the data
    val streamRe = "(?s)<< /Length (\\d+) >>\\nstream\\n(.*?)\\nendstream".r
    val streams = streamRe.findAllMatchIn(pdf).toSeq
    streams should not be empty
    streams.foreach(m => m.group(2).length shouldBe m.group(1).toInt)
    // 30 rows at 24/page -> 2 pages, header band drawn on each
    pdf should include("/Count 2")
    "0\\.29 0\\.29 0\\.54 rg".r.findAllIn(pdf).size shouldBe 2
    // title once; body text present in the (uncompressed) streams;
    // first-row-only blanking: doc 100's record number appears exactly
    // once even though it has two tag rows
    pdf should include("(De-bias Report: fileA)")
    pdf should include("(slow)")
    "\\(100\\)".r.findAllIn(pdf).size shouldBe 1
  }

  test("text and PDF report body rows equal the parity_a6_flagged_report rows, per source") {
    val ann = Annotate.annotated(graft.T(spark, sfDir, "documents"))
    val txt = tempDir("graft_report_a6_txt")
    val nTxt = ReportSink.writeFlaggedReports(ann, txt)
    val nPdf = ReportSink.writeFlaggedPdfReports(ann, tempDir("graft_report_a6_pdf"))
    val a6 = graft.Registry.byName("parity_a6_flagged_report").run(spark, sfDir)
    nTxt should be > 0L
    nTxt shouldBe a6.count()
    nPdf shouldBe nTxt

    // the text report's body lines (all but its header) per source
    val bodyLines = Files.list(Paths.get(txt)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("source="))
      .map { d =>
        d.getFileName.toString.stripPrefix("source=") ->
          (Files.list(d).iterator().asScala.toSeq
            .filter(_.toString.endsWith(".txt"))
            .map(p => Files.readAllLines(p).size.toLong).sum - 1L)
      }.toMap
    val a6PerSource = a6.join(graft.T(spark, sfDir, "documents").select("doc_id", "source"), "doc_id")
      .groupBy("source").count()
      .as[(String, Long)].collect().toMap
    bodyLines shouldBe a6PerSource
  }
}
