package graft.parity

/** Minimal dependency-free PDF 1.4 writer — enough of the spec to emit
  * the reference's landscape-A4 flagged-entry report
  * (call-debias.py:64-131) as GENUINE .pdf bytes: uncompressed content
  * streams (so tests and humans can grep the text), a hand-built xref
  * with exact byte offsets, Helvetica/Helvetica-Bold standard-14 fonts
  * (no embedding required by the spec), one page object per
  * [[ReportSink.rowsPerPage]] rows with the table header re-drawn on
  * every page, the header's #4a4a8a fill, zebra body stripes, and the
  * first-page title.
  *
  * Scope is deliberately tiny: ASCII text placement only (the corpus is
  * ASCII; anything else blanks), no compression, no encryption, no
  * incremental update — a valid-by-construction subset any conforming
  * reader parses: a user expecting `X.pdf` gets PDF bytes, as from
  * the reference.
  */
object PdfWriter {

  private val pageW = 842 // landscape A4 points
  private val pageH = 595

  /** PDF string-literal escape; non-ASCII blanks (corpus is ASCII). */
  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '('  => "\\("
    case ')'  => "\\)"
    case c if c >= 32 && c < 127 => c.toString
    case _ => " "
  }

  /** One page's content stream: optional title (first page), the
    * header-band rect + white header text, zebra stripes, body cells at
    * fixed column x-positions. */
  private def pageContent(title: Option[String], header: Seq[String],
      rows: Seq[Seq[String]], colX: Seq[Int], globalRowOffset: Int): String = {
    val sb = new StringBuilder
    var y = pageH - 50
    title.foreach { t =>
      sb.append(s"BT /F2 16 Tf 1 0 0 1 40 $y Tm (${esc(t)}) Tj ET\n")
      y -= 30
    }
    // header band: the reportlab TableStyle BACKGROUND #4a4a8a
    sb.append(s"0.29 0.29 0.54 rg 36 ${y - 4} ${pageW - 72} 16 re f\n")
    sb.append("1 1 1 rg\n")
    header.zip(colX).foreach { case (h, x) =>
      sb.append(s"BT /F2 10 Tf 1 0 0 1 $x $y Tm (${esc(h)}) Tj ET\n")
    }
    sb.append("0 0 0 rg\n")
    y -= 18
    rows.zipWithIndex.foreach { case (cells, i) =>
      // zebra parity follows the GLOBAL row number across pages
      if ((globalRowOffset + i) % 2 == 1) {
        sb.append(s"0.94 0.94 0.97 rg 36 ${y - 4} ${pageW - 72} 14 re f\n0 0 0 rg\n")
      }
      cells.zip(colX).foreach { case (c, x) =>
        val t = if (c.length > 64) c.take(61) + "..." else c
        sb.append(s"BT /F1 9 Tf 1 0 0 1 $x $y Tm (${esc(t)}) Tj ET\n")
      }
      y -= 14
    }
    sb.toString
  }

  /** Assemble a complete document. `rows` are body rows (one cell seq
    * per row, blanking already applied by the caller); pagination at
    * `rowsPerPage` with the header re-drawn per page. */
  def document(title: String, header: Seq[String], rows: Seq[Seq[String]],
      rowsPerPage: Int,
      colX: Seq[Int] = Seq(40, 110, 480, 600, 720)): Array[Byte] = {
    val pages =
      if (rows.isEmpty) Seq(Seq.empty[Seq[String]])
      else rows.grouped(rowsPerPage).toSeq
    val nPages = pages.length
    // object ids: 1 catalog, 2 pages, 3/4 fonts, then (page, content) pairs
    val objs = scala.collection.mutable.LinkedHashMap[Int, String]()
    val pageIds = (0 until nPages).map(i => 5 + 2 * i)
    objs(1) = "<< /Type /Catalog /Pages 2 0 R >>"
    objs(2) = s"<< /Type /Pages /Kids [${pageIds.map(id => s"$id 0 R").mkString(" ")}] /Count $nPages >>"
    objs(3) = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    objs(4) = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica-Bold >>"
    pages.zipWithIndex.foreach { case (p, i) =>
      val content = pageContent(if (i == 0) Some(title) else None,
        header, p, colX, i * rowsPerPage)
      val pageId = 5 + 2 * i
      objs(pageId) =
        s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 $pageW $pageH] " +
          s"/Resources << /Font << /F1 3 0 R /F2 4 0 R >> >> /Contents ${pageId + 1} 0 R >>"
      // per spec the EOL before `endstream` is NOT part of the stream
      // data: /Length counts the content bytes only, and the trailing
      // newline sits between the data and the endstream keyword
      val data = content.stripSuffix("\n")
      objs(pageId + 1) =
        s"<< /Length ${data.length} >>\nstream\n${data}\nendstream"
    }
    // serialize with exact byte offsets (content is pure ASCII, so
    // char count == byte count)
    val out = new StringBuilder("%PDF-1.4\n")
    val offsets = scala.collection.mutable.LinkedHashMap[Int, Int]()
    objs.toSeq.sortBy(_._1).foreach { case (id, body) =>
      offsets(id) = out.length
      out.append(s"$id 0 obj\n$body\nendobj\n")
    }
    val xrefPos = out.length
    val maxId = objs.keys.max
    out.append(s"xref\n0 ${maxId + 1}\n0000000000 65535 f \n")
    (1 to maxId).foreach(id => out.append(f"${offsets(id)}%010d 00000 n \n"))
    out.append(s"trailer\n<< /Size ${maxId + 1} /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF")
    out.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }
}
