package graft.parity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S6: the flagged-entry report sink (reference call-debias.py:54-136
  * renders a landscape-A4 PDF table per input file, only when the file
  * has >= 1 flagged entry). [[writeFlaggedPdfReports]] renders that PDF
  * with the dependency-free [[PdfWriter]]; [[writeFlaggedReports]]
  * renders the same table as fixed-width text for line-oriented
  * consumers. Both render [[Parity.flaggedTags]] — the A6 rows — with
  * the same columns (Record #, Literal, tag detail), the same
  * first-row-only blanking of the group keys (call-debias.py:106-108)
  * and the same one-file-per-source gating.
  *
  * Scale: each report is assembled in one task, keyed by source;
  * rendering is a per-row projection; no report data returns to the
  * driver.
  */
object ReportSink {

  private def pad(c: org.apache.spark.sql.Column, w: Int) =
    rpad(coalesce(c.cast("string"), lit("")), w, " ")

  /** Render flagged docs (the A6 shape) as per-source text reports under
    * `outDir/source=<source>/`. Returns the line count written. */
  def writeFlaggedReports(annotated: DataFrame, outDir: String): Long = {
    val rows = Parity.flaggedTags(annotated)
    // first-row-only blanking: tag rows after the first show blank keys
    val first = col("tag_pos") === 0
    val line = concat(
      pad(when(first, col("record_num")).otherwise(lit("")), 10),
      pad(when(first, col("literal_text")).otherwise(lit("")), 48),
      pad(col("tag_literal"), 16),
      pad(col("tag_issue"), 16),
      col("tag_source"))
    val header = "Record #  " + "Literal".padTo(48, ' ') +
      "Tag".padTo(16, ' ') + "Issue".padTo(16, ' ') + "Source"
    // body feeds three jobs (headers' distinct, the count, the union
    // write) — persist so the explode subtree runs once, not three times
    val body = rows.select(col("source"), col("doc_id"), col("tag_pos"),
      lit(1).as("ord"), line.as("line")).persist()
    try {
      val headers = body.select(col("source")).distinct()
        .select(col("source"), lit(-1L).as("doc_id"), lit(-1).as("tag_pos"),
          lit(0).as("ord"), lit(header).as("line"))
      val n = body.count()
      headers.unionByName(body)
        .repartition(col("source"))
        .sortWithinPartitions("source", "ord", "doc_id", "tag_pos")
        .select(col("source"), col("line"))
        .write.mode("overwrite").partitionBy("source").text(outDir)
      n
    } finally body.unpersist()
  }

  /** Body rows per rendered page — the analog of the reference's
    * landscape-A4 page capacity; each page re-emits the table header
    * (reportlab's `repeatRows=1`, call-debias.py:111). */
  val rowsPerPage = 24

  /** TRUE-binary PDF reports: one genuine `<source>.pdf` per flagged
    * source under `outDir`, with the reference layout (title, repeated
    * per-page header with the #4a4a8a band, zebra stripes, first-row-
    * only blanking, flagged-only gating) rendered by the dependency-
    * free [[PdfWriter]]. Distributed like the reference's unit of
    * work: one SOURCE = one PDF assembled inside one executor task
    * (groupByKey over source — a per-file report fits task memory by
    * the same argument the reference uses loading whole files),
    * written executor-side to `outDir` (a shared filesystem on a real
    * cluster; local tmp here).
    * Returns the body row count summed from the mapGroups OUTPUT (an
    * accumulator bumped inside the action would double-count under
    * task retry/speculation even though the file writes themselves are
    * idempotent) — no driver collect of report bytes. */
  def writeFlaggedPdfReports(annotated: DataFrame, outDir: String): Long = {
    val spark = annotated.sparkSession
    import spark.implicits._
    new java.io.File(outDir).mkdirs()
    val header = Seq("Record #", "Literal", "Tag", "Issue", "Source")
    val cells = Parity.flaggedTags(annotated).select(
      col("source"), col("doc_id"), col("tag_pos"),
      coalesce(col("record_num").cast("string"), lit("")).as("rec"),
      coalesce(col("literal_text"), lit("")).as("litx"),
      coalesce(col("tag_literal"), lit("")).as("tg"),
      coalesce(col("tag_issue"), lit("")).as("iss"),
      coalesce(col("tag_source"), lit("")).as("tsrc"))
      .as[(String, Long, Int, String, String, String, String, String)]
    cells.groupByKey(_._1).mapGroups { (src, it) =>
      val sorted = it.toSeq.sortBy(t => (t._2, t._3))
      val body = sorted.map { t =>
        val first = t._3 == 0
        Seq(if (first) t._4 else "", if (first) t._5 else "", t._6, t._7, t._8)
      }
      (src, PdfWriter.document(s"De-bias Report: $src", header, body,
        rowsPerPage), body.size)
    }.map { case (src, bytes, n) =>
      // sanitized name (a source containing '/' must not escape
      // outDir) PLUS an md5-derived suffix of the RAW source name:
      // sanitization alone is lossy ('a/b' and 'a_b' both sanitize to
      // 'a_b'), and two distinct sources mapping to one path would
      // silently last-writer-wins-merge their reports. Then
      // write-then-atomic-rename: Files.write truncates in place, so a
      // concurrent speculative/zombie attempt could expose interleaved
      // bytes to a reader; the rename makes publication all-or-nothing
      // and last-writer-wins PER SOURCE. The temp file is deleted on
      // any failure between create and move, so failed attempts cannot
      // leak '.<name>*.tmp' files into outDir.
      val safe = src.replaceAll("[^A-Za-z0-9._-]", "_") +
        "-" + graft.T.scratchKey(src).take(8)
      val target = java.nio.file.Paths.get(outDir, s"$safe.pdf")
      val tmp = java.nio.file.Files.createTempFile(
        java.nio.file.Paths.get(outDir), s".$safe", ".tmp")
      try {
        java.nio.file.Files.write(tmp, bytes)
        try java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
          java.nio.file.Files.move(tmp, target,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      } finally java.nio.file.Files.deleteIfExists(tmp)
      n.toLong
    }.agg(coalesce(sum(col("value")), lit(0L))).as[Long].head()
  }
}
