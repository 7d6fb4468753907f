package graft

import org.apache.spark.sql.functions._

/** Every registry query must RUN — and hold its declared text
  * contracts — on a corpus whose documents carry real-world Unicode:
  * multibyte letters (ß/İ/Σ, combining marks), emoji + ZWJ sequences,
  * non-ASCII whitespace (NBSP, U+3000 ideographic space, zero-width
  * space), control characters, embedded line breaks, and one ~100 KB
  * document. A 100 TB multilingual corpus contains all of these; the
  * driver fixtures are pure ASCII, so the path was unexercised until
  * round 11's unicode gate (full Verify + DuckDB oracle over an
  * injected sf0.001 re-encoding) found 4 value divergences in three
  * classes, each now a declared contract:
  *
  *  - STRIP: the reference's Python `.strip()` removes Unicode
  *    White_Space, but Spark's `trim` strips only ASCII 0x20 and
  *    DuckDB's `trim` strips only category Zs (measured: neither
  *    touches \t; only DuckDB eats NBSP/U+3000) — so the parity
  *    record-split queries diverged in both directions. Contract:
  *    [[T.ustrip]] — one explicit `\x{h..h}` character class of the
  *    Unicode White_Space set, parsed identically by Java regex and
  *    RE2 ([[T.sqlUstrip]]);
  *  - LINE EXPORT: a one-record-per-line text corpus cannot carry
  *    embedded \r\n / \r / \n (Hadoop's LineReader splits on each),
  *    so the corpus WRITER normalizes every break to one space
  *    ([[T.normLines]]) — without it the round-trip scan counted +12
  *    phantom lines per language on the fixture;
  *  - BYTE WINDOWS: frame sampling windows payload BYTES, and
  *    md5(substring(text)) only matched md5(byte-slice) while every
  *    payload was pure ASCII. Contract: fingerprint = md5 of the hex
  *    encoding of the byte window — hex is engine-identical
  *    (uppercase) and a hex slice at 2× the byte offsets IS the byte
  *    slice, so the fingerprint stays byte-true AND oracle-pairable
  *    (DuckDB can neither slice nor md5 a BLOB directly).
  *
  * The cross-engine halves are proven at gate level (the unicode
  * Verify+check run, recorded in PLANS.md); this spec replays the
  * engine side: the injected fixture, every query end-to-end, plus
  * unit pins for the three contracts.
  */
class UnicodeTextSpec extends SparkSpec with AxisMatrix {

  import spark.implicits._

  private lazy val uniDir: String = fixture("graft_unicode") {
    case ("documents", base) =>
      val r = col("doc_id") % 31
      base.withColumn("text",
        when(col("text").isNull, col("text"))
          .when(r === 1, concat(lit("İstanbul straße "), col("text"), lit(" ΣΟΦΟΣ DESS")))
          .when(r === 5, concat(lit("\u3000  "), regexp_replace(col("text"), ",", ",\u3000"), lit("  \u3000")))
          .when(r === 9, concat(lit("👩‍🚀 "), col("text"), lit(" 🚀👨‍👩‍👧")))
          .when(r === 13, concat(lit("café "), col("text"), lit(" élève")))
          .when(r === 17, concat(lit("tab\there "), col("text"), lit(" zero\u200Bwidth")))
          .when(r === 21, concat(col("text"), lit(" with\nembedded\nnewlines\r\nand cr")))
          .when(r === 25, lit("\u3000 \u200B"))
          .otherwise(col("text")))
    case (_, base) => base
  }

  test("all registry queries execute on the unicode-injected corpus") {
    val failures = survives(uniDir)
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }

  test("ustrip strips exactly the Unicode White_Space set") {
    val cases = Seq(
      "\t x \t" -> "x",                    // controls (Spark trim misses)
      "\u00A0x\u3000" -> "x",             // Zs: NBSP/ideographic (Spark trim misses)
      "\u2028x\u0085" -> "x",             // line sep + NEL (DuckDB trim misses)
      "\u200Bx" -> "\u200Bx",             // zero-width space is NOT whitespace
      "\uFEFFx" -> "\uFEFFx",             // BOM is NOT whitespace
      " \u3000 " -> "")
    val out = cases.map(_._1).toDF("s")
      .select(T.ustrip(col("s"))).as[String].collect()
    out.toSeq shouldBe cases.map(_._2)
  }

  test("corpus line export survives embedded line breaks") {
    // engine line counts == per-language non-blank doc counts computed
    // directly from the table: embedded \n/\r must not multiply lines
    val expected = T(spark, uniDir, "documents")
      .filter(col("lang").isin(graft.parity.Lexicon.referenceLanguages: _*))
      .filter(org.apache.spark.sql.functions.length(T.ustrip(col("text"))) > 0)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Registry.byName("parity_s1s3_text_corpus_scan").run(spark, uniDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe expected
  }

  test("frame fingerprints are byte-true on multibyte text") {
    val doc = T(spark, uniDir, "documents")
      .filter(col("text").isNotNull && col("text").rlike("[^ -~]"))
      .select("doc_id", "text").head()
    val bytes = doc.getString(1).getBytes("UTF-8")
    val frames = Registry.byName("mm_frame_sample").run(spark, uniDir)
      .filter(col("media_id") === doc.getLong(0))
      .orderBy("frame_idx").collect()
    frames.length shouldBe (bytes.length + 31) / 32
    // independent re-derivation: md5 over the UPPERCASE hex of the
    // first 32-byte window
    val hx = bytes.take(32).map("%02X".format(_)).mkString
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(hx.getBytes("US-ASCII")).map("%02x".format(_)).mkString
    frames.head.getString(frames.head.fieldIndex("frame_md5")) shouldBe md
  }
}
