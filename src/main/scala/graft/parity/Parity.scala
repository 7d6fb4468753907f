package graft.parity

import graft.{GraftQuery, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity pipeline (SURVEY.md §2.1-§2.5, §2.9): the ingest →
  * annotate → flatten → dashboard surface of
  * SirHooke/debias-batch-processor, over the `documents` testdata table as
  * the corpus.
  *
  * The load-bearing shape is F1 `flatten_results`
  * (reference analytics/parser.py:28-46): for every annotated record emit
  * ONE record row (issue_literal = NULL, tag_count = len(tags)) PLUS one
  * row per tag (issue_literal = tag.literal, same count). This is NOT a
  * plain explode_outer — the record row is always emitted (SURVEY.md
  * §7.4.1). Implemented as recordRows ∪ explode(tags), a unionByName of two
  * narrow scans of the same cached-able annotated view; both branches stay
  * in whole-stage codegen and the union needs no shuffle.
  *
  * Scale posture: annotation is a pure projection (no shuffle); flatten is
  * a generator + union (no shuffle); every dashboard aggregation is a
  * partial+final hash aggregate over low-cardinality keys. At 100 TB the
  * only data movement is the final per-key shuffle of already-combined
  * partial aggregates.
  */
object Parity {

  // ---------------------------------------------------------------------
  // Spark side
  // ---------------------------------------------------------------------

  private def docs(s: SparkSession, dir: String): DataFrame = T(s, dir, "documents")

  private def annotated(s: SparkSession, dir: String): DataFrame =
    Annotate.annotated(docs(s, dir))

  /** F1 flatten: record row ∪ tag rows. tag_count uses
    * coalesce(size(tags), 0) — Spark's size(NULL) is NULL (or -1 under the
    * legacy conf) while the reference's len(result.get("tags", [])) is 0
    * (SURVEY.md §7.4.2). */
  def flatten(ann: DataFrame): DataFrame = {
    val base = ann.select(
      col("doc_id"), col("lang"), col("source"),
      col("text").as("record_literal"),
      coalesce(size(col("tags")), lit(0)).cast("long").as("tag_count"),
      col("tags"))
    val recordRows = base.select(
      col("doc_id"), col("lang"), col("source"), col("record_literal"),
      lit(null).cast(StringType).as("issue_literal"), col("tag_count"))
    val tagRows = base
      .select(col("doc_id"), col("lang"), col("source"), col("record_literal"),
        explode(col("tags")).as("tag"), col("tag_count"))
      .select(col("doc_id"), col("lang"), col("source"), col("record_literal"),
        col("tag.literal").as("issue_literal"), col("tag_count"))
    recordRows.unionByName(tagRows)
  }

  private def flat(s: SparkSession, dir: String): DataFrame = flatten(annotated(s, dir))

  /** P3: split on the FIRST comma only; no comma ⇒ remainder ""
    * (reference call-debias.py:93-96, SURVEY.md §7.4.3). The strip is
    * [[graft.T.ustrip]] — the reference's Python `.strip()` removes
    * Unicode White_Space, which Spark's `trim` (ASCII space only) and
    * DuckDB's `trim` (Zs only) each under- or over-shoot on real
    * multilingual text (measured, round-11 unicode gate). */
  def recordNum(c: Column): Column = graft.T.ustrip(substring_index(c, ",", 1))
  def literalText(c: Column, name: String): Column =
    when(instr(c, ",") > 0, graft.T.ustrip(expr(s"substring($name, instr($name, ',') + 1)")))
      .otherwise("")

  /** A6's rows: flagged documents only (P2), the first-comma split (P3)
    * and one row per tag with its position (F3 posexplode; position 0
    * carries the record keys the reports blank on later rows). The
    * `a6` query and both [[ReportSink]] renderers read this one
    * definition; the renderers key their per-file reports on `source`,
    * and a source with no flagged document yields no row, which is the
    * reference's skip of an all-clean file (call-debias.py:58-62). */
  private[parity] def flaggedTags(annotated: DataFrame): DataFrame =
    annotated.filter(size(col("tags")) > 0)
      .select(col("source"), col("doc_id"),
        recordNum(col("text")).as("record_num"),
        literalText(col("text"), "text").as("literal_text"),
        posexplode(col("tags")))
      .select(col("source"), col("doc_id"), col("record_num"), col("literal_text"),
        col("pos").as("tag_pos"),
        col("col.literal").as("tag_literal"),
        col("col.issue").as("tag_issue"),
        col("col.source").as("tag_source"))

  // ---------------------------------------------------------------------
  // Oracle side (DuckDB): shared flatten CTE
  // ---------------------------------------------------------------------

  private val lexValues: String =
    Lexicon.terms.zipWithIndex
      .map { case ((t, i), ord) => s"('$t', '$i', $ord)" }
      .mkString(", ")

  /** WITH-clause body reproducing annotated + flatten in ANSI-ish SQL.
    * Exposes `doc_tags` (one row per (doc, matched lexicon term), with the
    * term's lexicon ordinal) and `flat` (the F1 view). */
  val flatSql: String = s"""
    lex(term, issue, ord) AS (VALUES $lexValues),
    doc_tags AS (
      SELECT d.doc_id, d.lang, d.source, d.text, l.term, l.issue, l.ord
      FROM documents d
      JOIN lex l ON list_contains(string_split(d.text, ' '), l.term)),
    tag_cnt AS (
      -- count(DISTINCT ord), not count(*): the engine's tag_count is the
      -- per-ROW len(tags) (the reference's semantics); under a
      -- duplicate-KEY corpus (tenth axis, round 15) doc_tags carries each
      -- (doc, term) once per committed copy and a plain count would
      -- double it. Byte-identical copies match the same lexicon terms,
      -- so distinct ords == the per-copy tag count; identical on a
      -- key-unique corpus.
      SELECT doc_id, count(DISTINCT ord) AS n FROM doc_tags GROUP BY doc_id),
    flat AS (
      SELECT d.doc_id, d.lang, d.source, d.text AS record_literal,
             CAST(NULL AS VARCHAR) AS issue_literal,
             COALESCE(c.n, 0) AS tag_count
      FROM documents d LEFT JOIN tag_cnt c ON d.doc_id = c.doc_id
      UNION ALL
      SELECT t.doc_id, t.lang, t.source, t.text, t.term, c.n
      FROM doc_tags t JOIN tag_cnt c ON t.doc_id = c.doc_id)"""

  // ---------------------------------------------------------------------
  // Queries
  // ---------------------------------------------------------------------

  /** A1 "Issue Distribution" (reference dashboard_widget.py:101-113)
    * over a flatten frame: tag rows only, group-count by issue_literal,
    * sort count desc. `issueCountSql` is its oracle over the `flat` CTE
    * rows that pass `where`. */
  private def issueCounts(flat: DataFrame): DataFrame =
    flat.filter(col("issue_literal").isNotNull)
      .groupBy(col("issue_literal"))
      .agg(count(lit(1)).as("n_tags"))
      .orderBy(col("n_tags").desc, col("issue_literal"))

  private def issueCountSql(where: String): String = s"""
      WITH $flatSql
      SELECT issue_literal, count(*) AS n_tags
      FROM flat
      WHERE $where
      GROUP BY issue_literal
      ORDER BY n_tags DESC, issue_literal"""

  private val a1 = GraftQuery(
    "parity_a1_issue_distribution",
    "flatten -> filter notnull -> group-count -> sort desc (A1/P4/O1)",
    Some(issueCountSql("issue_literal IS NOT NULL")),
    (s, dir) => issueCounts(flat(s, dir)))

  /** A2+A3 "Distribution of Issue Count per Record"
    * (reference dashboard_widget.py:166-171): per record max(tag_count)
    * (record row and tag rows share the count; max collapses the
    * duplicates exactly as the reference's groupby().max()), then a
    * histogram of those maxima sorted by key ascending. */
  private val a2a3 = GraftQuery(
    "parity_a2a3_tag_histogram",
    "two-level agg: per-record max then histogram (A2/A3/O2)",
    Some(s"""
      WITH $flatSql,
      per_record AS (
        SELECT record_literal, max(tag_count) AS max_tags
        FROM flat GROUP BY record_literal)
      SELECT max_tags AS tags_per_record, count(*) AS n_records
      FROM per_record
      GROUP BY max_tags
      ORDER BY tags_per_record"""),
    (s, dir) =>
      flat(s, dir)
        .groupBy(col("record_literal"))
        .agg(max(col("tag_count")).as("max_tags"))
        .groupBy(col("max_tags").as("tags_per_record"))
        .agg(count(lit(1)).as("n_records"))
        .orderBy("tags_per_record"))

  /** A4 language selector list (reference dashboard_widget.py:82):
    * sorted(df.language.dropna().unique()). */
  private val a4 = GraftQuery(
    "parity_a4_language_list",
    "distinct + sort dimension list (A4/O3)",
    Some("""
      SELECT DISTINCT lang FROM documents
      WHERE lang IS NOT NULL
      ORDER BY lang"""),
    (s, dir) =>
      docs(s, dir)
        .select(col("lang"))
        .where(col("lang").isNotNull)
        .distinct()
        .orderBy("lang"))

  /** A1 with the dashboard language filter (P5: equality predicate unless
    * selector = "All", reference dashboard_widget.py:99-106). */
  private val a1Filtered = GraftQuery(
    "parity_a1_issue_distribution_en",
    "A1 with the P5 language equality predicate (language='en')",
    Some(issueCountSql("issue_literal IS NOT NULL AND lang = 'en'")),
    (s, dir) => issueCounts(flat(s, dir).filter(col("lang") === "en")))

  /** A5 payload build (reference call-debias.py:43-48,143-147): all values
    * of one (language, file) group collected into one request payload.
    * Fingerprinted (md5 of the sorted concatenation) so the verify output
    * stays narrow; count kept alongside.
    *
    * Scale note: collect_list is safe here BECAUSE the group key mirrors
    * the reference's per-(language, file) payload — one API request's
    * worth of lines, bounded by file size, never a corpus-proportional
    * group. For unbounded groups the order-insensitive alternative is a
    * commutative hash aggregate (sum of per-row hashes), not a list. */
  private val a5 = GraftQuery(
    "parity_a5_payload_build",
    "per-group collect_list payload, deterministic fingerprint (A5)",
    Some("""
      SELECT lang, source, count(*) AS n_values,
             md5(COALESCE(string_agg(text, chr(1) ORDER BY text), '')) AS payload_md5
      FROM documents
      GROUP BY lang, source
      ORDER BY lang, source"""),
    (s, dir) =>
      docs(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_values"),
          // COALESCE in the oracle matches this side's empty-join: a
          // group whose every text is NULL gives md5("") here
          // (collect_list drops nulls) but string_agg returns SQL NULL
          md5(array_join(array_sort(collect_list(col("text"))), 1.toChar.toString)).as("payload_md5"))
        .orderBy("lang", "source"))

  /** A6 flagged-entry report (reference call-debias.py:91-110): flagged
    * results only, split-first-comma projection (P3), one row per tag with
    * its position (F3 posexplode; position drives the reference's
    * first-row-only blanking): [[flaggedTags]] less its source. */
  private val a6 = GraftQuery(
    "parity_a6_flagged_report",
    "flagged filter + first-comma split + posexplode tags (A6/F3/P2/P3)",
    Some(s"""
      WITH $flatSql
      SELECT t.doc_id,
             ${graft.T.sqlUstrip("split_part(t.text, ',', 1)")} AS record_num,
             CASE WHEN strpos(t.text, ',') > 0
                  THEN ${graft.T.sqlUstrip("substring(t.text, strpos(t.text, ',') + 1)")}
                  ELSE '' END AS literal_text,
             -- dense_rank, not row_number: posexplode numbers tags
             -- WITHIN each record row, so a duplicate-KEY corpus (tenth
             -- axis) repeats positions per copy instead of spanning
             -- them; ord is unique per matched term, so the two agree
             -- on a key-unique corpus
             CAST(dense_rank() OVER (PARTITION BY t.doc_id ORDER BY t.ord) - 1 AS INT) AS tag_pos,
             t.term AS tag_literal, t.issue AS tag_issue,
             'lexicon' AS tag_source
      FROM doc_tags t
      ORDER BY t.doc_id, tag_pos"""),
    (s, dir) =>
      flaggedTags(annotated(s, dir)).drop("source").orderBy("doc_id", "tag_pos"))

  /** P2/P6 null-vs-empty semantics (reference call-debias.py:59,
    * parser.py:25-27; SURVEY.md §7.4.2): tags forced to NULL when empty,
    * then counted via coalesce(size(..), 0) — the size(NULL) = -1 trap. */
  private val p2p6 = GraftQuery(
    "parity_p2p6_null_tag_semantics",
    "coalesce(size(tags),0) with NULL arrays; flagged vs clean counts (P2/P6)",
    Some(s"""
      WITH $flatSql,
      -- one row per document ROW (not per doc_id): the engine counts
      -- record rows, so duplicate-KEY copies (tenth axis) each count;
      -- tag_cnt is already per-copy (count(DISTINCT ord))
      per_doc AS (
        SELECT d.doc_id, d.lang, COALESCE(c.n, 0) AS n_tags
        FROM documents d LEFT JOIN tag_cnt c ON d.doc_id = c.doc_id)
      SELECT lang,
             count(*) AS n_docs,
             CAST(sum(CASE WHEN n_tags > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
             CAST(sum(CASE WHEN n_tags = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
             CAST(sum(n_tags) AS BIGINT) AS total_tags
      FROM per_doc
      GROUP BY lang
      ORDER BY lang"""),
    (s, dir) => {
      val ann = annotated(s, dir)
        // force the reference's "missing tags key" case: empty -> NULL
        .withColumn("tags", when(size(col("tags")) === 0, lit(null)).otherwise(col("tags")))
        .withColumn("n_tags", coalesce(size(col("tags")), lit(0)).cast("long"))
      ann.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_tags") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum(when(col("n_tags") === 0, 1L).otherwise(0L)).as("n_clean"),
          sum(col("n_tags")).as("total_tags"))
        .orderBy("lang")
    })

  /** P3 split-first-comma, both edge cases in one projection
    * (SURVEY.md §7.4.3): a line WITH commas (doc_id prefixed) splits at the
    * first one only; the raw text (no comma) yields remainder "". */
  private val p3 = GraftQuery(
    "parity_p3_first_comma_split",
    "first-comma-only split; no-comma => empty remainder (P3/C1/C2/C5)",
    Some(s"""
      WITH lines AS (
        SELECT doc_id, CAST(doc_id AS VARCHAR) || ', ' || COALESCE(text, '') AS line, text
        FROM documents)
      SELECT doc_id,
             ${graft.T.sqlUstrip("split_part(line, ',', 1)")} AS record_num,
             CASE WHEN strpos(line, ',') > 0
                  THEN ${graft.T.sqlUstrip("substring(line, strpos(line, ',') + 1)")}
                  ELSE '' END AS literal_text,
             CASE WHEN strpos(text, ',') > 0
                  THEN ${graft.T.sqlUstrip("substring(text, strpos(text, ',') + 1)")}
                  ELSE '' END AS no_comma_remainder
      FROM lines
      ORDER BY doc_id"""),
    (s, dir) =>
      docs(s, dir)
        // null-text docs still produce a line (missing field → empty):
        // an un-coalesced concat nulls the WHOLE line, and the engines
        // then disagree downstream — DuckDB's split_part(NULL) returns
        // '' where Spark's substring_index(NULL) is NULL (measured,
        // round 11 null-injection gate)
        .withColumn("line", concat(col("doc_id").cast("string"), lit(", "),
          coalesce(col("text"), lit(""))))
        .select(col("doc_id"),
          recordNum(col("line")).as("record_num"),
          literalText(col("line"), "line").as("literal_text"),
          literalText(col("text"), "text").as("no_comma_remainder"))
        .orderBy("doc_id"))

  /** S1+S2+S3+P1 corpus round-trip: materialize documents as a
    * language-partitioned text-file corpus (the reference's input layout,
    * readme.md:44-68), read it back with spark.read.text, derive the
    * language from the file path, drop blank lines, apply the reference
    * whitelist {nl,en,de,fr,it} (call-debias.py:36 — es/zh dirs are
    * silently skipped), and count lines per language. */
  private val s1s3 = GraftQuery(
    "parity_s1s3_text_corpus_scan",
    "lang-partitioned text corpus scan + blank-line drop + whitelist (S1-S3/P1)",
    Some(s"""
      SELECT lang, count(*) AS n_lines
      FROM documents
      WHERE lang IN (${Lexicon.referenceLanguages.map(l => s"'$l'").mkString(", ")})
        AND length(${graft.T.sqlUstrip("text")}) > 0
      GROUP BY lang
      ORDER BY lang"""),
    (s, dir) => {
      val corpusDir = graft.sources.Formats.scratch(dir, "graft_corpus")
      val d = docs(s, dir)
      // one blank line per language exercises the P1 drop
      val blanks = d.select(col("lang")).distinct().withColumn("text", lit("  "))
      d.select(col("lang"), col("text")).unionByName(blanks)
        // one record = one physical line: embedded \r\n / \r / \n would
        // silently multiply the read-back line count (T.normLines —
        // measured +12 lines/lang on the round-11 unicode fixture)
        .withColumn("text", graft.T.normLines(col("text")))
        .write.mode("overwrite").partitionBy("lang").text(corpusDir)
      // read the ROOT, not a lang=*/part-* glob: text's schema is static
      // (no inference), so partition discovery over zero written
      // languages — an all-empty corpus — yields an empty frame where
      // the glob would find no paths at all and throw
      s.read.text(corpusDir)
        .withColumn("lang", regexp_extract(input_file_name(), "lang=([^/]+)/", 1))
        .filter(col("lang").isin(Lexicon.referenceLanguages: _*)) // S1 whitelist
        .filter(length(graft.T.ustrip(col("value"))) > 0)         // P1 (Unicode blank)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_lines"))
        .orderBy("lang")
    })

  /** S4+S5+F2+C6 JSON round-trip: write one annotation-result document per
    * source "file" ({source, results: [{doc_id, language, literal, tags}]},
    * the reference response shape, parser.py:9-26), read it back with an
    * EXPLICIT schema (inference would mis-type empty tags arrays,
    * SURVEY.md §1.3), unnest results (F2), and run the A1 aggregation over
    * tag literals. */
  private val s4s5 = GraftQuery(
    "parity_s4s5_json_roundtrip",
    "JSON sink + explicit-schema reader + results unnest (S4/S5/F2/C6)",
    Some(s"""
      WITH $flatSql
      SELECT t.term AS tag_literal, count(*) AS n_tags
      FROM doc_tags t
      GROUP BY t.term
      ORDER BY n_tags DESC, tag_literal"""),
    (s, dir) => {
      val outDir = graft.sources.Formats.scratch(dir, "graft_results")
      annotated(s, dir)
        .select(col("source"),
          struct(col("doc_id"), col("lang").as("language"),
            col("text").as("literal"), col("tags")).as("result"))
        .groupBy(col("source"))
        .agg(sort_array(collect_list(col("result"))).as("results"))
        .write.mode("overwrite").json(outDir)

      val tagType = StructType(Seq(
        StructField("literal", StringType), StructField("issue", StringType),
        StructField("source", StringType)))
      val resultType = StructType(Seq(
        StructField("doc_id", LongType), StructField("language", StringType),
        StructField("literal", StringType),
        StructField("tags", ArrayType(tagType))))
      val docType = StructType(Seq(
        StructField("source", StringType),
        StructField("results", ArrayType(resultType))))

      s.read.schema(docType).json(outDir)
        .select(explode(col("results")).as("r"))                  // F2
        .select(explode(col("r.tags")).as("tag"))
        .groupBy(col("tag.literal").as("tag_literal"))
        .agg(count(lit(1)).as("n_tags"))
        .orderBy(col("n_tags").desc, col("tag_literal"))
    })

  /** X1+X2 executed via the batched Annotator trait (mapPartitions with
    * retry/skip), then the same flatten + A1 as the Column path — the two
    * paths must agree, so the Column path's oracle checks the trait path. */
  private val x1 = GraftQuery(
    "parity_x1_batched_annotator",
    "mapPartitions batched annotator w/ retry-skip, flatten, A1 (X1/X2/X3/F1)",
    Some(issueCountSql("issue_literal IS NOT NULL")),
    (s, dir) => {
      import s.implicits._
      val metrics = AnnotatorMetrics(s, "parity_x1")
      val ann = Annotate.annotateBatched(
        docs(s, dir).as[Doc],
        new RetryingAnnotator(new LexiconAnnotator(), maxRetries = 3, sleeper = _ => ()),
        metrics)
      issueCounts(flatten(ann.toDF()))
    })

  /** Full flatten view dumped directly — the F1 row-shape itself is the
    * thing under test (record row ∪ tag rows, SURVEY.md §7.4.1). */
  private val f1 = GraftQuery(
    "parity_f1_flatten_shape",
    "the F1 flatten view itself: record row + per-tag rows (F1)",
    Some(s"""
      WITH $flatSql
      SELECT doc_id, lang, source, record_literal, issue_literal, tag_count
      FROM flat
      ORDER BY doc_id, issue_literal NULLS FIRST"""),
    (s, dir) =>
      flat(s, dir).orderBy(col("doc_id"), col("issue_literal").asc_nulls_first))

  /** C4 log-fatality sniffing. The reference GUI tails the worker's log
    * stream and marks the whole run fatal when ANY line contains "error"
    * or "fatal" case-insensitively — the run then fails even on exit
    * code 0 (gui.py:79-82). Re-expressed as a data-path operator over a
    * generated run log: each `source` is one run, each document one log
    * line (a formatter emits an ok-line per doc, plus deterministic
    * mixed-case `Error:`/`FATAL:` lines on fixed doc_id residues so both
    * verdict branches are exercised — the testdata corpus itself never
    * contains either word). Per run: line count, flagged-line count, the
    * fatal verdict, and the first offending line id (what a triage UI
    * surfaces). The formatter + substring scan are pure projections
    * inside whole-stage codegen; only (source, partial counters) cross
    * the single partial+final aggregate shuffle — at 100 TB of logs the
    * data movement is one combined counter row per run. */
  private def c4Line: Column =
    when(col("doc_id") % 97 === 13,
      concat(lit("Error: annotator failed on doc "), col("doc_id").cast("string")))
      .when(col("doc_id") % 101 === 7,
        concat(lit("FATAL: out-of-memory replaying doc "), col("doc_id").cast("string")))
      .otherwise(concat(lit("ok doc "), col("doc_id").cast("string"),
        lit(": "), col("text")))

  /** The sniff itself — `lower(line)` contains "error" or "fatal"
    * (gui.py:79). Exposed for the spec's mixed-case pins. */
  private[parity] def c4Flagged(line: Column): Column =
    lower(line).contains("error") || lower(line).contains("fatal")

  private val c4 = GraftQuery(
    "parity_c4_log_fatality_sniff",
    "case-insensitive error/fatal log sniff -> per-run fatal verdict (C4)",
    Some("""
      WITH log AS (
        SELECT source, doc_id,
               CASE WHEN doc_id % 97 = 13
                      THEN 'Error: annotator failed on doc ' || CAST(doc_id AS VARCHAR)
                    WHEN doc_id % 101 = 7
                      THEN 'FATAL: out-of-memory replaying doc ' || CAST(doc_id AS VARCHAR)
                    ELSE 'ok doc ' || CAST(doc_id AS VARCHAR) || ': ' || text END AS line
        FROM documents)
      SELECT source,
             count(*) AS n_lines,
             count(*) FILTER (WHERE lower(line) LIKE '%error%' OR lower(line) LIKE '%fatal%') AS n_flagged,
             count(*) FILTER (WHERE lower(line) LIKE '%error%' OR lower(line) LIKE '%fatal%') > 0 AS fatal,
             min(CASE WHEN lower(line) LIKE '%error%' OR lower(line) LIKE '%fatal%' THEN doc_id END) AS first_flagged_doc
      FROM log
      GROUP BY source
      ORDER BY source"""),
    (s, dir) => {
      val flagged = c4Flagged(col("line"))
      docs(s, dir)
        .select(col("source"), col("doc_id"), c4Line.as("line"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_lines"),
          count(when(flagged, lit(1))).as("n_flagged"),
          (count(when(flagged, lit(1))) > 0).as("fatal"),
          min(when(flagged, col("doc_id"))).as("first_flagged_doc"))
        .orderBy("source")
    })

  def queries: Seq[GraftQuery] =
    Seq(a1, a1Filtered, a2a3, a4, a5, a6, p2p6, p3, s1s3, s4s5, x1, f1, c4)
}
