package graft.parity

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The analytics-dashboard facade (reference
  * analytics/dashboard_widget.py): the issue distribution, the
  * per-record tag histogram and the language list, with the language
  * selector's "All" sentinel (P5).
  *
  * The reference re-globs and re-parses every output JSON and reruns
  * all three aggregations on every refresh and every selector change
  * (dashboard_widget.py:73-74,94-204). Here construction and [[refresh]]
  * run ONE Spark action that answers every selector at once: both views
  * grouped by language and, through grouping sets, for All, over the
  * flattened annotation view. The grouping stays distributed; only the
  * final aggregates reach the driver — at most (languages + 1) ×
  * (distinct issues + distinct histogram buckets) rows, never one row
  * per record. A selector change slices that driver-side answer into a
  * local DataFrame, so collecting it runs no Spark job. Nothing is
  * persisted.
  */
final class Dashboard(spark: SparkSession, dir: String) {
  import Dashboard._

  @volatile private var answers: Answers = load()

  private def load(): Answers = {
    // a refresh must see the files that landed since the first read
    val ann = Annotate.annotated(graft.T.relisted(spark, dir, "documents"))
    val (lang, issue, record) = (col("lang"), col("issue_literal"), col("record_literal"))
    // A1: the flatten's tag rows, counted per (lang, issue) and per issue
    val issues = Parity.flatten(ann).filter(issue.isNotNull)
      .groupingSets(Seq(Seq(lang, issue), Seq(issue)), lang, issue)
      .agg(grouping(lang).as("all"), count(lit(1)).as("n"))
    // A2+A3: every flatten row of a record carries that record's
    // tag_count, so the per-record max over the flatten is the max over
    // its record rows — the flatten's record branch, one row per document
    val histogram = ann
      .select(lang, col("text").as("record_literal"),
        coalesce(size(col("tags")), lit(0)).cast(LongType).as("tag_count"))
      .groupingSets(Seq(Seq(lang, record), Seq(record)), lang, record)
      .agg(grouping(lang).as("all"), max(col("tag_count")).as("tags_per_record"))
      .groupBy(col("all"), lang, col("tags_per_record"))
      .agg(count(lit(1)).as("n"))
    // issue rows always carry their issue, histogram rows never do
    val (issueRows, histogramRows) = issues.unionByName(histogram, allowMissingColumns = true)
      .select("all", "lang", "issue_literal", "tags_per_record", "n")
      .collect().partition(!_.isNullAt(2))
    val perRecord = slices(histogramRows, r => Row(r.get(3), r.getLong(4)), ByBucket)
    Answers(
      slices(issueRows, r => Row(r.getString(2), r.getLong(4)), ByCountThenIssue),
      perRecord,
      perRecord.keys.flatten.toSeq.sorted(SparkStrings).map(Row(_)))
  }

  /** Reference Refresh button: re-list and re-read the source. */
  def refresh(): Unit = synchronized { answers = load() }

  /** A4: the language selector's entries (sorted, nulls dropped). */
  def languages(): DataFrame = local(answers.languages, LanguageSchema)

  /** A1 + P4 + P5 + O1: issue distribution, optionally language-filtered. */
  def issueDistribution(language: String = Dashboard.All): DataFrame =
    local(slice(answers.issues, language), IssueSchema)

  /** A2 + A3 + O2: per-record max tag count, then its histogram. */
  def recordDistribution(language: String = Dashboard.All): DataFrame =
    local(slice(answers.records, language), RecordSchema)

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}

object Dashboard {
  /** The selector sentinel (reference dashboard_widget.py:99). */
  val All = "All"

  /** Each view's rows per selector: None is All, Some(lang) a language. */
  private final case class Answers(
      issues: Map[Option[String], Seq[Row]],
      records: Map[Option[String], Seq[Row]],
      languages: Seq[Row])

  // the column names, types and nullability the views had as Spark queries
  private val LanguageSchema = StructType(Seq(StructField("lang", StringType, nullable = true)))
  private val IssueSchema = StructType(Seq(
    StructField("issue_literal", StringType, nullable = true),
    StructField("n_tags", LongType, nullable = false)))
  private val RecordSchema = StructType(Seq(
    StructField("tags_per_record", LongType, nullable = true),
    StructField("n_records", LongType, nullable = false)))

  // Spark's string order (UTF-8 bytes), not String.compareTo (UTF-16
  // units), which differs on supplementary characters
  private val SparkStrings: Ordering[String] =
    (a, b) => UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
  // ORDER BY n_tags DESC, issue_literal
  private val ByCountThenIssue: Ordering[Row] =
    Ordering.by[Row, Long](_.getLong(1))(Ordering.Long.reverse).orElseBy(_.getString(0))(SparkStrings)
  // ORDER BY tags_per_record (ascending, nulls first)
  private val ByBucket: Ordering[Row] =
    Ordering.by[Row, Option[Long]](r => Option(r.get(0)).map(_.asInstanceOf[Long]))

  /** Aggregate rows (all, lang, …) grouped by selector and sorted. A
    * per-language group of null-lang documents is no selector: those
    * documents count under All only. */
  private def slices(rows: Array[Row], view: Row => Row, order: Ordering[Row])
      : Map[Option[String], Seq[Row]] =
    rows.filter(r => r.getByte(0) == 1 || !r.isNullAt(1))
      .groupBy(r => if (r.getByte(0) == 1) None else Some(r.getString(1)))
      .map { case (k, rs) => k -> rs.toSeq.map(view).sorted(order) }

  private def slice(views: Map[Option[String], Seq[Row]], language: String): Seq[Row] =
    views.getOrElse(if (language == All) None else Some(language), Nil)
}
