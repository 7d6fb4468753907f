package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.parity.{Annotate, Dashboard, Lexicon, ReportSink}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** The reference pipeline on a generated corpus in its input layout
  * (`input/<lang>/<name>.csv`, one `record_num,literal` per line). A round is
  * the batch phase — text ingest with the whitelist and blank-line
  * filters, the HTTP enrichment of a document sample ([[AnnotateHttp]]),
  * the Column-path tagging and `Parity.flatten` behind a cached
  * `Dashboard`, the flagged text and PDF reports — then a closed loop of
  * dashboard selector changes (one client) over the cached view: each of
  * the three views for All and each language. Then a dashboard refresh.
  * Data-bound (few jobs over the whole corpus) except for the enrichment,
  * which is bound by call latency and backoff. */
final class CorpusPipeline(data: String, cores: Int) extends Workload {
  private val input = s"$data/input"
  private val enrich = new AnnotateHttp(s"$data/annotate", cores)
  private val enrichWalls = mutable.ArrayBuffer[Double]()
  private val batchWalls = mutable.ArrayBuffer[Double]()
  private val interactions = mutable.ArrayBuffer[Double]()
  private var last: Map[String, Any] = Map.empty
  private var ingestRows = 0L
  private var prevDir: Option[String] = None
  private var rounds = 0

  def warm(spark: SparkSession): Unit = {
    spark.read.text(s"$input/*/*.csv").write.format("noop").mode("overwrite").save()
    enrich.warm(spark)
  }

  override def release(): Unit = enrich.release()

  private def rows(rs: Array[Row]): java.util.List[java.util.List[Any]] =
    new java.util.ArrayList(rs.map(r => r.toSeq.asJava).toSeq.asJava)

  def round(spark: SparkSession, trace: Trace, res: Result, index: Int): Unit = {
    rounds += 1
    val dir = s"$data/round$rounds"
    val t0 = System.nanoTime()
    trace.span("ingest") {
      spark.read.text(s"$input/*/*.csv")
        .withColumn("path", input_file_name())
        .withColumn("lang", regexp_extract(col("path"), "/input/([^/]+)/", 1))
        .filter(col("lang").isin(Lexicon.referenceLanguages: _*))
        .filter(length(graft.T.ustrip(col("value"))) > 0)
        .select(
          substring_index(col("value"), ",", 1).cast("long").as("doc_id"),
          col("value").as("text"),
          col("lang"),
          regexp_extract(col("path"), "([^/]+)\\.csv$", 1).as("source"),
          length(col("value")).cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    enrichWalls += enrich.pass(spark, trace, res, index)
    val (dash, languages) = trace.span("dash.build") {
      val d = new Dashboard(spark, dir)
      (d, d.languages().collect().map(_.getString(0)).toSeq)
    }
    val reportLines = trace.span("report") {
      val ann = Annotate.annotated(graft.T(spark, dir, "documents"))
      val n = ReportSink.writeFlaggedReports(ann, s"$dir/report_txt")
      ReportSink.writeFlaggedPdfReports(ann, s"$dir/report_pdf")
      n
    }
    batchWalls += (System.nanoTime() - t0) / 1e9

    val views: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      "issue_distribution" -> dash.issueDistribution, "record_distribution" -> dash.recordDistribution,
      "languages" -> (_ => dash.languages()))
    // the warm-up round (index -1) compiles each view once, for All only
    val selectors = if (index < 0) Seq(Dashboard.All) else Dashboard.All +: languages
    // each view's All result is what the check compares
    last = Map("dir" -> dir, "report_lines" -> reportLines)
    for ((name, view) <- views; sel <- selectors) {
      res.attempted += 1
      val i0 = System.nanoTime()
      try {
        val got = trace.span("interact")(view(sel).collect())
        if (sel == Dashboard.All) last += name -> rows(got)
      } catch { case e: Throwable => res.fail(s"interaction $name ($sel): ${e.getMessage}") }
      interactions += (System.nanoTime() - i0) / 1e9
    }
    trace.span("dash.refresh") {
      dash.refresh()
      dash.languages().collect()
    }
    if (trace.enabled) ingestRows = spark.read.parquet(s"$dir/documents.parquet").count()
    spark.catalog.clearCache()
    prevDir.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    prevDir = Some(dir)
  }

  def reset(): Unit = { batchWalls.clear(); enrichWalls.clear(); interactions.clear() }

  def endToEnd(res: Result): Unit = {
    res.metrics("wall_s") = Stats.median(batchWalls.toSeq)
    res.metrics("op_p50_s") = Stats.quantile(interactions.toSeq, 0.5)
    res.metrics("op_p90_s") = Stats.quantile(interactions.toSeq, 0.9)
    res.context("op_s") = interactions.asJava
    res.context("op") = "dashboard selector change"
    res.context("op_samples") = interactions.size
    res.context("batch_s") = batchWalls.asJava
    res.context("enrich_s") = enrichWalls.asJava
  }

  private def sizeOf(path: String): (Long, Long) = {
    val fs = org.apache.commons.io.FileUtils.listFiles(new java.io.File(path), null, true).asScala
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    (fs.size.toLong, fs.map(_.length).sum)
  }

  def layers(trace: Trace, res: Result): Unit = {
    val dir = last("dir").toString
    val m = res.metrics
    m("ingest.s") = trace.total("ingest")
    m("ingest.rows") = ingestRows
    m("ingest.bytes") = sizeOf(input)._2
    m("dash.build_s") = trace.total("dash.build")
    m("dash.refresh_s") = trace.total("dash.refresh")
    m("dash.query_jobs") = trace.deltas("interact").jobs
    m("dash.cache_read_bytes") = trace.deltas("interact").inputBytes
    m("report.s") = trace.total("report")
    val (tf, tb) = sizeOf(s"$dir/report_txt")
    val (pf, pb) = sizeOf(s"$dir/report_pdf")
    m("report.files") = tf + pf
    m("report.bytes") = tb + pb
    enrich.layers(trace, res)
  }

  /** The dashboard aggregates and report line count of the last round
    * go to the Python side, which recomputes them with DuckDB from the
    * corpus files and the registry's oracle SQL for the same views. */
  def check(spark: SparkSession, res: Result, corrupt: Boolean): Unit = {
    val issues = last.getOrElse("issue_distribution", new java.util.ArrayList[Any]())
      .asInstanceOf[java.util.List[java.util.List[Any]]]
    if (corrupt && !issues.isEmpty) {
      val r = new java.util.ArrayList[Any](issues.get(0))
      r.set(1, r.get(1).asInstanceOf[Long] + 1)
      issues.set(0, r)
    }
    res.checks("corpus_input") = input
    res.checks("corpus") = last.asJava
    res.checks("flat_sql") = graft.parity.Parity.flatSql
    Seq("issue_distribution" -> "parity_a1_issue_distribution",
        "record_distribution" -> "parity_a2a3_tag_histogram",
        "languages" -> "parity_a4_language_list").foreach { case (k, q) =>
      res.checks(s"oracle_$k") = graft.Registry.byName(q).oracle.get
    }
    res.checks("whitelist") = Lexicon.referenceLanguages.asJava
    enrich.check(spark, res, corrupt)
  }
}
