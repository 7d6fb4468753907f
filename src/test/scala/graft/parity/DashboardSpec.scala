package graft.parity

import java.util.concurrent.atomic.AtomicInteger
import graft.{Registry, SparkSpec, T}
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dashboard facade == the registered oracle-checked queries and, per
  * selector, the filter-then-aggregate reference over the flatten view;
  * a refresh sees files that landed after construction; a selector
  * change runs no Spark job. */
class DashboardSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dash = new Dashboard(spark, sfDir)

  /** sf0.001 documents with every fifth document's lang nulled, one
    * document's text copied into another language (one record text in
    * two languages) and two languages whose Spark order (UTF-8 bytes)
    * differs from Java's String order (UTF-16 units). */
  private lazy val nullLangDir: String = {
    val dir = tempDir("graft_dashboard_nulllang")
    val docs = T(spark, sfDir, "documents")
    val copied = docs.orderBy("doc_id").limit(1)
      .withColumn("doc_id", col("doc_id") + 1000000L).withColumn("lang", lit("！x"))
    val emoji = docs.orderBy("doc_id").limit(3)
      .withColumn("doc_id", col("doc_id") + 2000000L).withColumn("lang", lit("😀"))
    docs.withColumn("lang", when(col("doc_id") % 5 === 2, lit(null)).otherwise(col("lang")))
      .unionByName(copied).unionByName(emoji)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** The selector's views as filter-then-aggregate queries over the
    * flatten view: (issue distribution, record histogram). */
  private def reference(dir: String, language: String): (DataFrame, DataFrame) = {
    val flat = Parity.flatten(Annotate.annotated(T(spark, dir, "documents")))
    val scoped = if (language == Dashboard.All) flat else flat.filter(col("lang") === language)
    (scoped.filter(col("issue_literal").isNotNull)
       .groupBy(col("issue_literal"))
       .agg(count(lit(1)).as("n_tags"))
       .orderBy(col("n_tags").desc, col("issue_literal")),
     scoped.groupBy(col("record_literal"))
       .agg(max(col("tag_count")).as("max_tags"))
       .groupBy(col("max_tags").as("tags_per_record"))
       .agg(count(lit(1)).as("n_records"))
       .orderBy("tags_per_record"))
  }

  private def referenceLanguages(dir: String): DataFrame =
    Parity.flatten(Annotate.annotated(T(spark, dir, "documents")))
      .select(col("lang")).where(col("lang").isNotNull).distinct().orderBy("lang")

  private def sameFrame(got: DataFrame, want: DataFrame, clue: String): Unit =
    withClue(clue) {
      got.schema shouldBe want.schema
      got.collect().toSeq shouldBe want.collect().toSeq
    }

  /** Every selector (All, each language, an absent one) equals the
    * reference; returns the languages. */
  private def matchesReference(d: Dashboard, dir: String): Seq[String] = {
    sameFrame(d.languages(), referenceLanguages(dir), "languages")
    val langs = d.languages().as[String].collect().toSeq
    for (sel <- Dashboard.All +: langs :+ "absent-language") {
      val (issues, records) = reference(dir, sel)
      sameFrame(d.issueDistribution(sel), issues, s"issueDistribution($sel)")
      sameFrame(d.recordDistribution(sel), records, s"recordDistribution($sel)")
    }
    d.issueDistribution("absent-language").count() shouldBe 0L
    d.recordDistribution("absent-language").count() shouldBe 0L
    langs
  }

  test("issue distribution matches the registered A1 query (All + filtered)") {
    dash.issueDistribution().as[(String, Long)].collect().toSeq shouldBe
      Registry.byName("parity_a1_issue_distribution").run(spark, sfDir)
        .as[(String, Long)].collect().toSeq
    dash.issueDistribution("en").as[(String, Long)].collect().toSeq shouldBe
      Registry.byName("parity_a1_issue_distribution_en").run(spark, sfDir)
        .as[(String, Long)].collect().toSeq
  }

  test("record distribution and languages match their registered queries") {
    dash.recordDistribution().as[(Long, Long)].collect().toSeq shouldBe
      Registry.byName("parity_a2a3_tag_histogram").run(spark, sfDir)
        .as[(Long, Long)].collect().toSeq
    dash.languages().as[String].collect().toSeq shouldBe
      Registry.byName("parity_a4_language_list").run(spark, sfDir)
        .as[String].collect().toSeq
  }

  test("every selector equals the filter-then-aggregate reference: All, each language, an absent one") {
    matchesReference(dash, sfDir) should not be empty
  }

  test("null-lang documents count under All only and never appear in languages()") {
    val d = new Dashboard(spark, nullLangDir)
    val langs = matchesReference(d, nullLangDir)
    langs should contain allOf ("！x", "😀")
    // Spark orders strings by UTF-8 bytes: U+FF01 before U+1F600
    langs.indexOf("！x") should be < langs.indexOf("😀")
    langs should not contain (null: String)
    def tags(df: DataFrame): Long = df.agg(sum("n_tags")).head().getLong(0)
    val nullLangTags = Parity.flatten(Annotate.annotated(T(spark, nullLangDir, "documents")))
      .filter(col("lang").isNull && col("issue_literal").isNotNull).count()
    nullLangTags should be > 0L
    langs.map(l => tags(d.issueDistribution(l))).sum + nullLangTags shouldBe
      tags(d.issueDistribution())
  }

  test("refresh sees a documents file with a new language that landed after construction") {
    val dir = tempDir("graft_dashboard_refresh")
    val docs = T(spark, sfDir, "documents")
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    val d = new Dashboard(spark, dir)
    d.languages().as[String].collect() should not contain "xx"
    val extra = docs.orderBy("doc_id").limit(40)
      .withColumn("doc_id", col("doc_id") + 1000000L).withColumn("lang", lit("xx"))
    extra.coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
    d.refresh()
    d.languages().as[String].collect() should contain ("xx")
    d.recordDistribution("xx").agg(sum("n_records")).head().getLong(0) shouldBe
      extra.select("text").distinct().count()
    d.issueDistribution("xx").collect().toSeq shouldBe reference(dir, "xx")._1.collect().toSeq
    // a new dashboard over the same dir sees it too
    new Dashboard(spark, dir).languages().as[String].collect() should contain ("xx")
  }

  test("a selector change after construction starts no Spark job") {
    val langs = dash.languages().as[String].collect().toSeq
    GraftListenerBus.drain(spark.sparkContext)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (sel <- Dashboard.All +: langs :+ "absent-language") {
        dash.issueDistribution(sel).collect()
        dash.recordDistribution(sel).collect()
        dash.languages().collect()
      }
      GraftListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get() shouldBe 0
  }

  test("refresh survives and still answers") {
    dash.refresh()
    dash.issueDistribution().count() should be > 0L
  }
}
