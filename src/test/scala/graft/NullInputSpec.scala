package graft

import org.apache.spark.sql.functions._

/** Every registry query must RUN — and hold its declared null
  * contract — on a corpus with NULLs injected into the nullable data
  * columns (documents.text, events.value/props, embeddings.embedding).
  * A 100 TB corpus always contains missing values; the driver fixtures
  * never do, so this path was unexercised until round 11's
  * null-injection gate (full Verify + DuckDB oracle over a nulled
  * sf0.001 re-encoding) found five real divergences:
  *
  *  - vector ops NPE'd collecting null embeddings → contract: null
  *    vectors are UNINDEXABLE, dropped at the read (LlmOps.normed,
  *    ProductQuant.embeddings, `WHERE embedding IS NOT NULL` oracles);
  *  - multimodal NPE'd on null text payloads → contract: null text is
  *    a MISSING payload, dropped at the media read/blob write;
  *  - null ORDER BY keys hit the engines' OPPOSITE null-ordering
  *    defaults (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST):
  *    quality_deciles now excludes unrankable (null-score) docs,
  *    quota_sample ranks md5(COALESCE(text, '')) so every doc keeps a
  *    defined key;
  *  - text_scrub mixed semantics (concat_ws maps a NULL array to ''
  *    while size(NULL) is NULL) → contract: NULL-THROUGH, all derived
  *    columns NULL, matching the oracle's natural propagation;
  *  - parity_p3's un-coalesced line concat nulled the whole line, and
  *    DuckDB's split_part(NULL) returns '' where Spark's
  *    substring_index(NULL) is NULL → the line coalesces text to ''.
  *
  * The cross-engine halves are proven at gate level (the nulled-dir
  * Verify+check run, recorded in PLANS.md); this spec replays the
  * engine side: the nulled fixture, every query end-to-end, plus the
  * four contract pins.
  */
class NullInputSpec extends SparkSpec with AxisMatrix {

  private lazy val nullDir: String = fixture("graft_nulls") {
    case ("documents", base) => base.withColumn("text",
      when(col("doc_id") % 13 === 3, lit(null)).otherwise(col("text")))
    case ("events", base) => base
      .withColumn("props",
        when(col("event_id") % 11 === 5, lit(null)).otherwise(col("props")))
      .withColumn("value",
        when(col("event_id") % 7 === 2, lit(null)).otherwise(col("value")))
    case ("embeddings", base) => base.withColumn("embedding",
      when(col("vec_id") % 17 === 2, lit(null)).otherwise(col("embedding")))
    case (_, base) => base
  }

  test("all registry queries execute on the null-injected corpus") {
    val failures = survives(nullDir)
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }

  test("null vectors are dropped by every vector-op read") {
    val nNull = T(spark, nullDir, "embeddings")
      .filter(col("embedding").isNull).count()
    assert(nNull > 0, "fixture must null some embeddings")
    // cosine top-k neighbors never include an unindexable vector
    val nulledIds = T(spark, nullDir, "embeddings")
      .filter(col("embedding").isNull).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val neighbors = Registry.byName("llm_e3_cosine_topk").run(spark, nullDir)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(neighbors.intersect(nulledIds).isEmpty)
  }

  test("text_scrub is null-through on null text") {
    val out = Registry.byName("llm_e4_text_scrub").run(spark, nullDir)
      .filter(col("doc_id") % 13 === 3)
    assert(out.count() > 0)
    out.collect().foreach { r =>
      assert(r.isNullAt(r.fieldIndex("scrubbed")))
      assert(r.isNullAt(r.fieldIndex("n_masked_terms")))
      assert(r.isNullAt(r.fieldIndex("n_emails")))
      assert(r.isNullAt(r.fieldIndex("n_ips")))
    }
  }

  test("quality deciles exclude unrankable docs; quota sample keeps them") {
    val nDocs = T(spark, nullDir, "documents").count()
    val nNullText = T(spark, nullDir, "documents").filter(col("text").isNull).count()
    assert(nNullText > 0)
    val decileTotal = Registry.byName("llm_e4_quality_deciles").run(spark, nullDir)
      .agg(sum(col("n_docs"))).head().getLong(0)
    decileTotal shouldBe (nDocs - nNullText)
    // quota sample still draws ceil(n/10) per language over ALL docs
    val perLang = T(spark, nullDir, "documents").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = Registry.byName("llm_e4_quota_sample").run(spark, nullDir)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sampled shouldBe perLang.map { case (l, n) => l -> (n + 9) / 10 }
  }

  test("multimodal drops missing payloads consistently") {
    val nText = T(spark, nullDir, "documents").filter(col("text").isNotNull).count()
    Registry.byName("mm_binary_features").run(spark, nullDir).count() shouldBe nText
    Registry.byName("mm_binary_ingest").run(spark, nullDir).count() shouldBe nText
    Registry.byName("mm_shard_manifest").run(spark, nullDir).count() shouldBe nText
  }
}
