package graft

import org.apache.spark.sql.functions._

/** Every registry query must RUN — and hold its declared numeric
  * contracts — on a corpus with NaN/±Inf injected into the double/float
  * data columns (events.value, embeddings elements). Non-finite values
  * are a fact of any 100 TB metric or model-output column; the driver
  * fixtures never contain them, so this path was unexercised until
  * round 11's non-finite gate (full Verify + DuckDB oracle over an
  * injected sf0.001 re-encoding) found 4 engine crashes and 14
  * cross-engine divergences:
  *
  *  - ANSI BIGINT/INT casts THREW on NaN/Inf (rfm monetary cents,
  *    attribution share quantization, centroid/pair-preview element
  *    quantization) while the decimal casts silently nulled — the
  *    mixed behavior is now one declared contract: NON-FINITE IS
  *    MISSING in exact (decimal/integer-quantized) aggregation.
  *    [[T.money]]/[[T.dsum]] guard with [[T.finite]]; oracles mirror
  *    via `CASE WHEN isfinite` ([[T.sqlMoney]]) — DuckDB otherwise
  *    THROWS on `CAST(NaN AS DECIMAL)` where Spark nulls;
  *  - vectors with a NaN/Inf slot poisoned every vector op: Lloyd
  *    codebook means went NaN and leaked bare `NaN` literals into the
  *    generated PQ/IVF oracle SQL (DuckDB binder error), cosine-pair
  *    counts diverged because DuckDB orders NaN above +Inf even in
  *    `>=` comparisons where Spark follows IEEE (false), and Inf·127
  *    int8 preview quantization overflowed ANSI INT casts. Contract:
  *    such vectors are NOT INDEXABLE ([[T.indexableEmbedding]] /
  *    [[T.sqlIndexable]]) and every vector-op read drops them —
  *    the same read-side discipline as null vectors (NullInputSpec);
  *  - raw double-typed stats (min/max/avg of value) are NOT guarded:
  *    IEEE propagation there is engine-identical and faithful — a
  *    NaN max is the true answer, and hiding it would mask data-quality
  *    signal the quality-gate family exists to surface.
  *
  * The cross-engine halves are proven at gate level (the non-finite
  * Verify+check run, recorded in PLANS.md); this spec replays the
  * engine side: the injected fixture, every query end-to-end, plus the
  * contract pins.
  */
class NonFiniteInputSpec extends SparkSpec with AxisMatrix {

  private val nan = lit(Double.NaN)
  private val pinf = lit(Double.PositiveInfinity)
  private val ninf = lit(Double.NegativeInfinity)

  private lazy val nfDir: String = fixture("graft_nonfinite") {
    case ("events", base) => base.withColumn("value",
      when(col("event_id") % 19 === 4, nan)
        .when(col("event_id") % 23 === 7, pinf)
        .when(col("event_id") % 29 === 11, ninf)
        // finite but beyond the DECIMAL(18,2) money capacity —
        // DuckDB throws at the cast even under an isfinite guard,
        // and the old long-grid share quantization overflowed, so
        // T.moneyRange bounds magnitude too (1e16 is the first
        // non-representable value; 1e20 crashed the gate)
        .when(col("event_id") % 37 === 5, lit(1e20))
        .when(col("event_id") % 41 === 7, lit(-3.7e18))
        .when(col("event_id") % 43 === 13, lit(1e16))
        // IN money range but beyond the attribution share-quant
        // domain (value*1e8 >= 2^53): exact-decimal sums keep it,
        // the quantized share treats it as missing — past 2^53 the
        // integral-double→decimal cast diverges cross-engine
        // (Spark shortest-round-trip digits vs DuckDB exact binary)
        .when(col("event_id") % 47 === 9, lit(5.4321e9))
        .otherwise(col("value")))
    case ("embeddings", base) => base.withColumn("embedding",
      when(col("vec_id") % 19 === 4,
        expr("transform(embedding, (x, i) -> IF(i = 0, CAST('NaN' AS FLOAT), x))"))
        .when(col("vec_id") % 23 === 7,
          expr("transform(embedding, (x, i) -> IF(i = 1, CAST('Infinity' AS FLOAT), x))"))
        // a null SLOT (not a null vector): the case where the exists()
        // HOF and DuckDB's list_filter used to reach OPPOSITE
        // indexability verdicts — VecIndexable + the `x IS NULL` oracle
        // arm pin it to NOT INDEXABLE on both sides
        .when(col("vec_id") % 29 === 3,
          expr("transform(embedding, (x, i) -> IF(i = 2, CAST(NULL AS FLOAT), x))"))
        .otherwise(col("embedding")))
    case (_, base) => base
  }

  test("all registry queries execute on the non-finite-injected corpus") {
    val failures = survives(nfDir)
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }

  test("non-finite vectors are unindexable: dropped by every vector-op read") {
    val poisonedIds = T(spark, nfDir, "embeddings")
      .filter(!T.indexableEmbedding).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(poisonedIds.nonEmpty, "fixture must poison some embeddings")
    val neighbors = Registry.byName("llm_e3_cosine_topk").run(spark, nfDir)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(neighbors.intersect(poisonedIds).isEmpty)
    // and no NaN/Inf survives into centroid output
    val badCentroids = Registry.byName("llm_e3_label_centroids").run(spark, nfDir)
      .filter(isnan(col("centroid")) || abs(col("centroid")) === pinf).count()
    badCentroids shouldBe 0L
  }

  test("exact decimal aggregation treats non-finite as missing; raw stats propagate IEEE") {
    val expected = T(spark, nfDir, "events")
      .filter(T.moneyRange(col("value")))
      .groupBy("event_type")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val out = Registry.byName("e5_sketch_exact_twin").run(spark, nfDir).collect()
    out.foreach { r =>
      r.getDouble(r.fieldIndex("sum_value")) shouldBe expected(r.getString(0))
    }
    // the UNGUARDED double stats still surface the poison faithfully
    assert(out.exists(r => r.getDouble(r.fieldIndex("max_value")).isNaN ||
      r.getDouble(r.fieldIndex("max_value")).isInfinite))
  }

  test("rfm monetary cents come from finite values only; attribution shares stay finite") {
    val rfm = Registry.byName("e5_rfm_segments").run(spark, nfDir)
    rfm.count() should be > 0L // would have thrown CAST_OVERFLOW unguarded
    val attributed = Registry.byName("e5_linear_attribution").run(spark, nfDir)
      .filter(isnan(col("attributed")) || abs(col("attributed")) === pinf).count()
    attributed shouldBe 0L
  }
}
