package graft.llmops

import graft.{Registry, SparkSpec, T}
import org.apache.spark.sql.functions._

class BigramLmSpec extends SparkSpec {

  test("llm_e4_bigram_surprisal: bigram counts and non-negativity invariants") {
    val out = Registry.byName("llm_e4_bigram_surprisal").run(spark, sfDir)
    val docs = T(spark, sfDir, "documents")
    out.count() shouldBe docs.count() // every doc has >= 2 tokens in the fixture

    // n_bigrams == n_tokens - 1, joined per doc
    val mismatch = out.join(
      docs.select(col("doc_id"),
        expr("cast(size(split(text, ' ', -1)) - 1 as bigint)").as("expect")),
      "doc_id")
      .filter(col("n_bigrams") =!= col("expect"))
    mismatch.count() shouldBe 0L

    // ln c1 - ln c2 >= 0 always (a bigram's count can't exceed its
    // prefix's), so the mean surprisal is non-negative everywhere
    out.filter(col("avg_neg_logprob") < 0).count() shouldBe 0L
  }

  test("llm_e4_bigram_surprisal: hand-checked on a planted two-doc corpus") {
    import spark.implicits._
    val tmp = tempDir("bigram_fix")
    // corpus: "a b a b" and "a b c" -> bigrams: (a,b)x3, (b,a)x1, (b,c)x1
    // c1: a->3, b->2; p(b|a)=1, p(a|b)=1/2, p(c|b)=1/2
    Seq((0L, "a b a b"), (1L, "a b c"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Registry.byName("llm_e4_bigram_surprisal").run(spark, tmp)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // doc 0: bigrams (a,b),(b,a),(a,b): -[ln1 + ln(1/2) + ln1]/3 = ln2/3
    out(0L)._1 shouldBe 3L
    out(0L)._2 shouldBe (math.log(2.0) / 3) +- 5e-5
    // doc 1: (a,b),(b,c): -[ln1 + ln(1/2)]/2 = ln2/2
    out(1L)._1 shouldBe 2L
    out(1L)._2 shouldBe (math.log(2.0) / 2) +- 5e-5
    graft.SessionMemo.clear(spark) // drop the memoized model built on tmp
  }
}
