package graft

import org.apache.spark.sql.functions._

/** NINTH degenerate axis: embedding PATHOLOGY — dimension drift and
  * zero vectors. A 100 TB embedding table is written over months by
  * evolving pipelines — mixed model versions (different output dims),
  * truncated rows from killed writers, empty lists and all-zero
  * padding rows from failed encodes — so one fixed dimension and a
  * usable direction per row are CONTRACTS, not facts. Before round 14
  * nothing enforced either, and the failure modes measured on this
  * fixture were the worst kind available:
  *
  *  - 7 of 9 llm_e3 ANN queries CRASHED on dimension drift: empty
  *    vectors give zero norms (ANSI DIVIDE_BY_ZERO through the
  *    share-quantized cosine), and 32-dim rows broke the PQ subvector
  *    geometry (`Index 32 out of bounds for length 32` in Lloyd
  *    training);
  *  - a separate all-zero-64-dim fixture (16 padding rows, correct
  *    dimension) still crashed FIVE cosine-family queries the same
  *    way — zero norm, no direction;
  *  - the survivors were SILENTLY WRONG in a cross-engine-divergent
  *    way: the fused dot product ([[graft.functions.DotProduct]]) loops
  *    over min(len) — a 63-dim row yields a plausible truncated
  *    similarity — while DuckDB's list_zip null-pads, so the oracle
  *    nulls the same pair. Divergence, not error.
  *
  * The contract (round 14): a vector is indexable ONLY at the declared
  * corpus dimension ([[T.embeddingDim]]) and with at least one nonzero
  * slot; off-contract vectors are dropped at every vector-op read
  * exactly like NaN/Inf-slotted ones ([[T.indexableEmbedding]] /
  * `T.sqlIndexable`, nonzero clause fused into
  * [[graft.functions.VecIndexable]]'s codegen loop), and the PQ
  * geometry is compile-time tied to the same constant (require in
  * [[graft.llmops.ProductQuant]]). The cross-engine half is the
  * dimension-drift gate (pyarrow re-encoding of sf0.001, recipe in
  * PLANS.md round 14; expect 149/3/0); this spec replays the
  * engine side: no-throw over the full registry, and DROP-SEMANTICS
  * EQUIVALENCE — every embedding-family query returns byte-identical
  * results on the drifted corpus and on a corpus with the drifted
  * rows deleted outright.
  *
  * In-JVM injection recipe (same residues as the gate fixture):
  * vec_id%31==4 → all-zero (padding row), %37==5 → first 32 slots
  * (old-model row), %41==11 → widened to 96 (new-model row),
  * %43==17 → empty list, %47==23 → 63 slots (off-by-one — the
  * adversarial case for min-length truncation).
  */
class DimDriftSpec extends SparkSpec with AxisMatrix {

  private def drift(c: org.apache.spark.sql.Column) =
    when(col("vec_id") % 31 === 4, expr("transform(embedding, x -> x * 0)"))
      .when(col("vec_id") % 37 === 5, slice(c, 1, 32))
      .when(col("vec_id") % 41 === 11, concat(c, slice(c, 1, 32)))
      .when(col("vec_id") % 43 === 17, slice(c, 1, 0))
      .when(col("vec_id") % 47 === 23, slice(c, 1, 63))
      .otherwise(c)

  private def driftedPred =
    col("vec_id") % 31 === 4 || col("vec_id") % 37 === 5 ||
      col("vec_id") % 41 === 11 ||
      col("vec_id") % 43 === 17 || col("vec_id") % 47 === 23

  /** Drifted dir and pruned dir: same corpus, drift applied vs drifted
    * rows deleted — the pair the drop-semantics contract equates. */
  private lazy val driftedDir: String = fixture("graft_dimdrift") {
    case ("embeddings", base) => base.withColumn("embedding", drift(col("embedding")))
    case (_, base) => base
  }

  private lazy val prunedDir: String = fixture("graft_dimpruned") {
    case ("embeddings", base) => base.filter(!driftedPred)
    case (_, base) => base
  }

  private val embeddingFamily = Seq(
    "llm_e2_embed_cosine_pairs", "llm_e3_cosine_topk",
    "llm_e3_ann_lsh_topk", "llm_e3_ivf_topk", "llm_e3_pq_topk",
    "llm_e3_ivfpq_topk", "llm_e3_eval_nn", "llm_e3_knn_classify",
    "llm_e3_label_centroids", "llm_e3_quantize_audit",
    "llm_e2_pq_dedup_audit", "mm_pair_curation")

  test("indexability drops exactly the off-contract (wrong-dim / zero) vectors") {
    val emb = T(spark, driftedDir, "embeddings")
    val total = emb.count()
    val drifted = emb.filter(driftedPred).count()
    assert(drifted > 0, "fixture must drift some vectors")
    emb.filter(T.indexableEmbedding).count() shouldBe (total - drifted)
    // and every kept vector is exactly the declared dimension
    emb.filter(T.indexableEmbedding)
      .filter(expr(s"size(embedding) != ${T.embeddingDim}")).count() shouldBe 0L
  }

  test("all registry queries execute on the dimension-drifted corpus") {
    val failures = survives(driftedDir)
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }

  test("drop semantics: drifted corpus == corpus with drifted rows deleted") {
    embeddingFamily.foreach { name =>
      withClue(s"$name: drifted vs pruned results differ — a wrong-dim " +
          "vector leaked past the indexability contract\n") {
        sameRows(Registry.byName(name), driftedDir, prunedDir) shouldBe None
      }
    }
  }
}
