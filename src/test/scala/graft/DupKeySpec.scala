package graft

import org.apache.spark.sql.functions._

/** Duplicate-KEY corpus is the TENTH degenerate axis (round 15): the same
  * rows committed twice — a retried writer task, a reprocessed partition,
  * a double-run ingest job — land EXACT duplicate keys (event_id, doc_id,
  * vec_id, o_orderkey, whole lineitem order groups) in every table of a
  * 100 TB lake eventually. The first cross-engine run of this fixture
  * (pyarrow recipe mirrored below; gate §2b-x in the verify skill) found
  * NINE divergences in four classes, all fixed at the source:
  *
  *  - SET math double-counted: the shingle inverted index carried each
  *    (doc_id, shingle) once per committed copy, so Jaccard reported
  *    "similarities" of 2.0 (ill-formed — fix: the index is `.distinct()`
  *    by construction, LlmOps.shingles).
  *  - map fan-out doubled votes: knn's label lookup joined a
  *    key-duplicated (vec_id, label) projection, doubling every vote and
  *    flipping predictions (fix: the label MAP is distinct).
  *  - entity sinks vs row counts: the binary blob store writes ONE object
  *    per media id (two tasks racing the same path before the fix); the
  *    oracle now reads it back entity-wise (SELECT DISTINCT).
  *  - oracle-side uniqueness assumptions: per-doc tag counts
  *    (count(*) -> count(DISTINCT ord)), posexplode ordinals
  *    (row_number -> dense_rank), per-row vs per-key grouping in p2p6 /
  *    time_to_convert / asof_nearest — the ENGINE's per-row semantics
  *    (the reference's) was right; the SQL mirrors assumed unique keys.
  *
  * The declared contract, pinned here:
  *  1. DETECTION is `q_constraint_audit`'s job — key-uniqueness rules on
  *     all five tables report exact violation counts (and the audit
  *     stays a one-scan-per-table aggregate).
  *  2. Row-faithful ops stay row-faithful: aggregations count the rows
  *     that are actually in the table (duplicates are visible in
  *     results — honest, and exactly what the audit exists to catch).
  *  3. Set/entity ops are duplicate-IDEMPOTENT: re-committing identical
  *     rows does not change near-dup pairs, dedup clusters, distinct
  *     dimension lists, or the blob store (byte-identical output pins
  *     below).
  *  Boundary: the contract covers EXACT duplicate rows (re-commit
  *  artifacts). A key reused with a DIFFERENT payload is data corruption:
  *  the audit still detects it (uniqueness counts distinct keys), but
  *  per-op semantics are only guaranteed deterministic, not meaningful.
  */
class DupKeySpec extends SparkSpec with AxisMatrix {

  /** In-JVM twin of the pyarrow fixture: duplicate rows appended at the
    * end of each table, residues chosen per key. */
  private lazy val dupDir: String = {
    val rules = Map(
      "events" -> (col("event_id") % 9 === 2),
      "documents" -> (col("doc_id") % 11 === 3),
      "embeddings" -> (col("vec_id") % 13 === 5),
      "orders" -> (col("o_orderkey") % 17 === 7),
      "lineitem" -> (col("l_orderkey") % 19 === 4))
    fixture("graft_dupkey") { (t, base) =>
      rules.get(t).map(p => base.unionAll(base.filter(p))).getOrElse(base)
    }
  }

  private def run(name: String, dir: String) = Registry.byName(name).run(spark, dir)

  test("all registry queries execute on the duplicate-key corpus") {
    val failures = survives(dupDir)
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }

  test("q_constraint_audit detects every planted duplicate-key class with exact counts") {
    def audit(dir: String): Map[String, (Long, Boolean)] =
      run("q_constraint_audit", dir)
        .select("constraint_name", "n_violations", "pass")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val clean = audit(sfDir)
    val dup = audit(dupDir)
    // planted copy counts from the residues at sf0.001 (base sizes 1000
    // events, 500 docs, 500 vecs, 1500 orders, 6000 lineitems); detected
    // violations = base violations + planted copies. The four primary
    // keys are clean in the base fixture; lineitem's composite key is NOT
    // (the driver's synthetic lineitem carries 1401 duplicate
    // (l_orderkey, l_linenumber) pairs — a real property of the testdata
    // the audit honestly reports on both engines, gate-green since r1).
    val planted = Map(
      "events.event_id UNIQUE" -> 111L,
      "documents.doc_id UNIQUE" -> 46L,
      "embeddings.vec_id UNIQUE" -> 39L,
      "orders.o_orderkey UNIQUE" -> 88L,
      "lineitem.(l_orderkey,l_linenumber) UNIQUE" -> 324L)
    planted.foreach { case (rule, n) =>
      withClue(rule) {
        dup(rule) shouldBe ((clean(rule)._1 + n, false))
      }
    }
    // the four pipeline primary keys ARE unique in the base fixture
    planted.keys.filterNot(_.startsWith("lineitem")).foreach { rule =>
      withClue(s"$rule on the clean corpus") { clean(rule) shouldBe ((0L, true)) }
    }
    // and the audit itself is honest: the non-key rules still pass
    dup("orders.o_totalprice > 0") shouldBe ((0L, true))
    // exact copies are INVISIBLE to the corruption detector (round 16):
    // byte-identical rows add no payload variant under their key — the
    // PAYLOAD-CONSISTENT rules stay green, splitting this axis's dups
    // from KeyCorruptionSpec's payload-diff reuse
    Seq("events.event_id", "documents.doc_id", "embeddings.vec_id",
      "orders.o_orderkey").foreach { key =>
      withClue(s"$key PAYLOAD-CONSISTENT on the dup'd corpus") {
        dup(s"$key PAYLOAD-CONSISTENT") shouldBe ((0L, true))
      }
    }
  }

  test("duplicate-idempotent ops: byte-identical output on dup'd vs clean corpus") {
    // the set/entity class of the contract: re-committing identical rows
    // must not change these outputs AT ALL
    val invariant = Seq(
      "llm_e2_ngram_jaccard_pairs", // shingle SET math
      "llm_e2_dedup_clusters",      // components over the same pair set
      "mm_binary_ingest",           // blob store: one object per media id
      "parity_a4_language_list")    // distinct dimension list
    invariant.foreach { name =>
      SessionMemo.clear(spark)
      val base = AxisMatrix.rows(run(name, sfDir))
      SessionMemo.clear(spark)
      val dup = AxisMatrix.rows(run(name, dupDir))
      withClue(name) { dup shouldBe base }
    }
  }

  test("row-faithful ops count committed rows (duplicates visible, by contract)") {
    // e1's dedup stats see the duplicate copies as exactly what they are:
    // byte-identical extra rows (the cap-free sha-dedup path is the
    // recovery tool for a double-committed corpus)
    val base = run("llm_e1_dedup_stats", sfDir).collect()(0)
    val dup = run("llm_e1_dedup_stats", dupDir).collect()(0)
    dup.getLong(0) shouldBe base.getLong(0) + 46 // n_total grows by the copies
    dup.getLong(1) shouldBe base.getLong(1)      // n_unique unchanged
    dup.getLong(2) shouldBe base.getLong(2) + 46 // copies are duplicates
  }

  test("jaccard stays well-formed (<= 1) on the duplicate-key corpus") {
    // the pre-fix symptom: per-copy (doc_id, shingle) rows doubled the
    // intersection counts into jaccard = 2.0
    SessionMemo.clear(spark)
    val bad = run("llm_e2_ngram_jaccard_pairs", dupDir)
      .filter(col("jaccard") > 1.0 + 1e-12).count()
    bad shouldBe 0L
    SessionMemo.clear(spark)
  }

  test("rrf fusion: duplicate-committed docs carry EQUAL emitted ranks (dense_rank contract)") {
    // ranks are EMITTED columns: with row_number, two identical
    // (score, doc_id) copies would split each window tie by engine sort
    // luck and the copies could carry CROSSED (r_bm25, r_tf) pairs —
    // dense_rank gives identical copies identical ranks, making the
    // output row multiset engine- and layout-independent
    SessionMemo.clear(spark)
    val rows = run("llm_e4_rrf_fusion", dupDir).collect()
    rows.groupBy(r => (r.getString(0), r.getAs[Long]("doc_id"))).foreach {
      case ((term, doc), g) =>
        withClue(s"($term, $doc): copies with unequal rank pairs:") {
          g.map(r => (r.getAs[Long]("r_bm25"), r.getAs[Long]("r_tf")))
            .distinct.length shouldBe 1
        }
    }
    SessionMemo.clear(spark)
  }
}
