package graft

import org.apache.spark.sql.functions._

/** KEY CORRUPTION — the harsher sibling of the duplicate-key axis
  * (DupKeySpec) and the measured half of its documented boundary: a key
  * REUSED WITH A DIFFERENT PAYLOAD (two writers assigned the same id
  * range, a backfill that recomputed a column, an upstream id-generator
  * reset). The tenth axis's contract says per-op semantics under
  * corruption are "deterministic, not meaningful" — this spec MEASURES
  * the deterministic part (round-15 pilot of the candidate eleventh
  * axis):
  *
  *  - every registry query still executes (no-throw sweep);
  *  - `q_constraint_audit` still detects every corrupted key class
  *    (uniqueness counts distinct KEYS, so payload-diff reuse is
  *    exactly as visible as exact duplication);
  *  - the queries most exposed to an arbitrary pick-one-of-the-copies
  *    (entity sinks, key-joined lookups, tie-broken windows and as-of
  *    matches) produce IDENTICAL output across independent runs — and
  *    for the blob sink, across independently-built corpora (the write
  *    path collapses corrupt copies via min(text), a deterministic
  *    winner, where dropDuplicates would be partition-dependent).
  *
  * PROMOTED TO A FULL CROSS-ENGINE GATE in round 16 (§2b-c in the
  * verify skill): the pyarrow twin of this fixture runs the complete
  * Verify + check.py gate at `149 PASS, 3 rows-only, 0 FAIL`. The two
  * round-15 boundary queries were closed at the source of their
  * nondeterminism, not by weakening the gate: `llm_e2_simhash_pairs`'s
  * oracle now groups token votes per (doc_id, payload) — the engine is
  * row-faithful, so a corrupt key carries TWO signatures, and a
  * doc_id-only GROUP BY blended both payloads into a signature neither
  * row has — and `mm_pair_curation`'s caption-dedup window orders by
  * (media_id, w, h, v) on BOTH engines, a total order under the
  * indexable contract (finite, fixed-dim, no null slots — double lists
  * compare lexicographically identically in Spark and DuckDB).
  * `q_constraint_audit` additionally splits dup classes since round 16:
  * the PAYLOAD-CONSISTENT rules count corrupt dups (extra payload
  * variants under reused keys) which exact dups never trip.
  */
class KeyCorruptionSpec extends SparkSpec with AxisMatrix {

  /** Keys reused with different payloads, appended at the end (the
    * second writer's output). Residues disjoint from DupKeySpec's. */
  private def buildCorruptDir(): String = fixture("graft_keycorrupt") {
    case ("documents", base) =>
      base.unionAll(base.filter(col("doc_id") % 23 === 11)
        .withColumn("text", concat(col("text"), lit(" zz corrupted variant payload"))))
    case ("embeddings", base) =>
      base.unionAll(base.filter(col("vec_id") % 29 === 13)
        .withColumn("embedding", reverse(col("embedding"))))
    case ("events", base) =>
      base.unionAll(base.filter(col("event_id") % 31 === 17)
        .withColumn("value", col("value") + 1000.0)
        .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR")))
    case ("orders", base) =>
      base.unionAll(base.filter(col("o_orderkey") % 37 === 19)
        .withColumn("o_totalprice", col("o_totalprice") + 1))
    case (_, base) => base
  }

  private lazy val corruptDir: String = buildCorruptDir()

  private def run(name: String, dir: String) = Registry.byName(name).run(spark, dir)

  test("all registry queries execute on the key-corrupted corpus") {
    val failures = survives(corruptDir)
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }

  test("q_constraint_audit detects payload-diff key reuse exactly like exact duplication") {
    val audit = run("q_constraint_audit", corruptDir)
      .select("constraint_name", "n_violations", "pass")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // planted reuse counts at sf0.001 (residues above); every dup here
    // is a CORRUPT dup, so the round-16 PAYLOAD-CONSISTENT rule reports
    // the same counts as the uniqueness rule
    Map(
      "documents.doc_id" -> 22L,
      "embeddings.vec_id" -> 17L,
      "events.event_id" -> 32L,
      "orders.o_orderkey" -> 41L).foreach { case (key, n) =>
      withClue(key) {
        audit(s"$key UNIQUE") shouldBe ((n, false))
        audit(s"$key PAYLOAD-CONSISTENT") shouldBe ((n, false))
      }
    }
  }

  test("audit splits mixed duplicate classes: UNIQUE counts all dups, PAYLOAD-CONSISTENT only corrupt ones") {
    // a corpus carrying BOTH classes at once — the corruption residues
    // above plus DupKeySpec's exact-copy residues — must land
    // v_uniq = exact + corrupt while v_corrupt counts ONLY the
    // payload-diff reuse: the discriminator the round-15 pilot promised
    val exactResidues = Map( // DupKeySpec's residues (disjoint recipe)
      "events" -> (col("event_id") % 9 === 2),
      "documents" -> (col("doc_id") % 11 === 3),
      "embeddings" -> (col("vec_id") % 13 === 5),
      "orders" -> (col("o_orderkey") % 17 === 7))
    val dir = fixture("graft_mixeddup", corruptDir) { (t, corrupted) =>
      exactResidues.get(t) match {
        case Some(pred) => corrupted.unionAll(T(spark, sfDir, t).filter(pred))
        case None => corrupted
      }
    }
    val audit = run("q_constraint_audit", dir)
      .select("constraint_name", "n_violations", "pass")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    Map( // (corrupt planted, exact planted) at sf0.001
      "documents.doc_id" -> ((22L, 46L)),
      "embeddings.vec_id" -> ((17L, 39L)),
      "events.event_id" -> ((32L, 111L)),
      "orders.o_orderkey" -> ((41L, 88L))).foreach { case (key, (corrupt, exact)) =>
      withClue(key) {
        audit(s"$key UNIQUE") shouldBe ((corrupt + exact, false))
        audit(s"$key PAYLOAD-CONSISTENT") shouldBe ((corrupt, false))
      }
    }
    SessionMemo.clear(spark)
  }

  test("pick-sensitive queries are run-to-run deterministic under key corruption") {
    val names = Seq(
      "llm_e3_knn_classify",          // key-joined label lookup + top-k ties
      "llm_e2_ngram_jaccard_pairs",   // per-doc shingle SET becomes a union
      "parity_a6_flagged_report",     // posexplode ordinals per copy
      "parity_p2p6_null_tag_semantics",
      "e5_asof_nearest_click",        // tie-broken match over reused event_ids
      "e5_forward_fill",              // window ordered by (ts, event_id) ties
      "llm_e2_simhash_pairs",         // two signatures per corrupt key (r16)
      "mm_pair_curation",             // total-order winner pick (r16)
      "llm_e2_semdedup",              // id-keyed victims over variant fan-out (r17)
      "llm_e4_mincount_prune",        // (pos, masked-tok) reassembly ties (r17)
      "llm_e4_ccnet_buckets")         // scores group variant unions per doc_id (r17)
    val failures = names.flatMap { n =>
      def once(): Seq[String] = {
        SessionMemo.clear(spark)
        AxisMatrix.rows(run(n, corruptDir))
      }
      val (a, b) = (once(), once())
      if (a == b) None else Some(s"$n: ${a.size} vs ${b.size} rows, first diff " +
        a.zip(b).find { case (x, y) => x != y }.map(_.toString).getOrElse("size"))
    }
    withClue(failures.mkString("\n")) { failures shouldBe empty }
    SessionMemo.clear(spark)
  }

  test("promoted shapes are row-order invariant: tie-breaks are total orders, not layout luck") {
    // the round-16 promotion closed simhash (per-payload signatures) and
    // pair curation (media_id, w, h, v total-order winner); if either
    // tie-break were incomplete, re-materializing the SAME corrupt corpus
    // with a different physical row order/partition layout would flip a
    // winner. Hash-repartitioned rewrite = different file layout and
    // intra-partition order than the coalesce(1) original.
    val dir = tempDir("graft_keycorrupt_relayout")
    T.tableNames.foreach { t =>
      val keyCol = T(spark, corruptDir, t).columns.head
      T(spark, corruptDir, t).repartition(7, col(keyCol))
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    SessionMemo.clear(spark)
    // the pack pipeline and running-spend window joined this list in
    // round 16: their running sums ordered by keys that corrupt copies
    // TIE on (same shuffle_key/doc_id resp. date/key, different summed
    // value) — engine-dependent cums until the summed value completed
    // the total order (the mm_shard_manifest class; found by the
    // twelve-axis combined gate, red here without the fix)
    Seq("llm_e2_simhash_pairs", "mm_pair_curation",
      "llm_e4_shuffle_pack", "llm_e4_pack_efficiency",
      "q_window_running_sum",
      // round 17: semdedup's victim set is id-keyed over the payload
      // variants' pair fan-out; mincount_prune reassembles on the
      // (pos, masked-token) total order — both must survive relayout
      "llm_e2_semdedup", "llm_e4_mincount_prune").foreach { n =>
      def dump(d: String): Seq[String] = {
        SessionMemo.clear(spark)
        AxisMatrix.rows(run(n, d))
      }
      withClue(n) { dump(dir) shouldBe dump(corruptDir) }
    }
    SessionMemo.clear(spark)
  }

  test("same-ts payload corruption: window fill picks are value-ordered, not sort-stability luck") {
    // the recomputed-column backfill double-commit: the SAME (event_id,
    // ts) re-committed with a different value — ties every window
    // ordered by (ts, event_id) with rows whose PAYLOADS differ. The
    // forward-fill pick among such ties was input-order luck until
    // `value` completed the total order (round 16; the §2b-z running-sum
    // class, measured cross-engine green on the kc2 fixtures). Pin: two
    // independently-ordered materializations of the same corrupt corpus
    // (base-before-corrupt vs value-descending) must fill identically.
    def events(order: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val base = T(spark, sfDir, "events")
      val corrupt = base.filter(col("event_id") % 31 === 17)
        .withColumn("value", col("value") + 1000.0)
      order(base.unionAll(corrupt))
    }
    val dirA = fixture("graft_samets_a") {
      case ("events", _) => events(identity)
      case (_, base) => base
    }
    val dirB = fixture("graft_samets_b") {
      case ("events", _) => events(_.sortWithinPartitions(col("value").desc_nulls_last))
      case (_, base) => base
    }
    Seq("e5_forward_fill", "e5_asof_purchase_last_click",
      "e5_asof_nearest_click").foreach { n =>
      def dump(d: String): Seq[String] = {
        SessionMemo.clear(spark)
        AxisMatrix.rows(run(n, d))
      }
      withClue(n) { dump(dirB) shouldBe dump(dirA) }
    }
    SessionMemo.clear(spark)
  }

  test("blob sink collapses corrupt copies to a deterministic winner across corpora") {
    // two independently-built corpora with the same (corrupted) logical
    // content must materialize byte-identical blob stores: min(text)
    // picks the same winner regardless of partitioning or build order
    val dirA = corruptDir
    val dirB = buildCorruptDir()
    def ingest(d: String) = AxisMatrix.rows(run("mm_binary_ingest", d)
      .select("media_id", "n_bytes", "content_md5"))
    val (a, b) = (ingest(dirA), ingest(dirB))
    withClue("blob store content diverged between identical corpora") { a shouldBe b }
    // and the corrupted ids resolve to exactly one object each — the
    // ingest path filters `text IS NOT NULL`, so compare against the
    // non-null-text doc count, not the raw table count (r15 advice;
    // identical on today's fixture, robust if a null-payload doc is
    // ever added to testdata)
    a.size shouldBe T(spark, sfDir, "documents")
      .filter(col("text").isNotNull).count().toInt
  }
}
