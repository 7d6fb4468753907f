package graft

import org.apache.spark.sql.functions._

/** Adversarial key collapse is the EIGHTH degenerate axis (after empty,
  * one-row, null, non-finite+magnitude, unicode, combined, extreme
  * timestamps): the round-12 hot-key probe grew per-user volume but
  * kept distinct timestamps and distinct content, so the true collapse
  * corner was never exercised — EVERY event at one (user_id, ts)
  * instant (maximal ties in every window ORDER BY, one giant session,
  * concurrency = |events|) and EVERY document byte-identical (the
  * dedup graph one clique, every ranking score tied, every shingle at
  * corpus df).
  *
  * What this axis stresses, by construction:
  *  - tie-breaker determinism: any window or top-k ordered only by a
  *    collapsed key (ts, score) would return partition-dependent rows;
  *    the repeat-run pin below and the cross-engine gate (pyarrow
  *    recipe in PLANS.md round 13) catch both engine-internal and
  *    cross-engine divergence under maximal ties.
  *  - clique behavior of the near-dup family: 500 identical docs give
  *    C(500,2) = 124 750 exact-Jaccard pairs (df = 500 is under the
  *    1000 df-cap at sf0.001, so nothing is dropped) and ONE connected
  *    component whose canonical is min(doc_id) — the label-propagation
  *    convergence proof on a maximally-dense graph.
  *  - interval math at zero width: sessions, streaks, funnels, as-of
  *    lookups where every candidate ts is equal.
  *
  * The in-JVM injection recipe here is mirrored by a pyarrow
  * re-encoding (PLANS.md round 13) whose dir feeds the full
  * Verify + check.py oracle gate — this spec is the engine-side
  * no-throw + determinism + structure half. */
class KeyCollapseSpec extends SparkSpec with AxisMatrix {

  private val oneUser = 7L
  private val oneTsUs = 1705320000000000L // 2024-01-15T12:00:00Z, in retention

  private lazy val collapsedDir: String = fixture("graft_collapse") {
    case ("events", base) =>
      base.withColumn("user_id", lit(oneUser))
        .withColumn("ts", timestamp_micros(lit(oneTsUs)))
    case ("documents", base) =>
      val template = base.orderBy("doc_id").select("text")
        .limit(1).collect()(0).getString(0)
      base.withColumn("text", lit(template))
    case (_, base) => base
  }

  test("all registry queries execute on the fully-collapsed corpus") {
    val failures = survives(collapsedDir)
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }

  test("tie-sensitive queries are run-to-run deterministic under maximal ties") {
    // the rankings and row-level window outputs most exposed to a
    // collapsed ORDER BY key: two runs (memo cleared between, so every
    // shuffle re-executes) must produce identical row SEQUENCES
    val names = Seq(
      "e5_forward_fill", "e5_sessionization", "e5_asof_purchase_last_click",
      "e5_asof_nearest_click", "e5_activity_streaks", "llm_e4_trigram_topk")
    val failures = names.flatMap { n =>
      val q = Registry.byName(n)
      def runOnce(): Seq[String] = {
        SessionMemo.clear(spark)
        AxisMatrix.ordered(q.run(spark, collapsedDir))
      }
      val (a, b) = (runOnce(), runOnce())
      if (a == b) None
      else Some(s"$n: ${a.size} vs ${b.size} rows, first diff at " +
        a.zip(b).indexWhere { case (x, y) => x != y })
    }
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }

  test("the dedup graph collapses to one clique with min-doc_id canonical") {
    val clusters = Registry.byName("llm_e2_dedup_clusters").run(spark, collapsedDir)
      .collect()
    val nDocs = T(spark, collapsedDir, "documents").count()
    // every doc lands in ONE cluster labeled by the global min doc_id
    val labels = clusters.map(_.getAs[Long]("cluster_id")).distinct
    withClue(s"labels=${labels.take(5).mkString(",")}") { labels.length shouldBe 1 }
    clusters.length shouldBe nDocs
    val minDoc = T(spark, collapsedDir, "documents")
      .agg(min(col("doc_id"))).collect()(0).getLong(0)
    labels(0) shouldBe minDoc
  }

  test("zero-width intervals: one user, one session, unit concurrency") {
    val nEvents = T(spark, collapsedDir, "events").count()
    // all events share (user, ts): one per-user rollup row holding all
    val sessions = Registry.byName("e5_sessionization").run(spark, collapsedDir)
      .collect()
    sessions.length shouldBe 1
    sessions(0).getAs[Long]("user_id") shouldBe oneUser
    sessions(0).getAs[Long]("n_sessions") shouldBe 1L
    sessions(0).getAs[Long]("n_events") shouldBe nEvents
    // the single zero-width session opens and closes at the instant:
    // one hour bucket, peak concurrency exactly 1
    val peak = Registry.byName("e5_peak_concurrency").run(spark, collapsedDir)
      .collect()
    peak.length shouldBe 1
    peak(0).getAs[Long]("peak_concurrency") shouldBe 1L
    peak(0).getAs[Long]("n_starts") shouldBe 1L
    peak(0).getAs[Long]("n_ends") shouldBe 1L
  }
}
