package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical 100×-posture probe: replicate the sf0.1 FACT tables N×
  * with disjoint key spaces, run the most expensive registry queries on
  * base and scaled dirs, and assert wall time grows ≲ N× — converting
  * the repo's static "no scale-killers by plan inspection" claim into a
  * measured regression gate.
  *
  * Replication model (what a real N× corpus looks like, not N copies):
  *  - fact-internal keys (o_orderkey/l_orderkey, event_id, user_id,
  *    doc_id, vec_id) are offset per replica by i·2^40, so per-key
  *    cardinalities stay CONSTANT — an orderkey still has ~4 lineitems,
  *    a user still has ~its events. Duplicating keys verbatim would
  *    instead grow every self-join group N× (N² join pairs): a
  *    pathological-input artifact, not a plan property.
  *  - dimension tables (region/nation/customer/supplier/part) are
  *    copied once and foreign keys into them are left unchanged: at
  *    scale, facts grow and dims don't, so per-dim-key fanout grows N×
  *    — exactly the broadcast-join shape the plans must survive.
  *
  * Probe set = the most expensive queries spanning the engine's
  * distinct physical shapes: iterative graph (pagerank), full-scan
  * commutative fingerprints, wide stats agg, event prefix-sum, PQ ANN,
  * and the bounded-window decile query (the round-10 watch item). The
  * llm_e2 near-dup family is EXCLUDED by design: under replication
  * every document acquires N-1 near-identical twins, so candidate
  * pairs grow quadratically as a property of the replicated corpus
  * (the algorithms working as specified on a degenerate input), not of
  * the plans — their scale posture is argued by bucket-cap analysis in
  * their scaladoc instead.
  *
  * A second axis (round 12): `hot` mode replicates EVENTS ONLY onto
  * the SAME user_id space — per-key growth N× with a fixed user
  * population — because the disjoint axis holds per-key cardinality
  * constant, which never stresses the per-user window sorts or the
  * salted skew shapes. Its probe set is the user-keyed queries
  * ([[hotProbeNames]]); same time + bytes-slope gates.
  *
  * Usage: `runMain graft.ScaleProbe [hot] [N] [querySubstr…]` (N
  * default 4). Prints one JSON line; exits 1 if any query's
  * scaled/base ratio exceeds N × 1.5 (slack for shuffle N·logN terms
  * and ambient drift — sub-second absolute deltas are reported but
  * never gate). */
object ScaleProbe {
  private val OFF = 1L << 40

  private val probeNames = Seq(
    "q_pagerank_cosupply", "q_fingerprint_drilldown", "q_table_fingerprint",
    "q_corr_matrix", "e5_peak_concurrency", "llm_e3_pq_topk",
    "llm_e4_quality_deciles",
    // join/window/state shapes: fact⋈fact equi-join + dim broadcast +
    // top-N, per-user stacked windows, per-user as-of union-window,
    // and the salted skew join (replication grows the skewed key's
    // group N× — exactly the skew the salting exists to flatten)
    "q3_top_unshipped_orders", "e5_sessionization",
    "e5_asof_purchase_last_click", "e5_skew_salted_join")

  /** HOT-KEY axis probe set: the queries whose shuffles key on user_id
    * (or a low-cardinality derivative) and therefore live or die by
    * per-key growth — sessionization's stacked per-user windows, the
    * as-of union-window, per-user interval prefix-sums, and both salted
    * skew shapes. `e5_linear_attribution` is EXCLUDED by design: per-key
    * replication grows each user's purchases AND clicks N×, so the
    * purchase×click-within-7d match grows N² as a property of the
    * replicated corpus (the same reason the near-dup family is excluded
    * from the disjoint axis), not of the plan. */
  private val hotProbeNames = Seq(
    "e5_sessionization", "e5_skew_salted_join", "e5_hourly_salted_agg",
    "e5_asof_purchase_last_click", "e5_peak_concurrency")

  /** Per-replica key-offset recipe; tables not listed are dims (one copy). */
  private val factKeys: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Hot-key replication: events only, event_id offset per replica but
    * user_id (and ts) REUSED — every user's event count grows N× while
    * the user population stays fixed. The disjoint axis holds per-key
    * cardinality constant (the easy direction); this one grows it,
    * which is what actually stresses the per-user window sorts and the
    * salted shapes. Non-event tables are copied once. */
  private val hotFactKeys: Map[String, Seq[String]] = Map(
    "events" -> Seq("event_id"))

  private[graft] def buildScaledDir(spark: SparkSession, baseDir: String, n: Int,
      hot: Boolean = false): String = {
    val tag = if (hot) "hotkey" else "scale"
    val dir = s"${sys.props("java.io.tmpdir")}/graft_${tag}_${n}x_${T.scratchKey(baseDir)}"
    val marker = java.nio.file.Paths.get(s"$dir/_SCALE_OK")
    if (java.nio.file.Files.exists(marker)) return dir
    val recipe = if (hot) hotFactKeys else factKeys
    T.tableNames.foreach { t =>
      val base = T(spark, baseDir, t)
      val scaled = recipe.get(t) match {
        case None => base
        case Some(keys) =>
          (0 until n).map { i =>
            keys.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(i * OFF)))
          }.reduce(_ union _)
      }
      scaled.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    java.nio.file.Files.write(marker, Array.emptyByteArray)
    dir
  }

  /** Wall time is load-sensitive; shuffle WRITE BYTES are deterministic
    * for a fixed plan+data, so they are the sharper superlinearity
    * signal — a quadratic candidate join shows up in bytes even when
    * ambient noise hides it in seconds. Tallied with a stage listener;
    * listener delivery is async, so the tally is read after draining
    * the listener bus. */
  private class ShuffleTally extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  /** (median seconds over `reps` runs, shuffle bytes of the last run). */
  private def medianOf(spark: SparkSession, q: GraftQuery, dir: String,
      reps: Int): (Double, Long) = {
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    try {
      val ts = (1 to reps).map { i =>
        SessionMemo.clear(spark)
        if (i == reps) tally.bytes.set(0L)
        val t0 = System.nanoTime()
        q.run(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      (ts.sorted.apply(ts.size / 2), tally.bytes.get())
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  def main(args: Array[String]): Unit = {
    // `runMain graft.ScaleProbe [hot] [N] [querySubstr…]` — leading
    // "hot" selects the hot-key axis (events replicated onto the SAME
    // user_id space, per-key growth N×) with its own probe set.
    val hot = args.headOption.contains("hot")
    val rest = if (hot) args.tail else args
    val n = rest.headOption.flatMap(a => scala.util.Try(a.toInt).toOption).getOrElse(4)
    val filters = rest.drop(if (rest.headOption.exists(a => scala.util.Try(a.toInt).isSuccess)) 1 else 0)
    val pool = if (hot) hotProbeNames else probeNames
    val names = if (filters.nonEmpty) pool.filter(p => filters.exists(p.contains)) else pool
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val slack = 1.5
    val spark = GraftSession.local("32")
    // THREE measurement points: base, N/2, N. The time gate runs
    // base→N (end-to-end growth ≲ N). The BYTES gate runs on the
    // N/2→N SLOPE only: between base and scale, AQE legitimately
    // changes join regime — q3_top_unshipped_orders broadcasts its
    // filtered orders side at sf0.1 (321 KB shuffled) but correctly
    // flips to a both-sides-exchanged SortMergeJoin once that side
    // outgrows the broadcast threshold at 8× (50 MB shuffled, a 157×
    // "ratio" that is a one-time phase change, linear thereafter —
    // plans verified by hand, recorded in PLANS.md). The asymptotic
    // slope is the regime a 100 TB job lives in; quadratic growth
    // shows up there regardless of the flip.
    val mid = (n / 2).max(1)
    val scaledDir = buildScaledDir(spark, baseDir, n, hot)
    val midDir = if (mid > 1) buildScaledDir(spark, baseDir, mid, hot) else baseDir
    val qs = Registry.all.filter(q => names.contains(q.name))
    require(qs.map(_.name).toSet == names.toSet,
      s"probe names missing from the registry: ${names.toSet -- qs.map(_.name)}")
    // warm all dirs (codegen/reader machinery, not data)
    T.tableNames.foreach { t =>
      Seq(baseDir, midDir, scaledDir).distinct.foreach { d =>
        spark.read.parquet(s"$d/$t.parquet").write.format("noop").mode("overwrite").save()
      }
    }
    // bytes gate only engages above this floor: tiny shuffles (dimension
    // broadcasts, 1-row aggregates) have constant overhead that can
    // dominate the ratio without saying anything about scaling
    val bytesFloor = 4L << 20
    val step = n.toDouble / mid
    case class Probe(name: String, t1: Double, tn: Double, ratio: Double,
        b1: Long, bm: Long, bn: Long, slope: Double, timeOk: Boolean,
        bytesOk: Boolean, escalated: Option[(Long, Double, Boolean)] = None) {
      def ok: Boolean = timeOk && (bytesOk || escalated.exists(_._3))
    }
    val firstPass = qs.map { q =>
      val (t1, b1) = medianOf(spark, q, baseDir, 3)
      val (_, bm) = medianOf(spark, q, midDir, 3)
      val (tn, bn) = medianOf(spark, q, scaledDir, 3)
      val ratio = tn / t1
      val slope = if (bm > 0) bn.toDouble / bm else 0.0
      Probe(q.name, t1, tn, ratio, b1, bm, bn, slope,
        timeOk = ratio <= n * slack,
        bytesOk = bn < bytesFloor || slope <= step * slack)
    }
    // ESCALATION: a failed slope segment can be a one-time plan phase
    // change (a broadcast side outgrowing the threshold lands its
    // discontinuity on whatever segment contains it) rather than
    // superlinear growth. Disambiguate empirically: measure one more
    // doubling — a phase change is linear on the next segment
    // (2× bytes for 2× data); a genuinely quadratic query doubles its
    // slope again and still fails.
    val rows = if (firstPass.forall(_.ok)) firstPass else {
      val dir2n = buildScaledDir(spark, baseDir, 2 * n, hot)
      firstPass.map { p =>
        if (p.ok) p else {
          val q = qs.find(_.name == p.name).get
          val (_, b2n) = medianOf(spark, q, dir2n, 3)
          val slope2 = if (p.bn > 0) b2n.toDouble / p.bn else 0.0
          p.copy(escalated = Some((b2n, slope2, slope2 <= 2 * slack)))
        }
      }
    }
    def r3(v: Double) = T.jdec(v, 3)
    val qJson = rows.map { p =>
      val esc = p.escalated.map { case (b2n, s2, ok2) =>
        s""","shuffle_b2N":$b2n,"bytes_slope_next":${r3(s2)},"phase_change":$ok2"""
      }.getOrElse("")
      s""""${p.name}":{"t1":${r3(p.t1)},"tN":${r3(p.tn)},"ratio":${r3(p.ratio)},"shuffle_b1":${p.b1},"shuffle_bMid":${p.bm},"shuffle_bN":${p.bn},"bytes_slope":${r3(p.slope)}$esc,"linear_ok":${p.ok}}"""
    }.mkString("{", ",", "}")
    val failed = rows.filterNot(_.ok)
    val metric = if (hot) "scale_probe_hotkey" else "scale_probe"
    println(s"""{"metric":"$metric","n":$n,"mid":$mid,"slack":$slack,"queries":$qJson,"n_superlinear":${failed.size},"base":"$baseDir","scaled":"$scaledDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
