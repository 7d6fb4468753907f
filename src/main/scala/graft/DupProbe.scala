package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-heavy-corpus probe for the near-dup family's df-cap
  * (round-13 mandate #3): both ScaleProbe axes EXCLUDE `llm_e2_*`
  * because replication makes candidate-pair counts quadratic as a
  * corpus property, which left the shingle df-cap's 100 TB bounding
  * claim argued from code. This main measures it: re-encode the
  * sfDir's documents so K% of them share one template text (half
  * byte-identical, half near-identical — template + a unique suffix
  * token), then record candidate-pair counts and wall time vs K.
  *
  * What the cap (`shinglesCapped`, maxDf = 1000) should do: a clique
  * of D duplicated docs gives every template shingle df ≈ D, so the
  * UNCAPPED inverted-index join materializes Θ(D²) candidate pairs
  * per shingle — at K = 90% of a 5000-doc corpus that is ~10M pairs
  * from ~50 shingles (≈ 500M join rows). With the cap, any shingle
  * with df > 1000 is dropped from candidate generation entirely
  * (both engines, identically), so once the clique outgrows the cap
  * its template shingles vanish from the index and capped candidate
  * counts FALL back to the suffix-shingle residue — bounded, never
  * quadratic. Exact duplicates remain catchable by design via E1
  * (sha256 exact dedup), which is cap-free and linear.
  *
  * Measured per K: wall time of the full `llm_e2_ngram_jaccard_pairs`
  * query (memo cleared first, so the shingle-index build is paid
  * inside), capped candidate pairs (≥1 shared surviving shingle —
  * the join's output cardinality before any threshold), LSH candidate
  * pairs (the `llm_e2_minhash_lsh_candidates` result), and the
  * analytic clique-pair count C(D,2) that an uncapped join would pay
  * at minimum. The uncapped join is MEASURED only where it is safely
  * small (df < cap, i.e. the clique below the cap) — past the cap the
  * analytic count documents what the cap saved without burning an
  * hour materializing it; pass `uncapped` as a trailing arg to force
  * the measurement at every K.
  *
  * RECALL against planted truth (round-14 mandate): every pair inside
  * the duplicate group is a true near-dup by construction, so each K
  * point also records recall = |reported pairs with both endpoints
  * planted| / C(n_dup, 2), for the exact-Jaccard query, the LSH
  * candidates, and the raw capped candidate join (plus the uncapped
  * join where measured — expected 1.0). Past the cap the template
  * shingles are dropped, so near-dup recall on the clique is
  * INTENTIONALLY sacrificed (the measured trade); the byte-identical
  * half of the group (`exact_dedup_covered_pairs`) remains catchable
  * by the cap-free E1 sha256 dedup.
  *
  * Usage: `runMain graft.DupProbe [sfDir] [K…] [uncapped]`
  * (defaults: sf0.1, K ∈ {10, 50, 90}). Dirs are cached under
  * /tmp/graft_dup_v<recipe>_<K>pct_<key> and are full sfDirs (non-document
  * tables copied verbatim), so they double as Verify/check.py gate
  * inputs — the round-13 mandate's "oracle gate green on the
  * duplicate-heavy dir". */
object DupProbe {

  /** Cache-recipe version: folded into the cached dir name so a change
    * to the duplicate-encoding recipe below (template selection, suffix
    * scheme, membership rule) invalidates every previously-built
    * /tmp dir — the `_DUP_OK` marker alone would let the probe AND
    * DupCapSpec silently keep measuring the OLD encoding (round-13
    * driver advisory). Bump on any semantic change to [[buildDupDir]]. */
  private val dupRecipeVersion = 2

  /** Build (or reuse) the K%-duplicate re-encoding of `baseDir`. */
  private[graft] def buildDupDir(spark: SparkSession, baseDir: String, k: Int): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_dup_v${dupRecipeVersion}_${k}pct_${T.scratchKey(baseDir)}"
    val marker = java.nio.file.Paths.get(s"$dir/_DUP_OK")
    if (java.nio.file.Files.exists(marker)) return dir
    T.tableNames.foreach { t =>
      val base = T(spark, baseDir, t)
      val out =
        if (t != "documents") base
        else {
          // deterministic template: the text of the smallest doc_id
          val template = base.orderBy("doc_id").select("text")
            .limit(1).collect()(0).getString(0)
          // doc_id % 100 < K joins the duplicate group; even members are
          // byte-identical, odd members append one unique token (a
          // near-dup: shared shingles dominate, one unique suffix
          // shingle run survives any cap)
          base.withColumn("text",
            when(col("doc_id") % 100 < k,
              when(col("doc_id") % 2 === 0, lit(template))
                .otherwise(concat(lit(template), lit(" uniq"), col("doc_id"))))
              .otherwise(col("text")))
        }
      out.coalesce(4).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    java.nio.file.Files.write(marker, Array.emptyByteArray)
    dir
  }

  /** Distinct doc pairs sharing ≥1 shingle of the given index — the
    * inverted-index join's candidate cardinality — plus the subset with
    * BOTH endpoints inside the planted duplicate group (doc_id%100 < k),
    * the numerator of candidate-level recall against the planted truth. */
  private def candidateCounts(sh: DataFrame, k: Int): (Long, Long) = {
    val pairs = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
    val agg = pairs.agg(count(lit(1)).as("n"),
      count(when(col("da") % 100 < k && col("db") % 100 < k, 1)).as("planted"))
      .collect()(0)
    (agg.getLong(0), agg.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val (dirArgs, restArgs) = args.partition(a =>
      a.startsWith("/") && new java.io.File(a).isDirectory)
    val forceUncapped = restArgs.contains("uncapped")
    val kArgs = restArgs.filterNot(_ == "uncapped")
    // fail loudly on anything that is neither an existing absolute dir,
    // a K percentage, nor the "uncapped" flag — a relative or mistyped
    // path silently dropped here would produce receipts for the WRONG
    // corpus (the probe would fall back to the default sfDir)
    val bad = kArgs.filter(a => scala.util.Try(a.toInt).isFailure)
    require(bad.isEmpty,
      s"unrecognized args ${bad.mkString(", ")} — dirs must be absolute paths " +
        "to existing directories; other args are K percentages or 'uncapped'")
    // one base corpus per invocation: a second dir silently dropped here
    // would produce receipts labeled for the wrong corpus
    require(dirArgs.length <= 1,
      s"at most one base dir accepted, got ${dirArgs.mkString(", ")} — " +
        "run the probe once per corpus")
    val ks = kArgs.map(_.toInt) match {
      case Array() => Seq(10, 50, 90)
      case some => some.toSeq
    }
    val baseDir = dirArgs.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cap = 1000 // mirrors LlmOps.jaccardMaxDf (and the oracle SQL)
    val spark = GraftSession.local("32")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val rows = ks.map { k =>
      val dir = buildDupDir(spark, baseDir, k)
      SessionMemo.clear(spark)
      val nDup = T(spark, dir, "documents")
        .filter(col("doc_id") % 100 < k).count()
      // full-query walls: memo cleared before EACH timed run, so both
      // pipelines pay their own shingle-index build — without the
      // second clear the LSH wall would reuse the index the jaccard
      // run pinned and understate the duplicate-heavy cost
      val plantedPred = col("da") % 100 < k && col("db") % 100 < k
      val (outJac, wallJac) = timed {
        val out = Registry.byName("llm_e2_ngram_jaccard_pairs").run(spark, dir)
        out.write.format("noop").mode("overwrite").save()
        out
      }
      // recall numerator: reported pairs with both endpoints planted.
      // Counted OUTSIDE the timed block (r14 advice): `timed` measures
      // the whole block, so an in-block count — however warm — would be
      // part of wall_jaccard_sec; the noop write above is what closes
      // the wall, and this re-count reuses the memoized pair frame.
      val plantedJac = outJac.filter(plantedPred).count()
      SessionMemo.clear(spark)
      val ((lshPairs, plantedLsh), wallLsh) = timed {
        val out = Registry.byName("llm_e2_minhash_lsh_candidates").run(spark, dir)
        val agg = out.agg(count(lit(1)), count(when(plantedPred, 1))).collect()(0)
        (agg.getLong(0), agg.getLong(1))
      }
      val (capped, plantedCapped) =
        candidateCounts(llmops.LlmOps.shinglesCapped(spark, dir, cap), k)
      // clique size D = identical members (even doc_ids) — the analytic
      // floor of what an uncapped join materializes for the template
      val cliqueD = T(spark, dir, "documents")
        .filter(col("doc_id") % 100 < k && col("doc_id") % 2 === 0).count()
      val cliquePairs = cliqueD * (cliqueD - 1) / 2
      // planted ground truth: EVERY pair inside the duplicate group is a
      // true near-dup (all members share the full template shingle run;
      // odd members differ by one unique suffix token), so recall
      // denominators are C(n_dup, 2); the E1-catchable (byte-identical)
      // subset is C(cliqueD, 2) — exact dedup stays cap-free, so that
      // fraction survives even where the cap drops the template shingles
      val plantedTruth = nDup * (nDup - 1) / 2
      // uncapped measured only while safely small (clique under the cap)
      val uncapped: Option[((Long, Long), Double)] =
        if (nDup <= cap || forceUncapped)
          Some(timed(candidateCounts(llmops.LlmOps.shinglesCapped(spark, dir, Int.MaxValue), k)))
        else None
      SessionMemo.clear(spark)
      def rec(n: Long): String =
        if (plantedTruth == 0) "null" else T.jdec(n.toDouble / plantedTruth, 4)
      val unc = uncapped.map { case ((c, p), w) =>
        s""","uncapped_candidates":$c,"uncapped_sec":${T.jdec(w, 3)},"recall_candidates_uncapped":${rec(p)}"""
      }.getOrElse("")
      s""""k$k":{"n_dup":$nDup,"wall_jaccard_sec":${T.jdec(wallJac, 3)},"wall_lsh_sec":${T.jdec(wallLsh, 3)},"capped_candidates":$capped,"lsh_candidates":$lshPairs,"clique_pairs_analytic":$cliquePairs,"planted_true_pairs":$plantedTruth,"exact_dedup_covered_pairs":$cliquePairs,"recall_jaccard_capped":${rec(plantedJac)},"recall_lsh_capped":${rec(plantedLsh)},"recall_candidates_capped":${rec(plantedCapped)}$unc,"dir":"$dir"}"""
    }
    println(s"""{"metric":"dup_probe","cap":$cap,"ks":${ks.mkString("[", ",", "]")},"points":${rows.mkString("{", ",", "}")},"base":"$baseDir"}""")
    spark.stop()
  }
}
