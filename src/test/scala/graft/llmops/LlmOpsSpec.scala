package graft.llmops

import graft.{Registry, SparkSpec}
import org.apache.spark.sql.functions._

/** Semantic cross-checks for the approximate llmops queries — the ones
  * with no DuckDB oracle (SimHash, hyperplane-LSH ANN) are validated
  * here against their exact twins on sf0.001, and MinHash LSH (oracle-
  * paired since round 8 via md5-derived hash families) keeps its
  * independent recall check. All approximate paths are deterministic
  * (fixed hash functions / fixed seed), so these are stable assertions,
  * not flaky statistical ones. */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String) = Registry.byName(name).run(spark, sfDir)

  /** Planted corpus: the sf0.001/sf0.01 documents have NO exact-duplicate
    * texts (only sf0.1 does), so dedup recall is tested on a fixture with
    * known duplicate structure, written as a parquet dir the queries can
    * read like any sfDir. */
  private lazy val plantedDir: String = {
    val dir = tempDir("graft_test_planted")
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "mu", "nu")
    def sentence(): String = Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = Seq.fill(20)(sentence())
    val nearDup = { // one word swapped out of 30 -> 3-gram Jaccard ~ 0.82
      val toks = base.head.split(" "); toks(15) = "omega"; toks.mkString(" ")
    }
    val texts =
      base ++ // 20 distinct
        Seq(base(0), base(1), base(1)) ++ // exact dups: pair + triple
        Seq(nearDup)
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("MinHash LSH candidates find every exact-Jaccard >= 0.8 pair (planted corpus)") {
    val exact = Registry.byName("llm_e2_ngram_jaccard_pairs").run(spark, plantedDir)
      .filter($"jaccard" >= 0.8)
      .select($"da", $"db").as[(Long, Long)].collect().toSet
    val lsh = Registry.byName("llm_e2_minhash_lsh_candidates").run(spark, plantedDir)
      .select($"da", $"db").as[(Long, Long)].collect().toSet
    // planted: (0,20) exact, (1,21),(1,22),(21,22) exact triple, (0,23) near
    exact.size should be >= 5
    (exact -- lsh) shouldBe empty // full recall on the high-similarity band
  }

  test("MinHash estimated Jaccard tracks exact Jaccard") {
    val exact = run("llm_e2_ngram_jaccard_pairs")
      .select($"da", $"db", $"jaccard").as[(Long, Long, Double)]
      .collect().map { case (a, b, j) => (a, b) -> j }.toMap
    val est = run("llm_e2_minhash_lsh_candidates")
      .select($"da", $"db", $"est_jaccard").as[(Long, Long, Double)]
      .collect().map { case (a, b, j) => (a, b) -> j }.toMap
    val common = exact.keySet intersect est.keySet
    common should not be empty
    common.foreach { k =>
      withClue(s"pair $k exact=${exact(k)} est=${est(k)}: ") {
        math.abs(exact(k) - est(k)) should be < 0.35 // 16-hash signature noise
      }
    }
  }

  test("SimHash: identical texts collide at hamming 0 and are reported") {
    // exact duplicates (from llm_e1) must appear as hamming-0 simhash pairs
    val dups = Registry.byName("llm_e1_exact_dedup").run(spark, plantedDir)
      .filter($"n_copies" > 1).select($"canonical_id").as[Long].collect()
    dups should have size 2 // planted: one pair + one triple
    val simhash = Registry.byName("llm_e2_simhash_pairs").run(spark, plantedDir)
      .select($"da", $"db", $"hamming").as[(Long, Long, Long)].collect()
    val zero = simhash.filter(_._3 == 0L).map(p => (p._1, p._2)).toSet
    // every exact-dup cluster canonical must be in at least one hamming-0 pair
    dups.foreach { id =>
      withClue(s"canonical doc $id: ") {
        zero.exists(p => p._1 == id || p._2 == id) shouldBe true
      }
    }
  }

  test("ANN LSH top-k: bucketed neighbors carry the true cosine; recall vs exact > 0") {
    val exact = run("llm_e3_cosine_topk")
      .filter($"rn" === 1).select($"q_id", $"neighbor_id").as[(Long, Long)]
      .collect().toMap
    val ann = run("llm_e3_ann_lsh_topk")
      .select($"q_id", $"neighbor_id", $"cosine").as[(Long, Long, Double)].collect()
    ann should not be empty
    // cosine values in ANN output must match the exact scorer for the same pair
    val exactScores = run("llm_e3_cosine_topk")
      .select($"q_id", $"neighbor_id", $"cosine").as[(Long, Long, Double)]
      .collect().map { case (q, n, c) => (q, n) -> c }.toMap
    ann.foreach { case (q, n, c) =>
      exactScores.get((q, n)).foreach { ec =>
        withClue(s"pair ($q,$n): ") { c shouldBe ec }
      }
    }
    // single-table 8-bit LSH is lossy, but on this corpus it must find the
    // true top-1 for at least one query (deterministic given the fixed seed)
    val hits = ann.count { case (q, n, _) => exact.get(q).contains(n) }
    hits should be > 0
  }

  test("IVF top-k: candidates carry true cosines; nprobe=4/16 recall beats zero") {
    val exact = run("llm_e3_cosine_topk")
      .filter($"rn" === 1).select($"q_id", $"neighbor_id").as[(Long, Long)]
      .collect().toMap
    val exactScores = run("llm_e3_cosine_topk")
      .select($"q_id", $"neighbor_id", $"cosine").as[(Long, Long, Double)]
      .collect().map { case (q, n, c) => (q, n) -> c }.toMap
    val ivf = run("llm_e3_ivf_topk")
      .select($"q_id", $"neighbor_id", $"cosine").as[(Long, Long, Double)].collect()
    ivf should not be empty
    ivf.foreach { case (q, n, c) =>
      exactScores.get((q, n)).foreach { ec =>
        withClue(s"pair ($q,$n): ") { c shouldBe ec }
      }
    }
    // deterministic (seeded k-means): some queries' true top-1 lives in a
    // probed cell
    ivf.count { case (q, n, _) => exact.get(q).contains(n) } should be > 0
  }

  test("embed-cosine near-dup pairs: no false positives, full precision vs brute force") {
    // every reported pair must carry the true cosine and clear the
    // threshold; recall is the LSH trade-off (checked non-empty)
    val reported = run("llm_e2_embed_cosine_pairs")
      .select($"da", $"db", $"cosine").as[(Long, Long, Double)].collect()
    reported should not be empty
    val brute = run("llm_e3_cosine_topk") // reuses the exact scorer; recompute directly:
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("vec_id", "v",
        "sqrt(aggregate(transform(v, x -> x * x), 0D, (a, x) -> a + x)) AS nrm")
    val exact = emb.as("a").join(emb.as("b"), $"a.vec_id" < $"b.vec_id")
      .selectExpr("a.vec_id AS da", "b.vec_id AS db",
        "round(aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, (p, x) -> p + x) / (a.nrm * b.nrm), 4) AS cosine")
      .filter($"cosine" >= 0.4)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    reported.foreach { case (a, b, c) =>
      withClue(s"pair ($a,$b): ") { exact.get((a, b)) shouldBe Some(c) }
    }
    brute should not be null
  }

  test("connected components: chains collapse to min label across rounds") {
    // path graph 5-4, 4-3, 3-2, 2-1 plus isolated 10: labels must
    // propagate the min (1) down the whole chain — requires multiple
    // propagation rounds, not a single hop
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 10L).toDF("doc_id")
    val edges = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)).toDF("da", "db")
    val labels = LlmOps.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    labels shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 10L -> 10L)
  }

  test("connected components: pointer jumping covers diameters far past maxIter") {
    // a 120-node path has diameter 119 — six times the round cap — so
    // plain per-hop propagation would exit unconverged (and now throws);
    // path halving must collapse it to the min label within ~log2 rounds
    val n = 120L
    val nodes = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("da", "db")
    val labels = LlmOps.connectedComponents(nodes, edges, maxIter = 20)
      .as[(Long, Long)].collect().toMap
    labels.values.toSet shouldBe Set(1L)
    labels.keySet shouldBe (1L to n).toSet
  }

  test("star edges are linear: k-1 edges per duplicate group, all anchored at the min") {
    // the SHAPE pin for the star contract (the cluster-label test below
    // cannot distinguish star from pairwise — both yield the same
    // labels): a 300-member hash group must emit exactly 299 edges,
    // every one (min, member); a singleton group emits none
    val h = ((0L until 300L).map(i => (i, "h1")) :+ (1000L, "h2"))
      .toDF("doc_id", "content_hash")
    val edges = LlmOps.exactStarEdges(h)
      .as[(Long, Long)].collect().sortBy(_._2)
    edges.length shouldBe 299
    edges.map(_._1).toSet shouldBe Set(0L)
    edges.map(_._2).toList shouldBe (1L until 300L).toList
  }

  test("a heavy exact-duplicate group collapses to its min doc_id (star edges)") {
    // web-corpus shape: ONE boilerplate string duplicated many times.
    // The exact-edge build must emit a star (k-1 edges, canonical = min
    // doc_id), not the k(k-1)/2 pairwise join — this fixture is the
    // regression pin for that contract: 300 copies + 5 distinct docs,
    // every copy labeled with the min id, distinct docs untouched.
    val dir = tempDir("graft_test_heavygroup")
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "mu", "nu")
    def sentence(): String = Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val boiler = sentence()
    val texts = Seq.fill(300)(boiler) ++ Seq.fill(5)(sentence())
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val clusters = Registry.byName("llm_e2_dedup_clusters").run(spark, dir)
      .as[(Long, Long)].collect().toMap
    clusters.size shouldBe 305
    (0L until 300L).foreach(i => clusters(i) shouldBe 0L)
  }

  test("dedup clusters put planted exact+near dups in one cluster") {
    val clusters = Registry.byName("llm_e2_dedup_clusters").run(spark, plantedDir)
      .as[(Long, Long)].collect().toMap
    // planted: 0 == 20 (exact), 0 ~ 23 (near) -> {0,20,23} share a cluster;
    // 1 == 21 == 22 (triple)
    clusters(20L) shouldBe clusters(0L)
    clusters(23L) shouldBe clusters(0L)
    clusters(21L) shouldBe clusters(1L)
    clusters(22L) shouldBe clusters(1L)
    clusters(0L) should not be clusters(1L)
  }

  test("exact dedup groups agree with distinct-count stats") {
    val byHash = run("llm_e1_exact_dedup").agg(
      sum($"n_copies").as("total"), count(lit(1)).as("unique"))
      .as[(Long, Long)].head()
    val stats = run("llm_e1_dedup_stats")
      .select($"n_total", $"n_unique").as[(Long, Long)].head()
    byHash shouldBe stats
  }

  test("decontamination flags the planted eval-overlap docs") {
    // plantedDir: doc 0 (0 % 50 == 0) is the eval split; doc 20 is its
    // exact copy and doc 23 its one-word-edit near-dup — both share
    // plenty of 5-grams with it and MUST be flagged as contaminated
    val out = Registry.byName("llm_e2_decontamination").run(spark, plantedDir)
      .select($"doc_id", $"n_eval_docs", $"n_shared_ngrams")
      .as[(Long, Long, Long)].collect()
    val flagged = out.map(_._1).toSet
    // EXACT set: the copy and the near-dup, and nothing else — in
    // particular docs 1/21/22 (an exact-dup cluster of a NON-eval doc)
    // must stay clean, so an implementation that over-flags fails here
    flagged shouldBe Set(20L, 23L)
    // the exact copy shares its entire (distinct) 5-gram set
    val copy = out.find(_._1 == 20L).get
    copy._3 should be >= 20L
  }

  test("repeated spans: planted dup clusters yield exactly the expected span index") {
    // plantedDir docs are 30 tokens -> 23 windows of spanN=8 per doc.
    // doc 20 == doc 0; doc 23 == doc 0 with token 15 swapped, so the 8
    // windows covering index 15 (starts 8..15) lose doc 23; docs 1==21==22.
    val spans = Registry.byName("llm_e2_repeated_spans").run(spark, plantedDir)
      .select($"first_doc", $"n_docs", $"n_occurrences")
      .as[(Long, Long, Long)].collect()
    val from0 = spans.filter(_._1 == 0L)
    from0.length shouldBe 23
    from0.count(_._2 == 3L) shouldBe 15 // shared by 0, 20 AND the near-dup 23
    from0.count(_._2 == 2L) shouldBe 8  // the swapped-token windows: 0, 20 only
    val from1 = spans.filter(_._1 == 1L)
    from1.length shouldBe 23
    from1.foreach { case (_, nDocs, nOcc) => nDocs shouldBe 3L; nOcc shouldBe 3L }
    // and NOTHING else repeats: the 20 base docs are random 30-token
    // draws from a 12-word vocab (12^8 possible 8-grams), so the index
    // is exactly the planted structure
    spans.length shouldBe 46
  }

  test("dedup apply keeps exactly the canonical docs with their merge counts") {
    val out = Registry.byName("llm_e2_dedup_apply").run(spark, plantedDir)
      .select($"doc_id", $"n_merged").as[(Long, Long)].collect().toMap
    // planted: {0,20,23} and {1,21,22} collapse; 24 docs -> 20 survivors
    out.keySet shouldBe (0L to 19L).toSet
    out(0L) shouldBe 3L
    out(1L) shouldBe 3L
    (2L to 19L).foreach { id => withClue(s"doc $id: ") { out(id) shouldBe 1L } }
  }

  test("span cut keeps canonical docs intact and excises copies down to their novel tokens") {
    val out = Registry.byName("llm_e2_span_cut").run(spark, plantedDir)
      .select($"doc_id", $"n_tokens", $"n_removed", $"cleaned_text")
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    // canonical (first) docs keep their text untouched
    out(0L)._2 shouldBe 0L
    out(1L)._2 shouldBe 0L
    // exact copies are excised entirely
    Seq(20L, 21L, 22L).foreach { id =>
      withClue(s"doc $id: ") { out(id) shouldBe ((30L, 30L, "")) }
    }
    // the near-dup of doc 0 differs only at token 15 ("omega"): every
    // window NOT covering that position is shared with doc 0, so the cut
    // leaves exactly the one novel token
    out(23L) shouldBe ((30L, 29L, "omega"))
    // untouched singletons lose nothing
    (2L to 19L).foreach { id =>
      withClue(s"doc $id: ") { out(id)._2 shouldBe 0L }
    }
  }

  test("long repeats: planted arbitrary-length blocks come out as single maximal runs") {
    val dir = tempDir("graft_test_longrep")
    // unique filler per (doc, position) so NOTHING repeats by accident;
    // shared blocks sa (20 tokens), sb (12 tokens), sc (7 tokens < spanN)
    def fill(d: String, n: Int, from: Int = 0) =
      (from until from + n).map(i => f"$d$i%03d")
    val sa = (1 to 20).map(i => f"sa$i%02d")
    val sb = (1 to 12).map(i => f"sb$i%02d")
    val sc = (1 to 7).map(i => f"sc$i%02d")
    val docs = Seq(
      (1L, (fill("a", 5) ++ sa ++ fill("a", 5, 5)).mkString(" ")),   // sa at 5..24
      (2L, (fill("b", 11) ++ sa ++ fill("b", 3, 11)).mkString(" ")), // sa at 11..30
      (3L, (sa ++ fill("c", 10) ++ sb).mkString(" ")),               // sa at 0, sb at 30
      (4L, (fill("d", 4) ++ sb).mkString(" ")),                      // sb at 4
      (5L, (fill("e", 6) ++ sc ++ fill("e", 6, 6)).mkString(" ")),   // sc: sub-spanN
      (6L, (fill("f", 6) ++ sc ++ fill("f", 6, 6)).mkString(" ")))
    docs.map { case (id, t) => (id, t, "en", "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.byName("llm_e2_long_repeats").run(spark, dir)
      .select($"doc_id", $"start_pos", $"n_tokens", $"n_windows", $"span_text")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    val saText = sa.mkString(" ")
    val sbText = sb.mkString(" ")
    // each 20-token sa block is ONE maximal run (13 chained windows),
    // never 13 separate 8-token rows; sb likewise (5 windows); the
    // 7-token sc block is below spanN and must NOT be reported at all
    got shouldBe Seq(
      (1L, 5L, 20L, 13L, saText),
      (2L, 11L, 20L, 13L, saText),
      (3L, 0L, 20L, 13L, saText),
      (3L, 30L, 12L, 5L, sbText),
      (4L, 4L, 12L, 5L, sbText))
  }

  test("text scrub masks lexicon terms and redacts planted email/IPv4 patterns") {
    val dir = tempDir("graft_test_scrub")
    Seq(
      (1L, "contact bob@example.com at 10.0.0.1 customer spark says customer", "en", "fixture", 0L),
      (2L, "plain words only here", "en", "fixture", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Registry.byName("llm_e4_text_scrub").run(spark, dir)
      .select($"doc_id", $"scrubbed", $"n_masked_terms", $"n_emails", $"n_ips")
      .as[(Long, String, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4, t._5)).toMap
    r(1L) shouldBe (("contact <EMAIL> at <IP> <TERM> <TERM> says <TERM>", 3L, 1L, 1L))
    r(2L) shouldBe (("plain words only here", 0L, 0L, 0L))
  }

  test("eval-NN semantic decontamination matches a driver-side brute-force replay") {
    val out = Registry.byName("llm_e3_eval_nn").run(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .map { case (id, e) => id -> e.map(_.toDouble) }
    val (ev, tr) = vecs.partition(_._1 % 50 == 0)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      // the engine's q4 tie-free quantization, replayed exactly:
      // y = x*1e4 + 0.5; (y - y%1) / 1e4 (Scala % on doubles == the
      // IEEE fmod both engines use)
      val y = d / (math.sqrt(na) * math.sqrt(nb)) * 10000.0 + 0.5
      (y - (y % 1.0)) / 10000.0
    }
    out.length shouldBe tr.length // one row per training vector
    val trMap = tr.toMap
    out.foreach { case (trainId, evalId, c) =>
      val scored = ev.map { case (eid, evec) => (eid, cos(trMap(trainId), evec)) }
      val best = scored.minBy { case (eid, s) => (-s, eid) }
      withClue(s"train $trainId: ") { (evalId, c) shouldBe best }
    }
  }

  test("unigram surprisal: rare-token doc scores higher, values match closed form") {
    val dir = tempDir("graft_test_surprisal")
    Seq(
      (1L, "a a a a", "en", "fixture", 0L),
      (2L, "a a a b", "en", "fixture", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Registry.byName("llm_e4_unigram_logprob").run(spark, dir)
      .select($"doc_id", $"n_toks", $"avg_neg_logprob")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // tf: a=7, b=1, N=8 -> score = ln(N) - mean(ln(count(tok)))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    r(1L) shouldBe ((4L, r4(math.log(8) - math.log(7))))
    r(2L) shouldBe ((4L, r4(math.log(8) - 3 * math.log(7) / 4)))
    r(2L)._2 should be > r(1L)._2 // the rare token makes doc 2 more surprising
  }

  test("repetition ratio: planted repetitive doc scores high, distinct doc zero") {
    val dir = tempDir("graft_test_repetition")
    Seq(
      (1L, "spam spam spam spam spam spam", "en", "fixture", 0L), // 5 bigrams, 1 distinct
      (2L, "one two three four five six", "en", "fixture", 0L)    // all distinct
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Registry.byName("llm_e4_repetition_ratio").run(spark, dir)
      .select($"doc_id", $"dup_bigram_ratio", $"repetition_ok")
      .as[(Long, Double, Boolean)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    r(1L)._1 shouldBe (1.0 - 1.0 / 5.0) // 0.8 duplicate-bigram fraction
    r(1L)._2 shouldBe false
    r(2L)._1 shouldBe 0.0
    r(2L)._2 shouldBe true
  }

  test("chunk windows: 32/24 overlap shape on a 50-token doc") {
    val dir = tempDir("graft_test_chunks")
    val toks = (1 to 50).map(i => s"w$i")
    Seq((1L, toks.mkString(" "), "en", "fixture", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Registry.byName("llm_e4_chunk_windows").run(spark, dir)
      .select($"chunk_idx", $"start_tok", $"n_chunk_toks", $"chunk_md5")
      .as[(Long, Long, Long, String)].collect()
    // starts 0, 24, 48 -> windows of 32, 26 (clamped), 2 (trailing) tokens
    r.map(c => (c._1, c._2, c._3)).toSeq shouldBe Seq((0L, 0L, 32L), (1L, 24L, 26L), (2L, 48L, 2L))
    // overlap: chunk 1 starts 8 tokens before chunk 0 ends (24 < 0 + 32)
    val c0 = r(0); val c1 = r(1)
    c1._2 should be < (c0._2 + c0._3)
    // fingerprints are over distinct windows -> distinct
    r.map(_._4).distinct should have size 3
  }

  test("domain mix: weight-1 domain keeps everything, rates honor weights") {
    val r = Registry.byName("llm_e4_domain_mix").run(spark, sfDir)
      .select($"lang", $"weight", $"n_docs", $"n_kept", $"kept_rate")
      .as[(String, Double, Long, Long, Double)].collect()
    r should not be empty
    r.foreach { case (lang, w, n, k, rate) =>
      withClue(s"$lang: ") {
        k should be <= n
        rate shouldBe k.toDouble / n
        if (w == 1.0) k shouldBe n // weight 1 = keep all, deterministically
      }
    }
    r.map(_._1) should contain("en")
  }

  test("df-cap drops a planted stop-shingle and bounds candidate fan-out") {
    // 20 docs all opening with the same hot 3-gram ("stop stop stop",
    // df = 20 = 100% of the corpus) followed by a per-doc unique tail —
    // the skew shape where one stop-shingle alone would contribute
    // C(20,2) = 190 candidate pairs with zero near-dup signal
    val dir = tempDir("graft_test_hot_shingle")
    (0 until 20).map(i => (i.toLong, s"stop stop stop u$i v$i w$i x$i", "en", "fixture", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val maxDf = 3
    def fanOut(idx: org.apache.spark.sql.DataFrame): Long =
      idx.groupBy($"s").agg(count(lit(1)).as("df"))
        .agg(coalesce(sum($"df" * ($"df" - 1)), lit(0L))).as[Long].head() / 2

    val uncapped = LlmOps.shingles(spark, dir)
    val capped = LlmOps.shinglesCapped(spark, dir, maxDf)

    // the hot shingle is present uncapped (df 20) and gone after the cap
    uncapped.filter($"s" === "stop stop stop").count() shouldBe 20
    capped.filter($"s" === "stop stop stop").count() shouldBe 0
    // every surviving shingle respects the cap...
    val maxSurvivingDf = capped.groupBy($"s").agg(count(lit(1)).as("df"))
      .agg(max($"df")).as[Long].head()
    maxSurvivingDf should be <= maxDf.toLong
    // ...so the inverted-index join fan-out is bounded by
    // n_shingles * C(maxDf, 2), while the uncapped index blows past it
    val nShingles = capped.select($"s").distinct().count()
    fanOut(capped) should be <= nShingles * maxDf * (maxDf - 1) / 2
    fanOut(uncapped) should be >= 190L // the stop-shingle's df² term alone
  }

  test("incremental dedup classifies batch docs against corpus and within batch") {
    // incoming = doc_id % 10 == 7; corpus = everything else. Planted:
    //   corpus 1:"A" 2:"B" 3:"C"
    //   batch  7:"A" (dup_of_corpus)  17:"X" (novel, first of pair)
    //          27:"X" (dup_in_batch)  37:"Y" (novel)  47:"B" (dup_of_corpus)
    val dir = tempDir("graft_test_incremental")
    Seq(
      (1L, "alpha beta gamma"), (2L, "delta eps zeta"), (3L, "eta theta iota"),
      (7L, "alpha beta gamma"), (17L, "kappa mu nu"), (27L, "kappa mu nu"),
      (37L, "xi omicron pi"), (47L, "delta eps zeta"))
      .map { case (i, t) => (i, t, "en", "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.byName("llm_e1_incremental_dedup").run(spark, dir)
      .as[(Long, String)].collect().toMap
    out shouldBe Map(
      7L -> "dup_of_corpus", 17L -> "novel", 27L -> "dup_in_batch",
      37L -> "novel", 47L -> "dup_of_corpus")
  }

  test("filter cascade attributes each doc to its FIRST failing rule") {
    val dir = tempDir("graft_test_cascade")
    def rep(w: String, n: Int) = Seq.fill(n)(w)
    val docs = Seq(
      // too short AND stopword-free: r1 must win (cascade order)
      0L -> "zz yy xx",
      // 20 diverse tokens, no stopword -> r2
      1L -> (1 to 20).map(i => s"word$i").mkString(" "),
      // has 'the', 20 tokens but only 2 distinct -> r3 (2/20 < 0.35)
      2L -> ("the " + rep("xxxxx", 19).mkString(" ")),
      // has 'the', diverse, but 2-char words -> mwl 2.05 < 3.9 -> r4
      3L -> ("the " + (1 to 19).map(i => f"${('a' + i % 26).toChar}${('b' + i / 26).toChar}").mkString(" ")),
      // clean: the + 19 distinct 5-char words, mwl 4.9 -> pass
      4L -> ("the " + (1 to 19).map(i => f"word$i%02d".take(6)).mkString(" ")))
    docs.map { case (i, t) => (i, t, "en", "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.byName("llm_e4_filter_cascade").run(spark, dir)
      .select($"doc_id", $"verdict").as[(Long, String)].collect().toMap
    out shouldBe Map(
      0L -> "r1_too_short", 1L -> "r2_no_stopword", 2L -> "r3_low_diversity",
      3L -> "r4_word_shape", 4L -> "pass")
  }

  test("pack efficiency is consistent with the pack frame it audits") {
    val packs = run("llm_e4_shuffle_pack")
      .agg(count(lit(1)), sum($"n_docs"), sum($"pack_tokens"))
      .as[(Long, Long, Long)].head()
    val eff = run("llm_e4_pack_efficiency")
      .select($"n_packs", $"n_docs", $"total_tokens", $"padded_tokens", $"efficiency_bp")
      .as[(Long, Long, Long, Long, Long)].head()
    (eff._1, eff._2, eff._3) shouldBe packs
    eff._4 should be >= eff._3          // padding only adds tokens
    eff._4 % 256 shouldBe 0L            // padded to the sequence length
    eff._5 should be <= 10000L          // efficiency is a fraction in bp
    eff._5 shouldBe (eff._3 * 10000L) / eff._4 // integer identity
  }

  test("llm_e4_heavy_hitters: sketch+verify equals the exhaustive threshold set") {
    import org.apache.spark.sql.functions.{explode, split => ssplit}
    val tok = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(ssplit(col("text"), " ", -1)).as("term"))
    val total = tok.count()
    val want = tok.groupBy("term").count().collect()
      .filter(r => r.getLong(1) * 30 >= total)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = run("llm_e4_heavy_hitters").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe want // the candidate superset never drops a true hitter
    // deterministic despite the partition-sensitive sketch pass
    run("llm_e4_heavy_hitters").collect().map(_.getString(0)).toSeq shouldBe
      got.keys.toSeq.sorted
  }

  test("llm_e3_knn_classify matches a driver-side brute-force vote replay") {
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val evs = embs.filter(_._1 % 50 == 0)
    val tr = embs.filter(_._1 % 50 != 0)
    val want = evs.map { case (eid, ev, trueLabel) =>
      val top5 = tr.map { case (tid, tv, lbl) => (cos(ev, tv), tid, lbl) }
        .sortBy { case (c, tid, _) => (-c, tid) }.take(5)
      val (votes, label) = top5.groupBy(_._3).view.mapValues(_.length).toSeq
        .maxBy { case (lbl, v) => (v, -lbl) }.swap
      eid -> (trueLabel, label, votes.toLong)
    }.toMap
    val got = run("llm_e3_knn_classify").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    got shouldBe want
  }

  test("llm_e4_ngram_novelty: first doc is fully novel; novel counts tile the span space") {
    val rows = run("llm_e4_ngram_novelty").collect()
    val first = rows.minBy(_.getLong(0))
    first.getDouble(3) shouldBe 1.0 // nothing precedes the first doc
    rows.foreach { r =>
      r.getLong(2) should be <= r.getLong(1) // novel <= distinct grams
      r.getDouble(3) shouldBe r.getLong(2).toDouble / r.getLong(1)
    }
    // every distinct span in the corpus is novel for exactly one doc
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    import org.apache.spark.sql.functions.{col, expr, size => asize, split => ssplit}
    val total = docs.select(col("doc_id"), ssplit(col("text"), " ", -1).as("t"))
      .filter(asize(col("t")) >= 8)
      .select(org.apache.spark.sql.functions.explode(
        expr("transform(sequence(0, size(t) - 8), i -> concat_ws(' ', slice(t, i + 1, 8)))"))
        .as("s"))
      .distinct().count()
    rows.map(_.getLong(2)).sum shouldBe total
  }

  test("eval-NN broadcast contract: an over-bound eval split fails fast naming the conf") {
    // the eval side of llm_e3_eval_nn / llm_e3_knn_classify is broadcast
    // by a FIXED-SIZE-eval contract; with the bound forced to 0 the plan
    // must refuse with the conf named instead of dying in Spark's
    // broadcast machinery at true scale (round-14 mandate #5)
    graft.SessionMemo.clear(spark) // drop any memoized eval_split_rows
    spark.conf.set("graft.evalBroadcast.maxRows", "0")
    try {
      val e = intercept[IllegalArgumentException] {
        run("llm_e3_eval_nn")
      }
      e.getMessage should include("graft.evalBroadcast.maxRows")
      e.getMessage should include("broadcast")
    } finally {
      spark.conf.unset("graft.evalBroadcast.maxRows")
      graft.SessionMemo.clear(spark) // drop the count memoized under bound 0
    }
    // and within the default bound both queries still construct + run
    run("llm_e3_eval_nn").count() should be > 0L
    run("llm_e3_knn_classify").count() should be > 0L
  }

  test("eval-NN broadcast contract boundary: rows == maxRows passes, maxRows - 1 raises") {
    // exact-boundary pin (round-14 mandate #7, the spine-cap symmetry):
    // the contract is rows <= maxRows, so the guard must admit the eval
    // split at EXACTLY the bound and refuse one below it
    val evalRows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.col("vec_id") % 50 === 0).count()
    assert(evalRows > 1, s"fixture eval split too small ($evalRows) to probe the boundary")
    graft.SessionMemo.clear(spark)
    spark.conf.set("graft.evalBroadcast.maxRows", evalRows.toString)
    try {
      run("llm_e3_eval_nn").count() should be > 0L // at the bound: admitted
      spark.conf.set("graft.evalBroadcast.maxRows", (evalRows - 1).toString)
      val e = intercept[IllegalArgumentException] { run("llm_e3_eval_nn") }
      e.getMessage should include(s"holds $evalRows vectors")
      e.getMessage should include(s"maxRows=${evalRows - 1}")
    } finally {
      spark.conf.unset("graft.evalBroadcast.maxRows")
      graft.SessionMemo.clear(spark)
    }
  }

  test("shingle index has SET semantics: one (doc_id, s) row per distinct pair under duplicate commits") {
    // the `.distinct()` in LlmOps.shingles is load-bearing (Jaccard <= 1
    // depends on it) but before this pin only DupKeySpec's end-to-end
    // gate would catch its removal (r15 verdict item 6). Direct unit
    // pin: a duplicate-COMMITTED doc row must not double its
    // (doc_id, shingle) pairs, and the planted exact-dup pair's
    // similarity stays exactly 1.0, the set-math ceiling.
    val dir = tempDir("graft_test_dupcommit")
    val docs = spark.read.parquet(s"$plantedDir/documents.parquet")
    docs.unionAll(docs.filter(col("doc_id") === 0)) // doc 0 committed twice
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.SessionMemo.clear(spark)
    try {
      val sh = LlmOps.shingles(spark, dir)
      val (total, distinct) = (sh.count(), sh.distinct().count())
      withClue("duplicate-committed doc fanned out the shingle index:") {
        total shouldBe distinct
      }
      val pairs = Registry.byName("llm_e2_ngram_jaccard_pairs").run(spark, dir)
        .select("da", "db", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      withClue("Jaccard exceeded the set-math ceiling of 1.0:") {
        all(pairs.values) should be <= 1.0
      }
      // doc 20 is base(0)'s exact copy in the planted corpus; doc 0 is
      // the duplicate-committed side — the pair must read exactly 1.0
      pairs((0L, 20L)) shouldBe 1.0
    } finally {
      graft.SessionMemo.clear(spark)
    }
  }

  test("bloom decontam: identical result to exact, no false negatives, real prefilter selectivity") {
    // the Bloom prefilter's contract is INVISIBILITY: admits false
    // positives only (removed by the exact join), never drops a true
    // positive — so the two queries must return the same row multiset
    val exact = Registry.byName("llm_e2_decontamination").run(spark, sfDir)
      .collect().map(_.toSeq).sorted(math.Ordering.by((s: Seq[Any]) => s.toString))
    val bloomed = Registry.byName("llm_e2_bloom_decontam").run(spark, sfDir)
      .collect().map(_.toSeq).sorted(math.Ordering.by((s: Seq[Any]) => s.toString))
    withClue("Bloom prefilter changed the decontamination result:") {
      bloomed shouldBe exact
    }
    // no false negatives: every distinct eval n-gram probes true under
    // the same UTF-8-byte contract the build used
    val bloom = LlmOps.decontamBloom(spark, sfDir)
    val evalNgrams = LlmOps.evalNgramIndex(spark, sfDir)
      .select("s").distinct().collect().map(_.getString(0))
    evalNgrams should not be empty
    evalNgrams.foreach { s =>
      withClue(s"eval n-gram '$s' dropped by the bloom (false negative):") {
        bloom.mightContainBinary(
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) shouldBe true
      }
    }
    // the prefilter actually prefilters: most train n-grams are NOT in
    // the eval set, so the survivor stream must be a strict subset
    import org.apache.spark.sql.functions.col
    val train = LlmOps.docNgrams(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 50 =!= 0), LlmOps.decontamN)
    val total = train.count()
    val passed = train
      .filter(graft.functions.BloomExprs.bloomMightContain(col("s"), bloom))
      .count()
    withClue(s"prefilter passed $passed of $total train n-grams:") {
      passed should be < total
    }
  }

  test("bloom decontam plan: the probe filters the corpus stream; no broadcast ASSUMPTION on the eval join") {
    val qe = Registry.byName("llm_e2_bloom_decontam").run(spark, sfDir).queryExecution
    // the codegen'd probe is present as a plain filter on the n-gram
    // stream (below the join — it is the pre-exchange shrink)
    qe.optimizedPlan.toString should include("bloom_might_contain")
    // the plan carries no broadcast HINT: this operator's premise is an
    // index too big to broadcast, so any broadcast in the executed plan
    // must be AQE's runtime call, not the plan's assumption
    qe.analyzed.toString should not include "UnresolvedHint"
    qe.optimizedPlan.toString should not include "ResolvedHint"
  }
}
