package graft.llmops

import graft.{Registry, SparkSpec}

/** llm_e4_bpe_merges — BPE merge-table learning. Pinned three ways: a
  * full driver-side replay of classic BPE (pair counting weighted by
  * word frequency, (count DESC, l, r) argmax, leftmost-greedy apply)
  * against the corpus, hand-computed planted fixtures (exhaustion
  * before k, count ties), and the scale-bearing shape (the emitted
  * frame is a k-row local relation — all corpus work happened in the
  * bounded training jobs). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String, dir: String = sfDir) =
    Registry.byName(name).run(spark, dir)

  /** Classic BPE replay, independent of the engine's fold encoding. */
  private def replay(words: Map[String, Long], k: Int): Seq[(Int, String, String, String, Long)] = {
    def applyMerge(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toVector
    }
    var seqs: Map[Vector[String], Long] =
      words.toSeq.map { case (w, f) => w.toVector.map(_.toString) -> f }
        .groupMapReduce(_._1)(_._2)(_ + _)
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var step = 1
    var done = false
    while (step <= k && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      seqs.foreach { case (syms, f) =>
        (0 until syms.length - 1).foreach { i =>
          counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), cnt) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((step, l, r, l + r, cnt))
        seqs = seqs.toSeq.map { case (syms, f) => applyMerge(syms, l, r) -> f }
          .groupMapReduce(_._1)(_._2)(_ + _)
        step += 1
      }
    }
    out.toSeq
  }

  private def gotMerges(dir: String): Seq[(Int, String, String, String, Long)] =
    run("llm_e4_bpe_merges", dir).collect().toSeq.map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))

  test("llm_e4_bpe_merges matches a full driver-side replay of classic BPE") {
    val words = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect()
      .flatMap(r => Option(r.getString(0)).toSeq.flatMap(_.split(" ", -1)))
      .filter(_.matches("^[a-z]+$"))
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val expected = replay(words, BpeMerges.mergeK)
    val got = gotMerges(sfDir)
    got shouldBe expected
    // non-vacuous: iterations COMPOSE on this corpus — some later merge
    // consumes an earlier merge's output symbol
    got.exists(_._4.length >= 3) shouldBe true
  }

  test("llm_e4_bpe_merges: exhaustion before k stops the table early") {
    val dir = tempDir("graft_bpe_planted")
    Seq((1L, "ab ab ab cd", "en", "fx", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // hand-computed: (a,b) x3 merges first; then only (c,d) x1 remains;
    // after both, every word is a single symbol -> no pairs -> stop at 2
    gotMerges(dir) shouldBe Seq(
      (1, "a", "b", "ab", 3L), (2, "c", "d", "cd", 1L))
  }

  test("llm_e4_bpe_merges: count ties break on (l, r) ascending") {
    val dir = tempDir("graft_bpe_ties")
    Seq((1L, "xy xy xz xz", "en", "fx", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = gotMerges(dir)
    // (x,y) and (x,z) both count 2 -> r ascending picks (x,y) first
    got.take(2) shouldBe Seq((1, "x", "y", "xy", 2L), (2, "x", "z", "xz", 2L))
  }

  test("llm_e4_bpe_encode matches a driver-side replay of merge application") {
    def applyMerge(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toVector
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)))
    val words = docs.flatMap(_._2.toSeq.flatMap(_.split(" ", -1)))
      .filter(_.matches("^[a-z]+$"))
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val merges = replay(words, BpeMerges.mergeK)
    def nSub(w: String): Long =
      if (!w.matches("^[a-z]+$")) 1L
      else merges.foldLeft(w.toVector.map(_.toString)) {
        case (syms, (_, l, r, _, _)) => applyMerge(syms, l, r)
      }.length.toLong
    val expected = docs.map { case (id, t) =>
      val ws = t.toSeq.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
      if (ws.isEmpty) id -> ((0L, 0L, None: Option[Double]))
      else {
        val sub = ws.map(nSub).sum
        val fert = { val y = sub.toDouble / ws.length * 10000.0 + 0.5; (y - (y % 1.0)) / 10000.0 }
        id -> ((ws.length.toLong, sub, Some(fert)))
      }
    }.toMap
    val got = run("llm_e4_bpe_encode").collect()
    got.length shouldBe expected.size
    got.foreach { r =>
      val id = r.getLong(0)
      withClue(s"doc $id:") {
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))) shouldBe expected(id)
      }
    }
  }

  test("llm_e4_bpe_encode is total: a wordless doc reports 0/0 with NULL fertility") {
    val dir = tempDir("graft_bpe_wordless")
    Seq((1L, "ab ab xy", "en", "fx", 8L), (2L, null.asInstanceOf[String], "en", "fx", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("llm_e4_bpe_encode", dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    got(2L) shouldBe ((0L, 0L, None))
    got(1L)._1 shouldBe 3L
  }

  test("llm_e4_bpe_encode plan: merge folds run on the memoized vocab, not corpus rows") {
    // the vocab branch reads the persisted bpe_words frame — encode cost
    // is O(vocab); the corpus side is only a word-keyed join + doc agg
    val plan = run("llm_e4_bpe_encode").queryExecution.executedPlan.toString
    plan should include("InMemoryTableScan")
  }

  test("llm_e4_bpe_merges plan: the emitted frame is a k-row local relation") {
    // the corpus never flows through the output plan — training ran in
    // bounded jobs (one memoized corpus pass + vocab-bounded rounds),
    // and the merge table itself is driver-held k rows
    val df = run("llm_e4_bpe_merges")
    val plan = df.queryExecution.optimizedPlan.toString
    withClue(plan) {
      plan should include("LocalRelation")
      (plan should not).include("parquet")
    }
    df.count() should be <= BpeMerges.mergeK.toLong
  }
}
