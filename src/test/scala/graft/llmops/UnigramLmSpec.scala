package graft.llmops

import graft.{Registry, SparkSpec}

/** llm_e4_unigram_lm — SentencePiece-style unigram-LM tokenizer
  * training. Pinned the BpeSpec way: a full driver-side replay of the
  * algorithm (seed substring counts, statically-bounded Viterbi with
  * the longest-first strict-greater tie-break, floor(multi/4) prune by
  * (usage, piece), add-one M-step on the ln7 grid) against the corpus,
  * planted boundary fixtures, and the scale-bearing shape (the emitted
  * vocabulary is a driver-held local relation — corpus work happened
  * in the bounded training jobs). */
class UnigramLmSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String, dir: String = sfDir) =
    Registry.byName(name).run(spark, dir)

  private def ln7d(x: Double): Double = {
    val y = math.log(x) * 1.0e7
    y - (y % 1.0)
  }

  /** Viterbi under the piece log-prob map: candidates longest-first,
    * replaced only by a STRICTLY better score. */
  private def viterbi(word: String, lp: Map[String, Double]): Seq[String] = {
    val dp = new Array[Option[(Double, List[String])]](word.length + 1)
    dp(0) = Some((0.0, Nil))
    for (i <- 1 to word.length) {
      var best: Option[(Double, List[String])] = None
      for (len <- math.min(i, UnigramLm.maxPieceLen) to 1 by -1) {
        val j = i - len
        (dp(j), lp.get(word.substring(j, i))) match {
          case (Some((sc, seg)), Some(l)) =>
            if (best.isEmpty || sc + l > best.get._1)
              best = Some((sc + l, seg :+ word.substring(j, i)))
          case _ =>
        }
      }
      dp(i) = best
    }
    dp(word.length).get._2
  }

  /** Full training replay, independent of the engine's DP encoding;
    * returns (piece, usage, GRID log-prob). */
  private def replayGrid(words: Map[String, Long]): Seq[(String, Long, Double)] = {
    val ws = words.filter { case (w, _) => w.length <= UnigramLm.maxWordLen }
    val pieceCnt = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    ws.foreach { case (w, f) =>
      for (i <- 0 until w.length;
           len <- 1 to math.min(UnigramLm.maxPieceLen, w.length - i))
        pieceCnt(w.substring(i, i + len)) += f
    }
    val chars = pieceCnt.toSeq.filter(_._1.length == 1)
    val multi = pieceCnt.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, c) => (-c, p) }.take(UnigramLm.seedMultiV)
    val seed = chars ++ multi
    if (seed.isEmpty) return Seq.empty
    val total = seed.map(_._2).sum
    var vocab: Seq[(String, Long, Double)] =
      seed.map { case (p, c) => (p, c, ln7d(c.toDouble) - ln7d(total.toDouble)) }
    for (_ <- 1 to UnigramLm.emRounds) {
      val lp = vocab.map(v => (v._1, v._3)).toMap
      val usage = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      ws.foreach { case (w, f) => viterbi(w, lp).foreach(p => usage(p) += f) }
      val multiP = vocab.map(_._1).filter(_.length > 1)
      val dropped = multiP.sortBy(p => (usage(p), p)).take(multiP.size / 4).toSet
      val survivors = vocab.map(_._1).filterNot(dropped)
      val totalU = survivors.map(usage(_)).sum + survivors.size
      vocab = survivors.map(p =>
        (p, usage(p), ln7d(usage(p) + 1.0) - ln7d(totalU.toDouble)))
    }
    vocab.map { case (p, u, g) => (p, u, g) }.sortBy(_._1)
  }

  /** [[replayGrid]] with logp on the output (grid / 1e7) scale. */
  private def replay(words: Map[String, Long]): Seq[(String, Long, Double)] =
    replayGrid(words).map { case (p, u, g) => (p, u, g / 1.0e7) }

  private def corpusWords(dir: String): Map[String, Long] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect()
      .flatMap(r => Option(r.getString(0)).toSeq.flatMap(_.split(" ", -1)))
      .filter(_.matches("^[a-z]+$"))
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }

  private def got(dir: String): Seq[(String, Long, Double)] =
    run("llm_e4_unigram_lm", dir).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))

  test("llm_e4_unigram_lm matches a full driver-side replay") {
    val words = corpusWords(sfDir)
    val expected = replay(words)
    val g = got(sfDir)
    g shouldBe expected
    // non-vacuous on this corpus: a multi-char piece survives with uses
    g.exists(v => v._1.length > 1 && v._2 > 0) shouldBe true
    // totality: every single character of a training word survives
    val charsNeeded = words.keys.filter(_.length <= UnigramLm.maxWordLen)
      .flatMap(_.toSeq).map(_.toString).toSet
    charsNeeded.subsetOf(g.map(_._1).toSet) shouldBe true
  }

  test("training ignores non-ascii and over-long words entirely") {
    val dir = tempDir("graft_unigram_skip")
    Seq((1L, "ÅÅÅ 123 superlongword", "en", "fx", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    got(dir) shouldBe Seq.empty
  }

  test("a repetitive corpus learns its repeated chunk as a piece") {
    val dir = tempDir("graft_unigram_rep")
    Seq((1L, "abab abab abab cd", "en", "fx", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val g = got(dir)
    // replay agreement on the planted corpus
    g shouldBe replay(Map("abab" -> 3L, "cd" -> 1L))
    // the word itself is in the substring seed and must win its own
    // segmentation: usage 3 (freq-weighted), pieces a/b starved to 0
    val byPiece = g.map(v => v._1 -> v._2).toMap
    byPiece.get("abab") shouldBe Some(3L)
    byPiece("a") shouldBe 0L
    byPiece("b") shouldBe 0L
  }

  test("llm_e4_unigram_encode matches a driver-side replay") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)))
    val lp = replayGrid(corpusWords(sfDir)).map(v => (v._1, v._3)).toMap
    def nSub(w: String): Long =
      if (!w.matches("^[a-z]+$") || w.length > UnigramLm.maxWordLen) 1L
      else viterbi(w, lp).length.toLong
    val expected = docs.map { case (id, t) =>
      val ws = t.toSeq.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
      if (ws.isEmpty) id -> ((0L, 0L, None: Option[Double]))
      else {
        val pieces = ws.map(nSub).sum
        val fert = {
          val y = pieces.toDouble / ws.length * 10000.0 + 0.5
          (y - (y % 1.0)) / 10000.0
        }
        id -> ((ws.length.toLong, pieces, Some(fert)))
      }
    }.toMap
    val got = run("llm_e4_unigram_encode").collect()
    got.length shouldBe expected.size
    got.foreach { r =>
      val id = r.getLong(0)
      withClue(s"doc $id:") {
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))) shouldBe expected(id)
      }
    }
    // non-vacuous: real fertility values exist, and the vocabulary does
    // more than char-split somewhere (fertility < word length everywhere
    // would need per-doc char counts; piece reuse is already pinned by
    // the training replay's multi-char-usage assertion)
    got.exists(r => r.getLong(1) > 0 && !r.isNullAt(3)) shouldBe true
  }

  test("plan: the emitted vocabulary is a local relation, corpus never in the output plan") {
    val df = run("llm_e4_unigram_lm")
    val plan = df.queryExecution.optimizedPlan.toString
    withClue(plan) {
      plan should include("LocalRelation")
      (plan should not).include("parquet")
    }
  }
}
