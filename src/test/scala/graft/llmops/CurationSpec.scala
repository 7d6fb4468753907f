package graft.llmops

import graft.{Registry, SparkSpec}
import org.apache.spark.sql.functions._

/** Round-17 curation ops: CCNet perplexity buckets, SemDeDup, min-count
  * vocabulary pruning. Each is pinned two ways: a driver-side replay (or
  * hand-reasoned planted fixture) for the semantics, and a plan assert
  * for the scale-bearing shape (what must broadcast, broadcasts). */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String, dir: String = sfDir) =
    Registry.byName(name).run(spark, dir)

  private def q4(x: Double): Double = { val y = x * 10000.0 + 0.5; (y - (y % 1.0)) / 10000.0 }

  // ------------------------------------------------------------------
  // llm_e4_mincount_prune
  // ------------------------------------------------------------------

  test("llm_e4_mincount_prune matches a driver-side replay of the rank-k cut") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val df = scala.collection.mutable.Map.empty[String, Set[Long]]
    docs.foreach { case (d, t) =>
      t.split(" ", -1).toSet.foreach((w: String) =>
        df(w) = df.getOrElse(w, Set.empty) + d)
    }
    val rare = df.toSeq.map { case (w, ds) => (ds.size, w) }
      .sorted.take(VocabPrune.pruneK).map(_._2).toSet
    val expected = docs.map { case (d, t) =>
      val toks = t.split(" ", -1)
      d -> (toks.map(w => if (rare(w)) "<UNK>" else w).mkString(" "),
        toks.count(rare).toLong)
    }.toMap
    val got = run("llm_e4_mincount_prune").collect()
    got.length shouldBe expected.size
    got.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      withClue(s"doc $d:") {
        r.getAs[String]("pruned") shouldBe expected(d)._1
        r.getAs[Long]("n_pruned") shouldBe expected(d)._2
      }
    }
    // non-vacuous on the driver corpus: the cut actually masks something
    got.map(_.getAs[Long]("n_pruned")).sum should be > 0L
  }

  test("llm_e4_mincount_prune plan: the k-bounded rare set broadcasts") {
    val plan = run("llm_e4_mincount_prune").queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
  }

  test("llm_e4_mincount_prune plan: the rank window's input is the vocab df " +
    "aggregate, never corpus rows") {
    // the scale-bearing half of the contract (r16 advice): a regression
    // that re-points the window at the token stream must FAIL here, not
    // just keep the broadcast assert green
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val opt = run("llm_e4_mincount_prune").queryExecution.optimizedPlan
    val wins = opt.collect { case w: LWindow => w }
    wins should have size 1
    val aggBelow = wins.head.child.collectFirst {
      case a: Aggregate if a.groupingExpressions.map(_.sql.toLowerCase)
        .exists(_.contains("tok")) => a
    }
    withClue("window must sit on the tok-keyed df aggregate:") {
      aggBelow.isDefined shouldBe true
    }
  }

  // ------------------------------------------------------------------
  // llm_e4_ccnet_buckets
  // ------------------------------------------------------------------

  test("llm_e4_ccnet_buckets: per-lang score bands are ordered head <= middle <= tail") {
    val rows = run("llm_e4_ccnet_buckets")
      .filter($"bucket" =!= "unscored")
      .select($"lang", $"bucket", $"avg_neg_logprob").as[(String, String, Double)]
      .collect().groupBy(_._1)
    rows.size shouldBe 5 // every corpus lang got scored cutoffs
    rows.foreach { case (lang, rs) =>
      val by = rs.groupBy(_._2).map { case (b, xs) => b -> xs.map(_._3) }
      withClue(s"lang $lang:") {
        // all three buckets populated at this corpus, and the bands are
        // disjoint up to the shared cutoff value (<= by the label rule)
        Seq("head", "middle", "tail").foreach(b => by.contains(b) shouldBe true)
        by("head").max should be <= by("middle").min
        by("middle").max should be <= by("tail").min
      }
    }
  }

  test("llm_e4_ccnet_buckets is total: unscorable docs label 'unscored'") {
    val dir = tempDir("graft_ccnet_planted")
    // doc 99 has a single token -> zero bigrams -> no LM score
    val texts = (0L until 30L).map(d =>
      (d, Seq.fill(12)(Seq("alpha", "beta", "gamma")((d % 3).toInt)).mkString(" "),
        "en", "fx", 12L)) :+ ((99L, "alpha", "en", "fx", 5L))
    texts.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("llm_e4_ccnet_buckets", dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    got(99L) shouldBe "unscored"
    got.size shouldBe 31 // total: every doc labeled
  }

  test("llm_e4_ccnet_buckets: the sample-size contract boundary is exact") {
    // mirror the eval-broadcast boundary pin: rows == max passes,
    // max = rows - 1 raises with the conf named
    val n = run("llm_e4_ccnet_buckets")
      .collect() // warm; also memoizes ccnet_sample_rows
    n.length should be > 0
    val rows: Long = graft.SessionMemo.value(spark, sfDir, "ccnet_sample_rows")(
      sys.error("memo must exist after a run"))
    try {
      spark.conf.set("graft.ccnetSample.maxRows", rows.toString)
      noException should be thrownBy run("llm_e4_ccnet_buckets").collect()
      spark.conf.set("graft.ccnetSample.maxRows", (rows - 1).toString)
      val e = intercept[IllegalArgumentException] {
        run("llm_e4_ccnet_buckets").collect()
      }
      e.getMessage should include("graft.ccnetSample.maxRows")
    } finally spark.conf.unset("graft.ccnetSample.maxRows")
  }

  test("llm_e4_ccnet_buckets plan: cutoffs broadcast; no corpus-wide window") {
    // since r17 the sample-scoped rank window runs in the eager cuts job
    // and cutoffs re-attach as a collected local relation, so the
    // labeling plan must contain NO Window operator at all — a regression
    // reintroducing a corpus-wide per-lang sort fails structurally here
    val plan = run("llm_e4_ccnet_buckets").queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    (plan should not).include("Window")
  }

  // ------------------------------------------------------------------
  // llm_e4_temperature_mix
  // ------------------------------------------------------------------

  test("llm_e4_temperature_mix matches a driver-side replay and upsamples the tail") {
    def rt7(x: Double) = { val y = math.sqrt(x) * 1e7; y - (y % 1.0) }
    val bysrc = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "text").collect()
      .groupBy(_.getString(0)).map { case (src, rs) =>
        src -> (rs.length.toLong,
          rs.map(r => Option(r.getString(1)).map(_.split(" ", -1).length.toLong)
            .getOrElse(0L)).sum)
      }
    val rsum = bysrc.values.map(v => rt7(v._2.toDouble)).sum
    val tsum = bysrc.values.map(_._2).sum.toDouble
    val got = run("llm_e4_temperature_mix").collect()
    got.length shouldBe bysrc.size
    got.foreach { r =>
      val src = r.getAs[String]("source")
      val (nd, nt) = bysrc(src)
      withClue(s"source $src:") {
        r.getAs[Long]("n_docs") shouldBe nd
        r.getAs[Long]("n_tokens") shouldBe nt
        r.getAs[Double]("p_sample") shouldBe q4(rt7(nt.toDouble) / rsum)
        r.getAs[Double]("boost") shouldBe q4((rt7(nt.toDouble) / rsum) / (nt / tsum))
      }
    }
    // the temperature rule's point: the smallest source is boosted above
    // its natural share, the largest damped below it
    val boosts = got.map(r => r.getAs[Long]("n_tokens") -> r.getAs[Double]("boost"))
    boosts.minBy(_._1)._2 should be > 1.0
    boosts.maxBy(_._1)._2 should be < 1.0
  }

  // ------------------------------------------------------------------
  // llm_e2_semdedup
  // ------------------------------------------------------------------

  test("llm_e2_semdedup matches a driver-side replay of the one-pass keep rule") {
    val cs = ProductQuant.ivfCentroids(spark, sfDir)
    val sumsq = cs.map(_.map(x => x * x).sum)
    val cnorm = sumsq.map(math.sqrt)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val asgn = vecs.map { case (id, v) =>
      val nrm = math.sqrt(dot(v, v))
      // same lexicographic (d2, cell) argmin the struct array_min runs
      val cell = cs.indices.map(c => (-2.0 * dot(v, cs(c)) + sumsq(c), c)).min._2
      val ccos = q4(((sumsq(cell) - (-2.0 * dot(v, cs(cell)) + sumsq(cell))) / 2.0)
        / (nrm * cnorm(cell)))
      (id, v, nrm, cell, ccos)
    }
    val victims = (for {
      a <- asgn; b <- asgn
      if a._4 == b._4 && a._1 < b._1
      if q4(dot(a._2, b._2) / (a._3 * b._3)) >= SemDedup.semTau
    } yield if (a._5 < b._5 || (a._5 == b._5 && a._1 < b._1)) b._1 else a._1).toSet
    val expected = asgn.map(x => x._1 -> (x._4, x._5, !victims(x._1))).toMap
    val got = run("llm_e2_semdedup").collect()
    got.length shouldBe expected.size
    got.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val (cell, ccos, kept) = expected(id)
      withClue(s"vec $id:") {
        r.getAs[Int]("cell") shouldBe cell
        r.getAs[Double]("ccos") shouldBe ccos
        r.getAs[Boolean]("kept") shouldBe kept
      }
    }
    // non-vacuous at this corpus: both verdicts populated
    got.count(_.getAs[Boolean]("kept")) should (be > 0 and be < got.length)
  }

  test("llm_e2_semdedup planted clones: earliest clone kept, clones dropped, singletons kept") {
    val dir = tempDir("graft_semdedup_planted")
    // basis vectors: distinct ids are exactly orthogonal (cos 0 < tau),
    // clones are exactly parallel (cos 1 >= tau) and land in one cell
    def basis(i: Int): Array[Float] =
      Array.tabulate(64)(j => if (j == i) 1.0f else 0.0f)
    val rows =
      Seq(0L, 1L, 2L).map(id => (id, basis(0).toSeq, 0)) ++ // clone triple
        Seq(3L, 4L).map(id => (id, basis(1).toSeq, 0)) ++ // clone pair
        (5L until 40L).map(id => (id, basis(2 + (id - 5).toInt).toSeq, 0))
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = run("llm_e2_semdedup", dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    got.size shouldBe 40
    // the (ccos, vec_id) tie inside each identical-clone group resolves
    // to the lowest id; everything orthogonal survives
    Seq(0L, 3L).foreach(id => withClue(s"group head $id:")(got(id) shouldBe true))
    Seq(1L, 2L, 4L).foreach(id => withClue(s"clone $id:")(got(id) shouldBe false))
    (5L until 40L).foreach(id => withClue(s"singleton $id:")(got(id) shouldBe true))
  }
}
