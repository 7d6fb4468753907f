package graft.llmops

import graft.{Registry, SparkSpec}
import org.apache.spark.sql.functions._

/** PQ ANN invariants: packed-code envelope, determinism, and recall of
  * the ADC ranking against the exact cosine ordering. */
class ProductQuantSpec extends SparkSpec {

  private def run() = Registry.byName("llm_e3_pq_topk").run(spark, sfDir)

  test("pq top-3 is deterministic across runs (seeded codebooks)") {
    run().collect().toSeq shouldBe run().collect().toSeq
  }

  test("pq shape: 3 neighbors per query, no self-matches") {
    val rows = run().collect()
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      rs.map(_.getAs[Int]("rn")).sorted shouldBe Seq(1, 2, 3)
      rs.foreach(_.getAs[Long]("neighbor_id") should not be q)
    }
  }

  test("pq recall: ADC top-3 overlaps the exact euclidean top-10") {
    // exact squared-L2 top-10 per query by brute force (same metric as
    // ADC approximates; sf0.001 corpus is small enough to cross-check)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val d2 = expr("aggregate(zip_with(qv, v, (a, b) -> (a - b) * (a - b)), " +
      "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    val exact10 = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = run().collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id")))
    val hit = pq.count(exact10.contains)
    val recall = hit.toDouble / pq.length
    withClue(s"recall@3-in-exact-10 = $recall") { recall should be >= 0.5 }
  }

  test("pq dedup audit: two band rows, candidate counts match cell algebra") {
    val rows = Registry.byName("llm_e2_pq_dedup_audit").run(spark, sfDir).collect()
    rows.map(_.getInt(0)).sorted shouldBe Array(0, 1)
    rows.foreach { r =>
      r.getAs[Long]("n_cells") should be > 0L
      r.getAs[Long]("n_cand_pairs") should be >= 0L
      // no semantic duplicates exist in the synthetic corpus
      r.getAs[Long]("n_dup_pairs") shouldBe 0L
    }
  }

  test("pq audit construction is job-free once the code index is memoized") {
    // warm the (session, dir) memo: first construction pays the codebook
    // fit + code encode + query-vector collect (jobs are expected here)
    Registry.byName("llm_e2_pq_dedup_audit").run(spark, sfDir)
    Registry.byName("llm_e3_pq_topk").run(spark, sfDir)
    // the listener bus is async: drain the warm-up JobStart events
    // before the listener registers, and count only jobs SUBMITTED
    // after this point (event time, not delivery time)
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    val t0 = System.currentTimeMillis()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (s.time >= t0) jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Registry.byName("llm_e2_pq_dedup_audit").run(spark, sfDir) // construct only
      Registry.byName("llm_e3_pq_topk").run(spark, sfDir)        // shares the memo
      // listener delivery is async; drain so a would-be job surfaces
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      withClue("constructing PQ queries with a warm memo must run no jobs") {
        jobs.get() shouldBe 0
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ivfpq: deterministic, well-shaped, recall against exact top-10") {
    val run = Registry.byName("llm_e3_ivfpq_topk").run(spark, sfDir)
    run.collect().toSeq shouldBe
      Registry.byName("llm_e3_ivfpq_topk").run(spark, sfDir).collect().toSeq
    val rows = run.collect()
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      rs.map(_.getAs[Int]("rn")).sorted shouldBe (1 to rs.length)
      rs.foreach(_.getAs[Long]("neighbor_id") should not be q)
    }
    // recall vs exact euclidean top-10. Direct-coded IVF-PQ held a 0.4
    // floor at 16 cells / 4 probes; RESIDUAL coding (round 8) measures
    // 0.93 on this corpus — floor raised 0.6 -> 0.85 (r16 verdict) so a
    // quantizer regression FAILS instead of passing with degraded
    // recall; ~0.08 margin kept for future testdata regeneration.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val d2 = expr("aggregate(zip_with(qv, v, (a, b) -> (a - b) * (a - b)), " +
      "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    val exact10 = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getAs[Long]("neighbor_id")))
    val recall = got.count(exact10.contains).toDouble / got.length
    withClue(s"ivfpq recall@3-in-exact-10 = $recall") { recall should be >= 0.85 }
  }

  test("ivfpq: the cell filter prunes the compressed scan") {
    // scanned (query, row) pairs = rows whose cell is probed by the
    // query; with 16 cells and 4 probes the expectation is ~25% of the
    // full queries x corpus cross product — assert well under half
    val (indexed, cs, _) = ProductQuant.ivfPqIndex(spark, sfDir)
    val corpus = indexed.count()
    val cellSizes = indexed.groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .filter(col("vec_id") < 10).collect()
      .map(r => r.getSeq[Double](1).toArray)
    val scanned = emb.map { qv =>
      cs.zipWithIndex.map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < qv.length) { val t = qv(j) - c(j); d += t * t; j += 1 }
        (d, i)
      }.sortBy(_._1).take(4).map(p => cellSizes.getOrElse(p._2, 0L)).sum
    }.sum
    val fraction = scanned.toDouble / (emb.length * corpus)
    withClue(s"ivfpq scan fraction = $fraction") { fraction should be < 0.5 }
  }

  test("oracle generator: every codebook double round-trips through its SQL literal exactly") {
    // The generated SQL embeds the codebooks via java.lang.Double.toString
    // (shortest round-trip repr). A silent switch to a lossy rendering
    // (e.g. %.6f) would drift the oracle's argmin off the Spark plan's
    // only on adversarial inputs — catch it here, not at the driver.
    val cb = ProductQuant.trainCodebooks(spark, sfDir)
    val sql = ProductQuant.sqlCodeCols(cb)
    for (m <- cb.indices; cw <- cb(m)) {
      val sumsq = cw.map(x => x * x).sum
      withClue(s"||cw||^2 literal for subspace $m") {
        sql should include(java.lang.Double.toString(sumsq))
      }
      cw.foreach { x =>
        withClue(s"codeword component literal $x") {
          sql should include(java.lang.Double.toString(x))
        }
        // the literal the SQL carries parses back to the identical bits
        java.lang.Double.doubleToLongBits(
          java.lang.Double.parseDouble(java.lang.Double.toString(x))) shouldBe
          java.lang.Double.doubleToLongBits(x)
      }
    }
  }

  test("oracle generator: perturbing one codebook entry changes the generated SQL") {
    val cb = ProductQuant.trainCodebooks(spark, sfDir)
    val sql = ProductQuant.sqlCodeCols(cb)
    // deep-copy, then nudge a single codeword component by one ulp — the
    // smallest possible drift a literal-truncation bug could hide
    val perturbed = cb.map(_.map(_.clone()))
    perturbed(0)(0)(0) = Math.nextUp(perturbed(0)(0)(0))
    val sql2 = ProductQuant.sqlCodeCols(perturbed)
    sql2 should not be sql
    // and the untouched subspaces render identically (the diff is local)
    sql.linesIterator.zip(sql2.linesIterator).count { case (a, b) => a != b } shouldBe 1
  }

  test("oracle generator: pq/ivfpq SQL is deterministic across invocations") {
    val gen = Registry.byName("llm_e3_pq_topk").oracleGen.get
    gen(spark, sfDir) shouldBe gen(spark, sfDir)
    val gen2 = Registry.byName("llm_e3_ivfpq_topk").oracleGen.get
    gen2(spark, sfDir) shouldBe gen2(spark, sfDir)
  }

  test("pq dedup core finds planted duplicates") {
    import spark.implicits._
    // 60 spread base vectors + 3 planted near-exact copies of vec 0
    val rnd = new scala.util.Random(5)
    val base = (0L until 60L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian()))
    }
    val planted = Seq(100L, 101L, 102L).map { i =>
      (i, base(0)._2.map(_ + 1e-3 * rnd.nextGaussian()))
    }
    val n = (base ++ planted).toDF("vec_id", "v")
      .select(col("vec_id"), expr("transform(v, x -> CAST(x AS DOUBLE))").as("v"))
    val cb = ProductQuant.fitCodebooks(ProductQuant.localPoints(n))
    val codes = ProductQuant.encodeWith(n, cb)
    val pairs = ProductQuant.semanticDupPairs(n, codes, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted copy pairs with vec 0 (and with each other)
    pairs should contain allOf ((0L, 100L), (0L, 101L), (0L, 102L))
    pairs.foreach { case (a, b) => Set(0L, 100L, 101L, 102L) should contain allOf (a, b) }
  }
}
