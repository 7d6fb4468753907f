package graft

import org.apache.spark.sql.functions._

/** Pins [[T.scanRebalanced]] — the r19 opt-in layout-adaptive scan
  * rebalance (optimization guide §2.5). The contract under test:
  *  - it ONLY fires when the resolved scan under-feeds the cluster
  *    (parts × 2 < defaultParallelism) AND the input is big enough that
  *    a narrow shuffle beats a serial map stage (plan-stats bytes >
  *    [[T.RebalanceMinBytes]]) — both comparisons strict, pinned on the
  *    pure guard [[T.rebalanceFires]];
  *  - when it fires it changes PARTITIONING only — the row multiset is
  *    untouched (every registry result is additionally partition-
  *    invariant, audited by Verify's local[7] re-execution);
  *  - when it does not fire it is the identity (same frame reference —
  *    zero plan overhead for the common production case);
  *  - it never touches streaming plans (the partition probe is
  *    batch-only).
  */
class RebalanceSpec extends SparkSpec {

  test("the guard's boundaries are strict: half the cores and exactly 512 KiB do not fire") {
    val big = T.RebalanceMinBytes + 1
    T.RebalanceMinBytes shouldBe 512L * 1024
    T.rebalanceFires(parts = 1, cores = 4, sizeInBytes = big) shouldBe true
    T.rebalanceFires(parts = 2, cores = 4, sizeInBytes = big) shouldBe false // exactly half
    T.rebalanceFires(parts = 2, cores = 5, sizeInBytes = big) shouldBe true
    T.rebalanceFires(parts = 4, cores = 4, sizeInBytes = big) shouldBe false
    T.rebalanceFires(parts = 1, cores = 4, sizeInBytes = T.RebalanceMinBytes) shouldBe false
    T.rebalanceFires(parts = 1, cores = 1, sizeInBytes = big) shouldBe false
  }

  test("fires on an under-partitioned, big-enough frame and spreads to defaultParallelism") {
    val cores = spark.sparkContext.defaultParallelism
    val serial = spark.range(200000).toDF("id").coalesce(1) // ~1.6 MB of stats
    assert(serial.rdd.getNumPartitions == 1)
    val out = T.scanRebalanced(spark, serial)
    assert(out.rdd.getNumPartitions == cores)
    // partitioning only — the multiset is untouched
    assert(out.agg(count(lit(1)), sum(col("id"))).head() ==
      serial.agg(count(lit(1)), sum(col("id"))).head())
  }

  test("identity (same reference) when the scan already feeds half the cores") {
    val cores = spark.sparkContext.defaultParallelism
    val wide = spark.range(200000).toDF("id")
      .repartition(math.max(cores / 2, 1))
    val out = T.scanRebalanced(spark, wide)
    assert(out eq wide)
  }

  test("identity below the size floor (dimension tables stay shuffle-free)") {
    val tiny = spark.range(10).toDF("id").coalesce(1) // ~80 bytes of stats
    val out = T.scanRebalanced(spark, tiny)
    assert(out eq tiny)
  }

  test("identity when forced off") {
    val serial = spark.range(200000).toDF("id").coalesce(1)
    assert(T.scanRebalanced(spark, serial, force = Some(false)) eq serial)
  }

  test("identity on streaming plans") {
    val stream = spark.readStream.format("rate").load()
    assert(stream.isStreaming)
    assert(T.scanRebalanced(spark, stream) eq stream)
    assert(T.scanRebalanced(spark, stream, force = Some(true)) eq stream)
  }

  test("driver-table results are identical with the rebalance forced on and off") {
    // q_table_fingerprint consumes the rebalance in production code; pin
    // that forcing the guard both ways yields byte-identical checksums
    def run(force: Boolean): Seq[String] =
      relational.Olap.tableFingerprint(spark, sfDir, force = Some(force))
        .collect().map(_.toString).toSeq
    val on = run(force = true) // ON even at sf0.001 sizes
    val off = run(force = false)
    assert(on == off)
    assert(on.nonEmpty)
    assert(Registry.byName("q_table_fingerprint").run(spark, sfDir)
      .collect().map(_.toString).toSeq == on)
  }
}
