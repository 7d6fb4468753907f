package graft.relational

import graft.{Registry, SparkSpec}
import org.apache.spark.sql.functions._

/** Semantics + plan-shape checks for the OLAP wave: pinned-value pivot,
  * deterministic stratified sampling, and the order-insensitive table
  * checksum. */
class OlapSpec extends SparkSpec {

  private def run(name: String) = Registry.byName(name).run(spark, sfDir)

  test("pivot with pinned values constructs job-free and conserves total spend") {
    run("q_pivot_status_spend") // warm the T() table memo
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
      run("q_pivot_status_spend") // pinned values: no distinct-scan job
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      withClue("pivot with pinned values must not run a distinct-scan job") {
        jobs.get() shouldBe 0
      }
    } finally spark.sparkContext.removeSparkListener(listener)

    val rows = run("q_pivot_status_spend").collect()
    val pivotTotal = rows.map(r =>
      r.getDouble(1) + r.getDouble(2) + r.getDouble(3)).sum
    val direct = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
      .head().getDouble(0)
    pivotTotal shouldBe direct +- 0.01
  }

  test("stratified sample is deterministic and partition-invariant") {
    val a = run("q_bernoulli_stratified_sample").collect().map(_.getLong(0)).toSeq
    val b = run("q_bernoulli_stratified_sample").collect().map(_.getLong(0)).toSeq
    a shouldBe b
    // same rows regardless of layout: the coin is a pure row function
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    def sampleOf(parts: Int): Set[Long] = {
      val u = (conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("double") + lit(0.5)) / lit(4294967296.0)
      ev.repartition(parts).filter(col("event_type") === "purchase" && u < 0.5)
        .select("event_id").collect().map(_.getLong(0)).toSet
    }
    sampleOf(3) shouldBe sampleOf(13)
    // rates land near nominal per stratum (binomial, generous bounds)
    val byType = run("q_bernoulli_stratified_sample").groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = ev.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rate = byType("purchase").toDouble / totals("purchase")
    rate shouldBe 0.5 +- 0.1
  }

  test("table checksum is order/partition-insensitive and splits additively") {
    val one = run("q_table_fingerprint").collect()
    val again = run("q_table_fingerprint").collect()
    one.map(_.toString).toSeq shouldBe again.map(_.toString).toSeq
    one.length shouldBe 3 // A/N/R
    // n_rows conserves the table
    one.map(_.getAs[Long]("n_rows")).sum shouldBe
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // the checksum is a plain SUM of row hashes: computing it over any
    // disjoint split of the data and adding must reproduce it — the
    // property that lets each side of a 100 TB copy checksum shards
    // independently
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val canonical = concat_ws("|",
      col("l_orderkey"), col("l_linenumber"), col("l_linestatus"),
      col("l_extendedprice").cast("decimal(18,2)").cast("string"),
      col("l_shipdate").cast("date").cast("string"))
    val rowHash = conv(substring(md5(canonical), 1, 15), 16, 10)
      .cast("decimal(38,0)")
    def checksum(df: org.apache.spark.sql.DataFrame): BigDecimal =
      BigDecimal(df.agg(sum(rowHash)).head().getDecimal(0))
    val whole = checksum(li.filter(col("l_returnflag") === "A"))
    val lo = checksum(li.filter(col("l_returnflag") === "A" && col("l_orderkey") % 2 === 0))
    val hi = checksum(li.filter(col("l_returnflag") === "A" && col("l_orderkey") % 2 =!= 0))
    lo + hi shouldBe whole
    // and it must equal the registered query's A-group checksum (a
    // STRING column since round 8 — wide decimals don't hash
    // identically across engines; see the RegistrySchemaSpec guard)
    BigDecimal(one.find(_.getString(0) == "A").get.getString(2)) shouldBe whole
  }

  test("fingerprint additivity holds for random 3-way splits (property)") {
    // ANY disjoint partition of the rows must re-sum to the whole — the
    // general merkle/shard-checksum property behind both the per-group
    // and per-bucket queries; random hash splits probe partitions no
    // natural key would produce
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val canonical = concat_ws("|",
      col("l_orderkey"), col("l_linenumber"), col("l_linestatus"),
      col("l_extendedprice").cast("decimal(18,2)").cast("string"),
      col("l_shipdate").cast("date").cast("string"))
    val rowHash = conv(substring(md5(canonical), 1, 15), 16, 10)
      .cast("decimal(38,0)")
    def checksum(df: org.apache.spark.sql.DataFrame): BigDecimal =
      BigDecimal(df.agg(sum(rowHash)).head().getDecimal(0))
    val whole = checksum(li)
    (1 to 4).foreach { seed =>
      val part = pmod(hash(col("l_orderkey"), lit(seed)), lit(3))
      val parts = (0 until 3).map(p => checksum(li.filter(part === p)))
      withClue(s"seed $seed parts $parts: ") { parts.sum shouldBe whole }
    }
  }

  test("fingerprint drilldown buckets reaggregate to the table totals") {
    // the merkle property: buckets and returnflag groups are two
    // partitions of the SAME row-hash multiset, so their row counts and
    // checksum sums must agree exactly — that is what lets a validator
    // descend from "table differs" to "these buckets differ"
    val buckets = run("q_fingerprint_drilldown").collect()
    val groups = run("q_table_fingerprint").collect()
    buckets.map(_.getAs[Long]("n_rows")).sum shouldBe
      groups.map(_.getAs[Long]("n_rows")).sum
    buckets.map(r => BigInt(r.getString(2))).sum shouldBe
      groups.map(r => BigInt(r.getString(2))).sum
  }

  test("drilldown localizes a planted single-key mutation to exactly its bucket") {
    // the operational merkle claim: if one row diverges between the two
    // sides of a copy, the drilldown must flag EXACTLY the bucket
    // containing it (l_orderkey % 256) and leave the other 255
    // checksums byte-identical — anything else (bucket key drift, a
    // non-additive hash, an order-sensitive sum) breaks the descent
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val victim = li
      .selectExpr("CAST(l_orderkey AS BIGINT) AS k", "CAST(l_linenumber AS BIGINT) AS ln")
      .orderBy("k", "ln").limit(1).collect().head
    val (vOrder, vLine) = (victim.getLong(0), victim.getLong(1))
    // mutate every row of that (orderkey, linenumber) key — the synthetic
    // data reuses line numbers, but all mutated rows share l_orderkey, so
    // the blast radius is still exactly one bucket
    val tmp = tempDir("graft_merkle")
    li.withColumn("l_extendedprice",
        when(col("l_orderkey") === vOrder && col("l_linenumber") === vLine,
          col("l_extendedprice") + 1000.0).otherwise(col("l_extendedprice")))
      .write.parquet(s"$tmp/lineitem.parquet")
    def byBucket(dir: String): Map[Long, (Long, String)] =
      Registry.byName("q_fingerprint_drilldown").run(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getAs[Long]("n_rows"), r.getString(2))).toMap
    val clean = byBucket(sfDir)
    val dirty = byBucket(tmp)
    dirty.keySet shouldBe clean.keySet
    // row counts are untouched everywhere (a mutation, not an insert)
    clean.foreach { case (b, (n, _)) => dirty(b)._1 shouldBe n }
    val changed = clean.keySet.filter(b => dirty(b)._2 != clean(b)._2)
    changed shouldBe Set(vOrder % 256)
  }

  test("constraint audit: one row per rule; structural rules hold on testdata") {
    val rows = run("q_constraint_audit").collect()
    // 17 rules since r16: 13 from r15 (+ key-uniqueness on orders/
    // events/documents/embeddings, the duplicate-key axis detector —
    // see DupKeySpec) + payload-consistency on the same four keys (the
    // key-corruption detector: corrupt dups vs exact dups — see
    // KeyCorruptionSpec)
    rows.length shouldBe 17
    rows.map(_.getString(0)).distinct.length shouldBe 17
    val pass = rows.map(r => r.getString(0) -> r.getAs[Boolean]("pass")).toMap
    // the synthetic lineitem REUSES line numbers across order lines, so
    // the uniqueness rule honestly fails with a real violation count —
    // exactly what an audit must surface rather than abort on
    pass("lineitem.(l_orderkey,l_linenumber) UNIQUE") shouldBe false
    pass("lineitem.l_orderkey REFERENCES orders") shouldBe true
    // the four pipeline primary keys ARE unique in the driver fixture,
    // and their payloads are trivially key-consistent
    Seq("orders.o_orderkey UNIQUE", "events.event_id UNIQUE",
      "documents.doc_id UNIQUE", "embeddings.vec_id UNIQUE",
      "orders.o_orderkey PAYLOAD-CONSISTENT",
      "events.event_id PAYLOAD-CONSISTENT",
      "documents.doc_id PAYLOAD-CONSISTENT",
      "embeddings.vec_id PAYLOAD-CONSISTENT")
      .foreach(r => pass(r) shouldBe true)
    pass("orders.o_custkey REFERENCES customer") shouldBe true
    rows.foreach(r => r.getAs[Long]("n_checked") should be > 0L)
    // pass <=> zero violations, on every rule
    rows.foreach(r =>
      r.getAs[Boolean]("pass") shouldBe (r.getAs[Long]("n_violations") == 0L))
  }
}
