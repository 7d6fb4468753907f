package graft.relational

import graft.{GraftQuery, T}
import graft.T.{money, sqlDec2Dbl, sqlMoney}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** OLAP shapes beyond the ROLLUP/CUBE/GROUPING SETS trio already in
  * [[Relational]]/[[Advanced]] (extension family E6, continued): the
  * native pivot operator with pinned values, deterministic rate-based
  * stratified sampling, and the VALIDATION suite — order-insensitive
  * table checksum, its merkle-style per-bucket drilldown, and a
  * Deequ-style declarative constraint audit — the reshaping, sampling,
  * and publish-gate ops a warehouse pipeline leans on.
  *
  * All keep the repo's exactness discipline: decimal-cast money sums,
  * hash-derived (never RNG) sampling coins, and canonical string
  * renderings inside checksums, so every query is oracle-paired.
  */
object Olap {

  /** Native pivot with PINNED values — order spend per customer nation,
    * reshaped one column per order status. Pinning the value list
    * matters twice: it makes the output schema static (required for an
    * oracle), and it keeps plan construction lazy — `.pivot(col)`
    * without values runs an eager distinct-scan job just to discover
    * the columns, the construction-time job this repo bans. Catalyst
    * lowers pinned pivot to the same conditional partial/final
    * aggregate as the manual CASE form (q_conditional_agg_pivot), so
    * there is no second shuffle and nothing row-proportional on the
    * reshaped axis. The nation dim broadcasts onto customer, orders
    * join customer on the natural key shuffle. */
  private val qPivotNative = GraftQuery(
    "q_pivot_status_spend",
    "native pivot (pinned values): per-nation order spend by status (§2.4/§2.9)",
    Some(s"""
      SELECT n_name,
        ${sqlDec2Dbl(s"SUM(CASE WHEN o_orderstatus = 'F' THEN ${sqlMoney("o_totalprice")} ELSE 0 END)")} AS f_spend,
        ${sqlDec2Dbl(s"SUM(CASE WHEN o_orderstatus = 'O' THEN ${sqlMoney("o_totalprice")} ELSE 0 END)")} AS o_spend,
        ${sqlDec2Dbl(s"SUM(CASE WHEN o_orderstatus = 'P' THEN ${sqlMoney("o_totalprice")} ELSE 0 END)")} AS p_spend
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY n_name"""),
    (s, dir) => {
      val cust = T(s, dir, "customer")
        .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      T(s, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        // coalesce matches the CASE form's ELSE 0: a nation with no
        // orders in some status gets 0, not NULL
        .agg(sum(money("o_totalprice")))
        .select(col("n_name"),
          coalesce(col("F"), lit(0).cast(DecimalType(18, 2))).cast("double").as("f_spend"),
          coalesce(col("O"), lit(0).cast(DecimalType(18, 2))).cast("double").as("o_spend"),
          coalesce(col("P"), lit(0).cast(DecimalType(18, 2))).cast("double").as("p_spend"))
        .orderBy("n_name")
    })

  /** Per-stratum sampling rates for the stratified sample: rare/valuable
    * strata keep more mass (the curation shape: oversample purchases,
    * downsample views). */
  private val strataRates: Seq[(String, Double)] = Seq(
    "click" -> 0.05, "error" -> 0.02, "purchase" -> 0.5,
    "signup" -> 0.2, "view" -> 0.1)

  /** Deterministic RATE-based stratified sample — per-event-type
    * Bernoulli with a hash-derived coin, NOT `df.stat.sampleBy`:
    * sampleBy draws from a seeded RNG whose stream depends on
    * partitioning, so its output changes under repartition and can
    * never be oracle-paired. (The complementary EXACT-COUNT stratified
    * sample — rank to a per-stratum k — is `q_stratified_sample` in
    * [[Multiset]]; this is the shuffle-free variant for when a rate,
    * not a count, is the spec.) The coin is the same md5-uniform as the
    * weighted sampler (llmops/Weighted.scala): u =
    * (first-8-md5-hex(event_id) + 0.5) / 2^32, keep iff u <
    * rate(event_type). A pure per-row predicate — embarrassingly
    * parallel, zero shuffle before the output sort, identical on any
    * cluster layout, and exactly repeatable for train/eval
    * reproducibility. */
  private val qStratifiedSample = GraftQuery(
    "q_bernoulli_stratified_sample",
    "deterministic hash-coin per-stratum Bernoulli sample of events (§2.2)",
    Some {
      val cases = strataRates
        .map { case (t, r) => s"WHEN '$t' THEN CAST($r AS DOUBLE)" }
        .mkString(" ")
      s"""
      SELECT event_id, event_type, user_id
      FROM events
      WHERE (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
              / 4294967296.0
            < CASE event_type $cases ELSE CAST(0.0 AS DOUBLE) END
      ORDER BY event_id"""
    },
    (s, dir) => {
      val u = (conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("double") + lit(0.5)) / lit(4294967296.0)
      val rate = strataRates.foldLeft(lit(0.0)) { case (acc, (t, r)) =>
        when(col("event_type") === t, lit(r)).otherwise(acc)
      }
      T(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("user_id"))
        .filter(u < rate)
        .orderBy("event_id")
    })

  /** Order-insensitive table checksum — the anti-entropy fingerprint a
    * pipeline computes on both sides of a copy/migration/backfill to
    * prove 100 TB moved intact without comparing rows: each row renders
    * to a CANONICAL string (ints as-is, money via exact decimal(18,2),
    * timestamps reduced to dates — each piece chosen to render
    * identically in any engine), hashes to a 60-bit integer (15 md5 hex
    * chars — fits BIGINT/DECIMAL exactly in both engines), and the
    * per-group checksum is the plain SUM: commutative, so partial
    * aggregation, partition layout, and row order are all invisible,
    * and two tables differing in ANY row disagree with probability
    * 1 - 2^-60 per group. One scan, one 4-row aggregate. The summed
    * checksum exceeds 64 bits (20k × 60-bit hashes ≈ 75 bits), so it
    * is RENDERED AS A STRING: wide-decimal digits compare identically
    * everywhere, while the underlying DECIMAL(38,0)/HUGEINT physical
    * representations do not hash identically across engines. */
  private def liRowHash = {
    val canonical = concat_ws("|",
      col("l_orderkey"), col("l_linenumber"), col("l_linestatus"),
      money("l_extendedprice").cast("string"),
      col("l_shipdate").cast("date").cast("string"))
    conv(substring(md5(canonical), 1, 15), 16, 10).cast(DecimalType(38, 0))
  }
  private val liRowHashSql = s"""CAST(CAST(('0x' || substr(md5(
              concat_ws('|', l_orderkey, l_linenumber, l_linestatus,
                CAST(${sqlMoney("l_extendedprice")} AS VARCHAR),
                CAST(CAST(l_shipdate AS DATE) AS VARCHAR))),
            1, 15)) AS BIGINT) AS DECIMAL(38,0))"""

  private val qTableFingerprint = GraftQuery(
    "q_table_fingerprint",
    "order-insensitive per-group md5 checksum of lineitem (validation op)",
    Some(s"""
      SELECT l_returnflag, COUNT(*) AS n_rows,
        CAST(SUM($liRowHashSql) AS VARCHAR) AS checksum
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    (s, dir) => tableFingerprint(s, dir))

  /** The q_table_fingerprint plan; `force` overrides the rebalance
    * guard (see [[T.scanRebalanced]]). */
  def tableFingerprint(s: SparkSession, dir: String,
      force: Option[Boolean] = None): DataFrame =
    // layout-adaptive scan rebalance (T.scanRebalanced — opt-in, no-op
    // at production row-group counts): the canonical-string render +
    // md5 + hex→decimal conversion above this scan is the heavy map
    // work of the query, and the driver testdata's single-row-group
    // files would otherwise run it all on one core. Projected to the
    // 6 consumed columns BEFORE the exchange so only those bytes
    // shuffle (guide §2.3). Measured 2.5 → 1.6 s at sf0.1/local[32],
    // identical checksums.
    T.scanRebalanced(s, T(s, dir, "lineitem").select(
        col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_linestatus"), col("l_extendedprice"), col("l_shipdate")), force)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(liRowHash).cast("string").as("checksum"))
      .orderBy("l_returnflag")

  /** Fingerprint DRILLDOWN — the merkle-style second step of the copy
    * validation: when the table-level checksums disagree, both sides
    * re-aggregate the SAME row hashes into 256 key-range buckets
    * (l_orderkey % 256) and diff the bucket lists to locate which
    * shard(s) actually diverged — turning "100 TB differs somewhere"
    * into "re-copy these buckets" without ever comparing rows. Same
    * one-scan commutative-sum shape as the table fingerprint; the
    * bucket count is a constant, so the audit output stays tiny no
    * matter the data scale, and the bucket key is derived from the
    * natural key so both engines bucket identically. */
  private val qFingerprintDrilldown = GraftQuery(
    "q_fingerprint_drilldown",
    "per-bucket md5 checksums (merkle drilldown of q_table_fingerprint) (validation op)",
    Some(s"""
      SELECT l_orderkey % 256 AS bucket, COUNT(*) AS n_rows,
        CAST(SUM($liRowHashSql) AS VARCHAR) AS checksum
      FROM lineitem
      GROUP BY l_orderkey % 256
      ORDER BY bucket"""),
    (s, dir) =>
      // same layout-adaptive rebalance + early projection as the table
      // fingerprint above (2.5 → 1.7 s measured); the row-hash work is
      // identical, only the grouping key differs
      T.scanRebalanced(s, T(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_linestatus"),
          col("l_extendedprice"), col("l_shipdate")))
        .groupBy((col("l_orderkey") % 256).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(liRowHash).cast("string").as("checksum"))
        .orderBy("bucket"))

  /** Declarative data-quality CONSTRAINT AUDIT (the Deequ-style
    * verification pass a pipeline runs before publishing a dataset):
    * completeness, range, domain-membership, and uniqueness constraints
    * are all computed in ONE aggregate scan per table (conditional
    * counts share the pass — adding a constraint costs an expression,
    * not a scan), referential integrity as orphan-counting left-anti
    * joins, and the result is one (constraint, checked, violations,
    * pass) row per rule. At 100 TB the scan cost is the table read the
    * publish already pays; the audit output is constraint-count-sized.
    * Violation counts are honest — a failing rule reports its count
    * rather than aborting the audit. */
  private val qConstraintAudit = GraftQuery(
    "q_constraint_audit",
    "single-pass data-quality constraint verification with per-rule violation counts (validation op)",
    Some("""
      WITH li AS (
        SELECT COUNT(*) AS n,
          COUNT(*) FILTER (WHERE l_shipdate IS NULL) AS v_null_ship,
          COUNT(*) FILTER (WHERE l_quantity NOT BETWEEN 1 AND 50) AS v_qty,
          COUNT(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')) AS v_flag,
          COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS v_uniq,
          COUNT(*) FILTER (WHERE l_extendedprice < 0) AS v_price
        FROM lineitem),
      -- v_corrupt: extra payload VARIANTS under reused keys (corrupt
      -- dups) — row-struct spelling so NULL keys/payloads count as
      -- values, matching the engine's struct-wrapped countDistinct
      ord AS (
        SELECT COUNT(*) AS n,
          COUNT(*) FILTER (WHERE o_totalprice <= 0) AS v_price,
          COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P')) AS v_status,
          COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_uniq,
          COUNT(DISTINCT (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                          o_orderdate, o_orderpriority))
            - COUNT(DISTINCT row(o_orderkey)) AS v_corrupt
        FROM orders),
      ev AS (
        SELECT COUNT(*) AS n,
          COUNT(*) - COUNT(DISTINCT event_id) AS v_uniq,
          COUNT(DISTINCT (event_id, ts, user_id, event_type, value, props))
            - COUNT(DISTINCT row(event_id)) AS v_corrupt
        FROM events),
      doc AS (
        SELECT COUNT(*) AS n,
          COUNT(*) - COUNT(DISTINCT doc_id) AS v_uniq,
          COUNT(DISTINCT (doc_id, text, lang, source, n_chars))
            - COUNT(DISTINCT row(doc_id)) AS v_corrupt
        FROM documents),
      emb AS (
        SELECT COUNT(*) AS n,
          COUNT(*) - COUNT(DISTINCT vec_id) AS v_uniq,
          COUNT(DISTINCT (vec_id, embedding, label))
            - COUNT(DISTINCT row(vec_id)) AS v_corrupt
        FROM embeddings),
      fk_li AS (
        SELECT (SELECT COUNT(*) FROM lineitem) AS n, COUNT(*) AS v
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL),
      fk_ord AS (
        SELECT (SELECT COUNT(*) FROM orders) AS n, COUNT(*) AS v
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL)
      SELECT * FROM (
        SELECT 'lineitem.l_shipdate IS NOT NULL' AS constraint_name,
               n AS n_checked, v_null_ship AS n_violations, v_null_ship = 0 AS pass FROM li
        UNION ALL SELECT 'lineitem.l_quantity BETWEEN 1 AND 50', n, v_qty, v_qty = 0 FROM li
        UNION ALL SELECT 'lineitem.l_returnflag IN (A,N,R)', n, v_flag, v_flag = 0 FROM li
        UNION ALL SELECT 'lineitem.(l_orderkey,l_linenumber) UNIQUE', n, v_uniq, v_uniq = 0 FROM li
        UNION ALL SELECT 'lineitem.l_extendedprice >= 0', n, v_price, v_price = 0 FROM li
        UNION ALL SELECT 'orders.o_totalprice > 0', n, v_price, v_price = 0 FROM ord
        UNION ALL SELECT 'orders.o_orderstatus IN (F,O,P)', n, v_status, v_status = 0 FROM ord
        UNION ALL SELECT 'orders.o_orderkey UNIQUE', n, v_uniq, v_uniq = 0 FROM ord
        UNION ALL SELECT 'orders.o_orderkey PAYLOAD-CONSISTENT', n, v_corrupt, v_corrupt = 0 FROM ord
        UNION ALL SELECT 'events.event_id UNIQUE', n, v_uniq, v_uniq = 0 FROM ev
        UNION ALL SELECT 'events.event_id PAYLOAD-CONSISTENT', n, v_corrupt, v_corrupt = 0 FROM ev
        UNION ALL SELECT 'documents.doc_id UNIQUE', n, v_uniq, v_uniq = 0 FROM doc
        UNION ALL SELECT 'documents.doc_id PAYLOAD-CONSISTENT', n, v_corrupt, v_corrupt = 0 FROM doc
        UNION ALL SELECT 'embeddings.vec_id UNIQUE', n, v_uniq, v_uniq = 0 FROM emb
        UNION ALL SELECT 'embeddings.vec_id PAYLOAD-CONSISTENT', n, v_corrupt, v_corrupt = 0 FROM emb
        UNION ALL SELECT 'lineitem.l_orderkey REFERENCES orders', n, v, v = 0 FROM fk_li
        UNION ALL SELECT 'orders.o_custkey REFERENCES customer', n, v, v = 0 FROM fk_ord)
      ORDER BY constraint_name"""),
    (s, dir) => {
      val li = T(s, dir, "lineitem")
      val ord = T(s, dir, "orders")
      def rows(src: org.apache.spark.sql.DataFrame,
          specs: Seq[(String, org.apache.spark.sql.Column)]) = {
        val agg = src.agg(count(lit(1)).as("n"),
          specs.map { case (nm, c) => c.as(nm) }: _*)
        // constraint names contain dots — backtick the refs so Spark
        // does not parse them as struct-field paths
        agg.select(explode(array(specs.map { case (nm, _) =>
          struct(lit(nm).as("constraint_name"), col("n").as("n_checked"),
            col(s"`$nm`").cast("long").as("n_violations"),
            (col(s"`$nm`") === 0).as("pass"))
        }: _*)).as("r")).select(col("r.*"))
      }
      val liRows = rows(li, Seq(
        "lineitem.l_shipdate IS NOT NULL" ->
          count(when(col("l_shipdate").isNull, 1)),
        "lineitem.l_quantity BETWEEN 1 AND 50" ->
          count(when(!col("l_quantity").between(1, 50), 1)),
        "lineitem.l_returnflag IN (A,N,R)" ->
          count(when(!col("l_returnflag").isin("A", "N", "R"), 1)),
        "lineitem.(l_orderkey,l_linenumber) UNIQUE" ->
          (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber"))),
        "lineitem.l_extendedprice >= 0" ->
          count(when(col("l_extendedprice") < 0, 1))))
      // payload-consistency (key-corruption axis, round 16): a key
      // reused with a DIFFERENT payload looks like a plain duplicate to
      // the uniqueness rule; countDistinct(key, payload) exceeding
      // countDistinct(key) counts the extra payload VARIANTS hiding
      // under reused keys — exact dups stay invisible here, so the two
      // rules together split dup rows into exact vs corrupt classes.
      // STRUCT-wrapped on both sides so NULL keys/payloads count as
      // values (plain multi-arg countDistinct drops any-NULL rows in
      // Spark but not in DuckDB's row-struct spelling — measured).
      // One more expression in the same single scan per table.
      def payloadRule(t: String, k: String, payload: Seq[String]) =
        s"$t.$k PAYLOAD-CONSISTENT" ->
          (countDistinct(struct((k +: payload).map(col): _*)) -
            countDistinct(struct(col(k))))
      val ordRows = rows(ord, Seq(
        "orders.o_totalprice > 0" ->
          count(when(col("o_totalprice") <= 0, 1)),
        "orders.o_orderstatus IN (F,O,P)" ->
          count(when(!col("o_orderstatus").isin("F", "O", "P"), 1)),
        "orders.o_orderkey UNIQUE" ->
          (count(lit(1)) - countDistinct(col("o_orderkey"))),
        payloadRule("orders", "o_orderkey",
          Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority"))))
      // primary-key uniqueness on the pipeline fact tables: reprocessed
      // or double-committed partitions land exact duplicate KEYS, which
      // no other rule sees (the tenth degenerate axis, round 15 — this
      // audit is the declared detector; see DupKeySpec)
      val factPayloads = Seq(
        ("events", "event_id", Seq("ts", "user_id", "event_type", "value", "props")),
        ("documents", "doc_id", Seq("text", "lang", "source", "n_chars")),
        ("embeddings", "vec_id", Seq("embedding", "label")))
      val uniqRows = factPayloads.map { case (t, k, payload) =>
        rows(T(s, dir, t), Seq(
          s"$t.$k UNIQUE" -> (count(lit(1)) - countDistinct(col(k))),
          payloadRule(t, k, payload)))
      }.reduce(_ unionByName _)
      def fkRow(nm: String, child: org.apache.spark.sql.DataFrame, key: String,
          parent: org.apache.spark.sql.DataFrame, pkey: String) = {
        val orphans = child.join(parent.select(col(pkey)),
            col(key) === col(pkey), "left_anti")
          .agg(count(lit(1)).cast("long").as("n_violations"))
        child.agg(count(lit(1)).as("n_checked")).crossJoin(broadcast(orphans))
          .select(lit(nm).as("constraint_name"), col("n_checked"),
            col("n_violations"), (col("n_violations") === 0).as("pass"))
      }
      liRows.unionByName(ordRows).unionByName(uniqRows)
        .unionByName(fkRow("lineitem.l_orderkey REFERENCES orders",
          li, "l_orderkey", ord, "o_orderkey"))
        .unionByName(fkRow("orders.o_custkey REFERENCES customer",
          ord, "o_custkey", T(s, dir, "customer"), "c_custkey"))
        .orderBy("constraint_name")
    })

  /** Join-key SKEW DIAGNOSIS — the pre-flight a pipeline runs before a
    * big join to decide whether a key needs salting (the decision
    * behind `e5_skew_salted_join`): per candidate key, the group-count
    * distribution collapsed to key cardinality, heaviest key, mean,
    * and the max/mean skew ratio. Each key costs one partial+final
    * count aggregate and a constant-width re-aggregate — the output is
    * key-column-count-sized, so diagnosing a 100 TB fact costs the
    * same shuffles the join itself would, once, ahead of time. Mean
    * and ratio are single deterministic double divisions (identical
    * in both engines); counts stay integral. */
  private val qSkewDiagnosis = GraftQuery(
    "q_skew_diagnosis",
    "join-key skew pre-flight: cardinality, heaviest key, max/mean ratio per key (validation op)",
    Some("""
      WITH k1 AS (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_suppkey),
      k2 AS (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey),
      k3 AS (SELECT COUNT(*) AS c FROM orders GROUP BY o_custkey)
      SELECT * FROM (
        SELECT 'lineitem.l_orderkey' AS key_col, COUNT(*) AS n_keys,
               MAX(c) AS max_rows,
               CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean_rows,
               CAST(MAX(c) AS DOUBLE) / (CAST(SUM(c) AS DOUBLE) / COUNT(*)) AS skew_ratio
        FROM k2
        UNION ALL
        SELECT 'lineitem.l_suppkey', COUNT(*), MAX(c),
               CAST(SUM(c) AS DOUBLE) / COUNT(*),
               CAST(MAX(c) AS DOUBLE) / (CAST(SUM(c) AS DOUBLE) / COUNT(*))
        FROM k1
        UNION ALL
        SELECT 'orders.o_custkey', COUNT(*), MAX(c),
               CAST(SUM(c) AS DOUBLE) / COUNT(*),
               CAST(MAX(c) AS DOUBLE) / (CAST(SUM(c) AS DOUBLE) / COUNT(*))
        FROM k3)
      ORDER BY key_col"""),
    (s, dir) => {
      def diag(src: org.apache.spark.sql.DataFrame, key: String, label: String) =
        src.groupBy(col(key)).agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_keys"), max(col("c")).as("max_rows"),
            (sum(col("c")).cast("double") / count(lit(1))).as("mean_rows"),
            (max(col("c")).cast("double") /
              (sum(col("c")).cast("double") / count(lit(1)))).as("skew_ratio"))
          .select(lit(label).as("key_col"), col("n_keys"), col("max_rows"),
            col("mean_rows"), col("skew_ratio"))
      val li = T(s, dir, "lineitem")
      diag(li, "l_orderkey", "lineitem.l_orderkey")
        .unionByName(diag(li, "l_suppkey", "lineitem.l_suppkey"))
        .unionByName(diag(T(s, dir, "orders"), "o_custkey", "orders.o_custkey"))
        .orderBy("key_col")
    })

  def queries: Seq[GraftQuery] =
    Seq(qPivotNative, qStratifiedSample, qTableFingerprint,
      qFingerprintDrilldown, qConstraintAudit, qSkewDiagnosis)
}
