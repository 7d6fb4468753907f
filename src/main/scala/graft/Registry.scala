package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One engine operator exposed through the driver contract.
  *
  * @param name   stable key used in `SparkEntry.queries`
  * @param doc    short description + SURVEY.md §2 operator ids covered
  * @param oracle equivalent ANSI SQL for the DuckDB oracle; None for
  *               operators whose semantics are not SQL-expressible
  *               (approximate LSH, custom hashes) — driver then records a
  *               weaker rows-only check.
  * @param oracleGen data-dependent oracle: some operators' only
  *               non-static inputs are deterministic constants DERIVED
  *               from the data (seeded k-means centroids, PQ codebooks
  *               — all memoized per (session, dir)), so their oracle SQL
  *               can be GENERATED at verify time with those constants
  *               embedded as literals, exactly like the static
  *               hyperplane/minhash pairings but per-dir. Verify merges
  *               these into oracle_sql.json beside the static oracles.
  */
final case class GraftQuery(
    name: String,
    doc: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame,
    oracleGen: Option[(SparkSession, String) => String] = None)

/** Shared helpers: table loading + oracle-exact numeric discipline.
  *
  * All money/measure doubles are cast to exact decimals BEFORE aggregation
  * and back to double AFTER, so Spark and DuckDB produce bit-identical
  * results regardless of summation order (double addition is not
  * associative; decimal addition is).
  */
object T {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Scratch warehouse for catalog metadata (bucketed tables) that
    * [[GraftSession]] sets on every session — ONE definition so the
    * harnesses cannot silently fork layouts, and never the repo CWD
    * (warehouse.dir is a STATIC conf, set only at session build). */
  def warehouseDir: String = s"${sys.props("java.io.tmpdir")}/graft_warehouse"

  /** Deterministic 16-hex-char md5 key for a data dir — the ONE scoping
    * key for per-dir scratch paths (Parity/Formats/Layout) and
    * session-global temp-view names (Multiset). `hashCode` or a lossy
    * character sanitization (`replaceAll("[^A-Za-z0-9]", "_")`) can
    * collide two distinct dirs onto one key — e.g. `/a.b` and `/a_b` —
    * recreating exactly the same-session cross-dir race these keys
    * exist to prevent; md5 of the full path cannot in practice.
    * Deliberately deterministic per dir: round-trip queries re-read
    * their own previous write. */
  def scratchKey(dir: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  /** Canonical LOGICAL type per driver-table column — the schema
    * contract every engine query consumes. The sfDir PHYSICAL schema is
    * driver-owned and has regenerated without notice before (round 10:
    * `events.ts` shipped as parquet timestamp[ns] through round 9, then
    * as timestamp[us] NTZ — breaking every unix_micros event query at
    * the driver gate until normalized). [[apply]] casts any drifted
    * column back to this contract, so a regeneration that changes a
    * physical width (float/double list element, int32/int64 key,
    * decimal-encoded measure, date/timestamp/NTZ) is absorbed at the
    * read and NOTHING downstream — plans, oracle pairings, specs —
    * sees it. The contract types are exactly what the current testdata
    * surfaces (verified green in CORRECTNESS_r10), so on undrifted data
    * every cast is a no-op and the frame is returned unchanged.
    * Drift-pinned by SchemaDriftSpec, which writes alternate physical
    * encodings of the same rows and asserts identical engine output.
    *
    * Pushdown tradeoff ON DRIFTED DATA ONLY: a cast projection over the
    * scan can block parquet predicate pushdown for the cast column.
    * Numeric width drift keeps pushdown (Catalyst's
    * UnwrapCastInBinaryComparison rewrites `cast(i32 as bigint) = lit`
    * back onto the scan column); timestamp-shape drift may not — a
    * correctness-preserving, perf-degrading fallback that holds until
    * the readers are re-pointed at the new physical schema. On
    * undrifted data there is no cast and no tradeoff. */
  private[graft] val canonical: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** Cast one drifted column to its contract type. Timestamp moves are
    * epoch-preserving ONLY in a UTC session (NTZ↔LTZ reinterprets the
    * wall clock in the session TZ; date→LTZ stamps midnight in it), so
    * those casts fail loudly on a non-UTC caller instead of silently
    * shifting every timestamp. A LongType source for a timestamp column
    * is parquet timestamp[ns] surfaced as raw nanos by
    * spark.sql.legacy.parquet.nanosAsLong (the one conf all in-repo
    * sessions set); ns→µs truncation is lossless, the data is µs-aligned. */
  private def normCol(spark: SparkSession, f: StructField, want: DataType): Column = {
    def requireUtc(): Unit = {
      val tz = spark.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"timestamp normalization of '${f.name}' (${f.dataType.sql} -> ${want.sql}) " +
          s"is epoch-preserving only under spark.sql.session.timeZone=UTC; session has '$tz'")
    }
    val c = col(f.name)
    val out = (f.dataType, want) match {
      case (LongType, TimestampType) => timestamp_micros(expr(s"`${f.name}` div 1000"))
      case (LongType, TimestampNTZType) =>
        requireUtc(); timestamp_micros(expr(s"`${f.name}` div 1000")).cast(want)
      case (TimestampNTZType, TimestampType) | (TimestampType, TimestampNTZType) =>
        requireUtc(); c.cast(want)
      case (DateType, TimestampType) => requireUtc(); c.cast(want)
      case _ => c.cast(want) // numeric widths, decimal measures, array elements
    }
    out.as(f.name)
  }

  /** Normalize an ALREADY-CONSTRUCTED frame of driver table `name` to
    * the canonical contract — the streaming entry's version of [[apply]].
    * A `readStream` needs a DECLARED schema, so a streaming caller
    * probes the dir's current physical schema with a one-footer batch
    * read, declares that on the stream, and routes the stream through
    * this — absorbing driver-layout drift identically in both modes
    * (the casts are plain projections, valid on streaming plans). */
  def normalized(spark: SparkSession, name: String, df: DataFrame): DataFrame =
    normalize(spark, name, df)

  private def normalize(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
    val wantSeq = canonical.getOrElse(name, Seq.empty)
    val want = wantSeq.toMap
    val drifted = df.schema.fields.exists(f => want.get(f.name).exists(_ != f.dataType))
    // column ORDER is part of the logical contract too (layout-drift
    // axis, round 16): a hive-partitioned lake layout surfaces partition
    // columns LAST on read, and any `SELECT *`-shaped plan would inherit
    // that physical accident — so declared columns come back in contract
    // order, undeclared extras (future driver columns) after, in
    // physical order. A plain projection: zero cost beyond the plan.
    val declared = wantSeq.map(_._1)
    val shared = declared.filter(df.columns.contains)
    val misordered = df.columns.toSeq.filter(shared.contains) != shared
    // a declared column can be missing from EVERY file of a table
    // written before that column existed (schema-evolution axis) — the
    // contract read surfaces it as a typed all-null column, exactly
    // what the union-schema read yields once the first new-schema file
    // lands beside the old ones
    val missing = declared.filterNot(df.columns.contains)
    if (!drifted && !misordered && missing.isEmpty) df
    else {
      val byName = df.schema.fields.map(f => f.name -> f).toMap
      val cols = declared.map { n =>
        byName.get(n) match {
          case Some(f) if want(n) != f.dataType => normCol(spark, f, want(n))
          case Some(f) => col(f.name)
          case None => lit(null).cast(want(n)).as(n) // missing everywhere
        }
      } ++ df.schema.fields.filterNot(f => declared.contains(f.name)).map(f => col(f.name))
      df.select(cols.toSeq: _*)
    }
  }

  /** Table frames are memoized per (session, dir, name): `spark.read
    * .parquet` runs a footer/schema-inference job at CONSTRUCTION time,
    * so without the memo every one of the 139 registry queries pays
    * 1-3 small driver-scheduled jobs just to be built. The memoized
    * frame pins nothing (no persist — only the resolved plan is
    * reused); [[SessionMemo.clear]] drops the entries so a regenerated
    * testdata dir is re-listed on the next run. Frames are returned
    * normalized to [[canonical]] — see the contract note there. */
  /** Layout-adaptive scan rebalance (optimization guide §2.5 "one huge
    * unsplittable file … repartition immediately after the read") —
    * OPT-IN per call site, never blanket. A parquet scan parallelizes
    * at ROW-GROUP granularity, so a table whose files carry one giant
    * row group each (the driver testdata is exactly this shape — every
    * sf dir table is a single-file, single-row-group parquet) executes
    * its whole scan STAGE on one core: every expression fused above the
    * scan (hashing, decimal products, string rendering) runs serially
    * while the other N-1 cores idle. The rebalance breaks that stage
    * with one round-robin exchange of the pruned input columns so the
    * heavy map work parallelizes.
    *
    * WHY opt-in: an r19 A/B of the same exchange applied at the shared
    * table read (all 10 tables, every query) showed it is an
    * anti-optimization for aggregate-first plans — it ships raw rows
    * that map-side partial aggregation would have collapsed (guide
    * §2.3 "aggregate before you shuffle"): llm_e1_exact_dedup 0.34 →
    * 0.78 s (full text shuffled ahead of the sha2 groupBy),
    * q_constraint_audit 2.3 → 4.3 s, q_profile_stats 2.0 → 3.1 s,
    * q_skew_diagnosis 0.8 → 2.0 s. It pays ONLY where the per-row map
    * work above the scan dwarfs a narrow-row shuffle:
    * q_table_fingerprint 2.5 → 1.6 s, q_fingerprint_drilldown 2.5 →
    * 1.7 s, q_corr_matrix 1.9 → 1.5 s (same-JVM interleaved A/B ×3,
    * identical results). Those sites call this; nothing else does.
    *
    * The guard is LAYOUT-derived, not scale-tuned: [[rebalanceFires]]
    * over the input's partition count, `defaultParallelism` and the
    * optimized plan's stats `sizeInBytes`. `force` overrides the guard
    * (Some(true) always rebalances, Some(false) never) so a caller can
    * A/B the two plans on the same input.
    * PRECONDITION: `df` must be free of exchanges (a scan plus narrow
    * operators). `parts` is read from `df.rdd`, which after a shuffle
    * is the post-shuffle count, not the scan's, so the guard would
    * measure the wrong stage. On a production lake (row groups ≈
    * 128 MB, parts ≫ cores) the condition is false and this is a
    * no-op. Round-robin repartition keeps Spark's
    * sort-before-repartition retry determinism, and every registry
    * result is partition-invariant by construction (Verify's local[7]
    * invariance audit is the gate). */
  def scanRebalanced(spark: SparkSession, df: DataFrame,
      force: Option[Boolean] = None): DataFrame = {
    if (df.isStreaming) return df // no partition probe on streaming plans
    val cores = spark.sparkContext.defaultParallelism
    val fires = force.getOrElse(rebalanceFires(
      df.rdd.getNumPartitions, // plans only; no job
      cores, df.queryExecution.optimizedPlan.stats.sizeInBytes))
    if (fires) df.repartition(cores) else df
  }

  /** Inputs of at most this many plan-stats bytes never rebalance. */
  val RebalanceMinBytes: Long = 512L * 1024

  /** The [[scanRebalanced]] guard; both comparisons are strict:
    *  - `parts * 2 < cores`, so the same code adapts to any core count
    *    and exactly half the cores does not fire;
    *  - `sizeInBytes > RebalanceMinBytes`, so exactly 512 KiB does not
    *    fire. */
  def rebalanceFires(parts: Int, cores: Int, sizeInBytes: BigInt): Boolean =
    parts * 2 < cores && sizeInBytes > RebalanceMinBytes

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionMemo.value(spark, dir, s"table:$name") {
      // mergeSchema: a long-lived table dir mixes files written before
      // and after a column existed (schema-evolution axis). Single-
      // footer inference would pick ONE file's schema — and silently
      // DROP the late column's values whenever it picks an old file, a
      // listing-order accident. The union read costs footer reads only
      // (distributed; data pages untouched); rows from old files
      // surface the late column as null, the same contract the
      // normalizer applies when the column is missing everywhere. A
      // 100 TB deployment that declares its schema up front skips the
      // inference entirely — [[canonical]] IS that declaration; this
      // path is the inference-mode equivalent.
      val path = s"$dir/$name.parquet"
      // pathGlobFilter: a long-lived table DIR accumulates junk beside
      // its data files — editor strays, half-renamed writer temps
      // (`part-*.parquet.tmp`), stray notes (dirty-directory axis,
      // round 17). Spark's listing already drops HIDDEN junk (`.`/`_`
      // prefixes — markers, .crc shadows, _temporary dirs) but reads
      // every other file as parquet and dies on the first non-parquet
      // footer. The lake convention is that DATA files end in
      // `.parquet`; this filter pins it (and mirrors the oracle's
      // `dir/*.parquet` glob — tools/check.py). Boundary: junk NAMED
      // like data (a zero-byte `x.parquet`) still fails loudly on both
      // engines — that is corruption, not junk. On a single-FILE table
      // the filter matches the file's own basename, a no-op.
      val frame =
        try spark.read
          .option("pathGlobFilter", "*.parquet")
          .option("mergeSchema", "true").parquet(path)
        catch {
          // WIDTH evolution (fourteenth axis): a key column widened
          // mid-lake (int32 files beside int64 files) is UNMERGEABLE by
          // footer union — but the parquet reader itself absorbs it
          // under a DECLARED schema (Spark 4 width promotion reads an
          // int32 page into a declared int64 column), which is exactly
          // what a production deployment does anyway. Fall back to
          // reading with the canonical contract as the declared schema;
          // DuckDB's union_by_name promotes identically on the oracle
          // side. Boundary: the fallback reads DECLARED columns only
          // (undeclared extras survive the inference path, not this
          // one), and any other construction failure rethrows untouched.
          case e: Throwable if {
            def msgs(t: Throwable): Seq[String] =
              if (t == null) Nil
              else Option(t.getMessage).toSeq ++ msgs(t.getCause)
            msgs(e).exists(m => m.contains("CANNOT_MERGE_SCHEMAS") ||
              m.contains("Failed merging schemas")) &&
              canonical.contains(name)
          } =>
            val contract = StructType(canonical(name).map {
              case (n, t) => StructField(n, t)
            })
            spark.read
              .option("pathGlobFilter", "*.parquet")
              .schema(contract).parquet(path)
        }
      normalize(spark, name, frame)
    }

  /** [[apply]]'s memoized frame with its file listing renewed. The memo
    * keeps the listing of the first read, and Spark re-lists a path on
    * a write or on `spark.catalog.refreshByPath` only for plans in the
    * cache, so a reader that must see files landed since (a dashboard
    * refresh) asks for the table through here. */
  def relisted(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = apply(spark, dir, name)
    df.queryExecution.analyzed.collectLeaves().collect { case r: LogicalRelation => r.relation }
      .foreach { case h: HadoopFsRelation => h.location.refresh(); case _ => }
    df
  }

  /** Locale-proof fixed-decimal rendering for the probes'/bench's JSON
    * lines. The f-interpolator (and argless String.format) format
    * through the JVM's DEFAULT locale, so a comma-decimal locale (e.g.
    * de_DE) renders `"value":169,711` — invalid JSON — in every emitted
    * metric line. Same defect class as the generated-oracle literals
    * (SemDedup.dlit / UnigramLm): all machine-read number rendering
    * must be locale-pinned. Non-finite falls back to Double.toString
    * (JSON-invalid either way, but preserved for debuggability). */
  def jdec(v: Double, scale: Int): String =
    if (java.lang.Double.isFinite(v))
      java.math.BigDecimal.valueOf(v)
        .setScale(scale, java.math.RoundingMode.HALF_UP).toPlainString
    else java.lang.Double.toString(v)

  /** Memoized per-(session, dir, table) emptiness probe for the
    * empty-input `()` grouping-set branch (see q_rollup_order_stats'
    * scaladoc): `isEmpty` is `limit(1)` over the scan — it reads one
    * row and stops — but it IS an eager driver job, and rollup/cube/
    * grouping-sets each paid it on every construction (3× per bench
    * pass). Memoizing per table collapses that to one probe per
    * (session, dir) for the lifetime of the session; SessionMemo.clear
    * drops it with the table frames when a dir is regenerated.
    * Staleness contract is deliberately THE SAME as the memoized
    * `table:` frames themselves: a dir rewritten in place mid-session
    * without clear() already serves a stale file listing to every
    * query (the resolved scan pins its InMemoryFileIndex), so the
    * cached emptiness bit adds no new staleness class — clear() is the
    * one regeneration protocol for both. */
  def tableIsEmpty(spark: SparkSession, dir: String, name: String): Boolean =
    SessionMemo.value(spark, dir, s"empty:$name")(apply(spark, dir, name).isEmpty)

  /** Register every driver table as a temp view (named exactly as in
    * the oracle SQL: lineitem, orders, …) and the graft SQL functions —
    * after this one call the whole engine is reachable from SQL TEXT
    * (`spark.sql("SELECT vec_dot(...) FROM embeddings …")`), which is
    * how a notebook/BI user rather than a library caller consumes it.
    * Views are lazy plan aliases over the memoized reads — registering
    * them costs nothing and they follow the session's lifecycle. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    tableNames.foreach(t => T(spark, dir, t).createOrReplaceTempView(t))
    functions.GraftFunctions.register(spark)
  }

  /** Silence WindowExec's "No Partition Defined" WARN in harness runs.
    * Every global window in the registry is bounded by construction and
    * documented at its site (Weighted: 100 surviving rows; Temporal:
    * per-hour aggregates; Multiset: 25-row dimension aggregate), so the
    * warning is a false alarm here — and dozens of repeats of it bury
    * real regressions in the bench/verify logs. Scoped to the window
    * exec package only; everything else keeps WARN. */
  def quietBoundedWindowWarnings(): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    // FileStreamSink's resolution-time metadata probe WARN-logs (stack
    // trace included) a FileNotFoundException on every glob-path batch
    // read — a benign probe that nonetheless prints the longest
    // "error" in the harness logs and has cost reviewer time two
    // rounds running. The emitting logger is FileStreamSink itself
    // (the probe runs inside its companion's hasMetadata, not inside
    // DataSource, which merely calls it). Same scoping rationale as
    // above: this one logger, everything else keeps WARN.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
      org.apache.logging.log4j.Level.ERROR)
  }

  /** TRUE iff `c` (viewed as double) is a finite number; NULL yields
    * NULL, which `when()` routes to the otherwise branch — so guards
    * built on this treat NULL and non-finite alike, as MISSING. */
  def finite(c: Column): Column = {
    val d = c.cast("double")
    !isnan(d) && abs(d) =!= lit(Double.PositiveInfinity)
  }

  /** The DuckDB spelling of [[finite]]. */
  def sqlFinite(e: String): String = s"isfinite(CAST(($e) AS DOUBLE))"

  /** TRUE iff `c` has an exact DECIMAL(18,2) money reading: finite AND
    * |v| < 10^16 (the 18,2 integer capacity). Beyond-range magnitudes
    * (a corrupt sensor emitting 1e20) are as unaggregatable as NaN —
    * and the engines disagree at the cast (Spark nulls, DuckDB throws
    * even under an isfinite guard — measured). */
  def moneyRange(c: Column): Column =
    finite(c) && abs(c.cast("double")) < lit(1e16)

  /** The DuckDB spelling of [[moneyRange]]. */
  def sqlMoneyRange(e: String): String =
    s"(${sqlFinite(e)} AND abs(CAST(($e) AS DOUBLE)) < 1e16)"

  /** Exact 2-decimal view of a double measure column (prices, discounts).
    *
    * NON-FINITE inputs (NaN/±Inf — a fact of any 100 TB metric column)
    * are MISSING by contract: there is no exact-decimal reading of NaN,
    * and the two engines disagree at the cast (Spark nulls, DuckDB
    * throws), so both sides guard explicitly — [[sqlMoney]] mirrors
    * with `CASE WHEN isfinite`. Identity on finite data. Raw
    * double-typed stats (min/max/avg) are NOT guarded: IEEE propagation
    * is engine-identical and faithful there. Pinned by NonFiniteInputSpec. */
  def money(c: Column): Column = when(moneyRange(c), c).cast(DecimalType(18, 2))
  def money(name: String): Column = money(col(name))

  /** The corpus embedding DIMENSION — a declared data contract, like
    * the retention window: every vector op (cosine, LSH, IVF, PQ)
    * assumes ONE fixed model dimension, and the PQ geometry
    * (M subspaces × subDim — [[graft.llmops.ProductQuant]]) is built
    * against it. Real corpora drift here (mixed embedding-model
    * versions writing one table, truncated or empty rows), and
    * tolerating drift has the worst failure mode available: a
    * min-length dot product returns PLAUSIBLE-BUT-WRONG similarities
    * where the oracle's list_zip null-pads to NULL — silent divergence,
    * not an error. Measured on the dimension-drift fixture before this
    * contract existed: 7 of 9 ANN queries crashed outright (zero-norm
    * divides from empty vectors, PQ subvector slicing out of bounds on
    * 32-dim rows) and the rest truncated silently.
    *
    * Deliberately a COMPILE-TIME constant, not a runtime conf (unlike
    * `graft.evalBroadcast.maxRows`, which bounds a data-size hazard):
    * the dimension is baked into artifacts a conf cannot reach — the
    * PQ subvector geometry (M × subDim, tied by a require), codebook
    * shapes, and the static oracle predicate string — so a different
    * corpus dimension is a library build parameter, changed here and
    * nowhere else. */
  val embeddingDim: Int = 64

  /** A vector is INDEXABLE iff present, of the declared
    * [[embeddingDim]], with every element finite, and NOT all-zero:
    * a NaN/Inf slot poisons every distance, norm, bucket and code
    * built from it — and the engines diverge on poisoned comparisons
    * (DuckDB orders NaN above +Inf even in `>=`, Spark follows IEEE
    * false) — a wrong-DIMENSION vector silently truncates the fused
    * dot product (min-length loop) and breaks the PQ subvector
    * geometry, and an all-ZERO vector (padding / failed-encode rows)
    * has no direction: zero norm is an ANSI DIVIDE_BY_ZERO in every
    * cosine (measured — five llm_e3 crashes on the zero-vector
    * fixture). So every vector-op read drops non-indexable vectors,
    * mirrored by [[sqlIndexable]] in the paired oracles. Pinned by
    * NonFiniteInputSpec + NullInputSpec + DimDriftSpec. */
  val indexableEmbedding: Column =
    functions.VectorFunctions.vecIndexable(col("embedding")) &&
      size(col("embedding")) === embeddingDim

  /** The DuckDB spelling of [[indexableEmbedding]] (a WHERE predicate).
    * The `x IS NULL` arm matters: list_filter EXCLUDES null elements,
    * so without it a slot-nulled vector filters to len 0 and is KEPT
    * here while [[graft.functions.VecIndexable]] rejects it. The
    * nonzero clause compares `x != 0` — exact, like the engine's
    * `d != 0.0` (−0.0 = 0.0 in both, so all-negative-zero vectors are
    * dropped on both sides). */
  val sqlIndexable: String =
    "embedding IS NOT NULL AND len(list_filter(embedding, " +
      "x -> x IS NULL OR NOT isfinite(CAST(x AS DOUBLE)))) = 0" +
      s" AND len(embedding) = $embeddingDim" +
      " AND len(list_filter(embedding, x -> x != 0)) > 0"

  /** The Unicode White_Space property set — the reference's Python
    * `.strip()` semantics (str.isspace minus the non-White_Space
    * C1 separators 1C–1F, which no engine treats as space). Spark's
    * `trim` strips ONLY ASCII 0x20 while DuckDB's `trim` strips only
    * category Zs (measured: neither touches \t, and only DuckDB eats
    * NBSP/U+3000) — so real multilingual text diverges in BOTH
    * directions unless the class is spelled explicitly. `\x{h..h}`
    * escapes parse identically in Java regex and RE2, so one pattern
    * string serves both engines. Pinned by UnicodeTextSpec. */
  private val wsCodepoints: Seq[Int] =
    Seq(0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x20, 0x85, 0xA0, 0x1680) ++
      (0x2000 to 0x200A) ++ Seq(0x2028, 0x2029, 0x202F, 0x205F, 0x3000)
  val wsClass: String =
    wsCodepoints.map(cp => "\\x{%04X}".format(cp)).mkString("[", "", "]")

  /** Reference-parity strip: remove leading/trailing Unicode
    * White_Space (Python `.strip()`), identically in both engines.
    * Codegen'd two-pointer scan ([[graft.functions.UStrip]]) — the
    * regexp_replace spelling of [[wsClass]] is identical semantics at
    * regex-NFA cost (measured +2.6s on one sf0.1 query). */
  def ustrip(c: Column): Column = functions.TextFunctions.ustrip(c)

  /** The DuckDB spelling of [[ustrip]] (same pattern text, RE2). */
  def sqlUstrip(e: String): String =
    s"regexp_replace($e, '^$wsClass+|$wsClass+$$', '', 'g')"

  /** ASCII-only case fold via translate — exact cross-engine parity by
    * construction on ANY input. Locale-full upper()/lower() diverge
    * between the engines off the ASCII range (Java upper('ß') = "SS"
    * where DuckDB emits 'ẞ'; Java lower('İ') = "i̇" — two codepoints —
    * where DuckDB emits 'i'), so code-like dimension columns case-fold
    * ASCII letters only and pass everything else through unchanged. */
  private val azLower = "abcdefghijklmnopqrstuvwxyz"
  private val azUpper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
  def asciiUpper(c: Column): Column = translate(c, azLower, azUpper)
  def sqlAsciiUpper(e: String): String = s"translate($e, '$azLower', '$azUpper')"

  /** Line-break normalization for line-oriented text export: a
    * one-record-per-line corpus cannot carry embedded terminators
    * (Hadoop's LineReader splits on \n, \r and \r\n — a 100 TB corpus
    * always contains some), so the WRITER maps each break to one
    * space. [[sqlNormLines]] mirrors for oracles that model the
    * written file. Pinned by UnicodeTextSpec. */
  def normLines(c: Column): Column =
    replace(replace(replace(c, lit("\r\n"), lit(" ")), lit("\r"), lit(" ")),
      lit("\n"), lit(" "))
  def sqlNormLines(e: String): String =
    s"replace(replace(replace($e, chr(13) || chr(10), ' '), chr(13), ' '), chr(10), ' ')"

  /** Tie-free quantization of a COMPUTED double to 1/`scale` steps:
    * with y = x·scale + 0.5, emit (y − (y % 1)) / scale — the same
    * `q - (q % 1.0)` exact-truncation discipline PageRank uses, spelled
    * with identical double operations in both engines (see
    * [[quantizeSql]]), so the quantized value is bit-identical by
    * construction and NaN/±Inf propagate identically (fmod maps both
    * to NaN everywhere). `round(x, k)` is NOT safe for oracle-paired
    * outputs: Spark rounds HALF_UP over the exact BigDecimal expansion
    * of the double while DuckDB rounds after a lossy multiply, so a
    * value within an ulp of a half-step boundary can flip in one
    * engine only. Rounding convention: half-up for non-negative
    * inputs; for NEGATIVE inputs (cosines can be negative) the
    * `% 1.0` truncates the +0.5-shifted value TOWARD ZERO, which is
    * not nearest rounding — e.g. −0.12349 quantizes to −0.1234, up to
    * one full step from nearest. That bias is identical in both
    * engines (same ops, same order) and strictly monotone, so
    * cross-engine parity and every ranking built on quantized values
    * are unaffected; only the absolute reported value of a negative
    * quantity carries the ≤1-step skew. For decimal-ORIGIN values
    * (already exact at the target scale) plain round() is an identity
    * and fine. */
  def quantize(c: Column, scale: Double): Column = {
    val y = c * lit(scale) + lit(0.5)
    (y - (y % lit(1.0))) / lit(scale)
  }

  /** The DuckDB spelling of [[quantize]] — same ops, same order. */
  def quantizeSql(e: String, scale: String): String =
    s"(($e) * $scale + 0.5 - ((($e) * $scale + 0.5) % 1.0)) / $scale"

  /** Order-insensitive exact sum of a 2-decimal measure, returned as double. */
  def dsum(c: Column): Column = sum(money(c)).cast("double")

  /** In-plan backstop for MIN/MAX-derived time spines. A dense spine's
    * cardinality is clock-range-proportional, so ONE wild-clock row
    * (epoch 0 from an uninitialized field, 1677/2262 from ns-int64
    * reinterpretation) widens it to centuries — measured on the
    * round-12 extreme-timestamp gate, where a single 1677/2262 pair
    * exploded the hour×type grid from 17k to 25.6M rows (~1h oracle
    * compare). The declared defense is upstream (the streaming quality
    * gate's `ts_in_retention` rule quarantines out-of-window clocks at
    * ingest; spine operators consume gated data by contract), but a
    * contract this sharp must fail LOUDLY when violated: this guard
    * wraps the sequence() expression inside the existing 1-row bounds
    * frame and raises a descriptive error once the span exceeds
    * `graft.spine.maxHours` (default 200000 ≈ 22.8 years — far above
    * any plausible gated data window, far below the centuries a wild
    * clock produces), so a gate bypass is an immediate error, not an
    * hour-long hang. Zero extra scans, zero shuffles: the predicate
    * rides the bounds row the spine already computes. NULL span (empty
    * input) passes through — sequence(null, null) stays null and
    * explode() drops it, preserving the empty-input contract. */
  def spineGuard(s: SparkSession, op: String, spanHours: Column,
      lo: Column, hi: Column, seq: Column): Column = {
    // conf-first, env-fallback: harnesses without conf plumbing (a
    // Verify/check gate over a deliberately wild-clock fixture) opt
    // into the wide spine via GRAFT_SPINE_MAX_HOURS; the cap binds at
    // plan build on the driver, so the env read never runs on executors
    val cap = s.conf.get("graft.spine.maxHours",
      sys.env.getOrElse("GRAFT_SPINE_MAX_HOURS", "200000")).toLong
    val span = spanHours.cast("long") // whole hours in the message, not 478012.0
    when(coalesce(span <= lit(cap), lit(true)), seq)
      .otherwise(raise_error(format_string(
        s"$op: dense time spine spans %s hours, over graft.spine.maxHours=$cap " +
          "(bounds %s .. %s). Wild-clock rows are present upstream: spine " +
          "operators consume ts_in_retention-gated data by contract " +
          "(graft.streaming.EventStreams.eventRules); quarantine the " +
          "out-of-window rows or raise graft.spine.maxHours explicitly.",
        span, lo.cast("string"), hi.cast("string"))))
  }

  /** price * (1 - discount) with exact decimal arithmetic, scale 4. */
  def discPrice(price: Column, discount: Column): Column =
    (money(price) * (lit(1).cast(DecimalType(18, 2)) - money(discount)))
      .cast(DecimalType(18, 4))

  /** disc_price * (1 + tax), exact, scale 6 (fits decimal(27,6)). */
  def charge(price: Column, discount: Column, tax: Column): Column =
    (discPrice(price, discount) * (lit(1).cast(DecimalType(18, 2)) + money(tax)))
      .cast(DecimalType(27, 6))

  /** DuckDB-side equivalents of the helpers above (string templates).
    * The finite guard mirrors [[money]]: without it DuckDB throws on
    * `CAST(NaN AS DECIMAL)` where Spark nulls. */
  def sqlMoney(c: String): String =
    s"CAST(CASE WHEN ${sqlMoneyRange(c)} THEN ($c) END AS DECIMAL(18,2))"

  /** Correctly-rounded DECIMAL→DOUBLE for ORACLE SQL. DuckDB's direct
    * `CAST(dec AS DOUBLE)` converts the int128 payload to double and
    * then divides by 10^scale — TWO roundings, which can land one ulp
    * off the nearest double once the scaled payload exceeds 2^53.
    * Spark's cast (BigDecimal.doubleValue) is correctly rounded at any
    * magnitude, so the engines can disagree in the last ulp on large
    * exact-decimal sums: first observed on the sf0.001 corr-matrix
    * gate, where group A's Σ(extendedprice²) = 7096786968835.8685
    * (scaled payload 7.1e16 > 2^53) converts to …869 in DuckDB vs the
    * correctly-rounded …868 in Spark. Routing through VARCHAR fixes
    * the class: decimal→varchar emits the exact digits and DuckDB's
    * string→double parse is correctly rounded, so the oracle double is
    * bit-identical to Spark's BY CONSTRUCTION at every magnitude.
    * Every decimal-sum→double conversion in oracle SQL must use this
    * spelling; integer sums (counts) below 2^53 convert exactly either
    * way and may keep the plain cast. Pinned by Dec2DblSpec. */
  def sqlDec2Dbl(e: String): String = s"CAST(CAST(($e) AS VARCHAR) AS DOUBLE)"
  def sqlDsum(c: String): String = sqlDec2Dbl(s"SUM(${sqlMoney(c)})")
  def sqlDiscPrice(p: String, d: String): String =
    s"CAST(${sqlMoney(p)} * (1 - ${sqlMoney(d)}) AS DECIMAL(18,4))"
  def sqlCharge(p: String, d: String, t: String): String =
    s"CAST(${sqlDiscPrice(p, d)} * (1 + ${sqlMoney(t)}) AS DECIMAL(27,6))"
}

/** Central inventory; SparkEntry derives `queries`/`oracleSql` from this. */
object Registry {
  def all: Seq[GraftQuery] =
    parity.Parity.queries ++
      relational.Relational.queries ++
      relational.Advanced.queries ++
      relational.Multiset.queries ++
      relational.Olap.queries ++
      relational.Profile.queries ++
      relational.Subqueries.queries ++
      relational.TypedAgg.queries ++
      relational.Graph.queries ++
      events.EventAnalytics.queries ++
      events.Attribution.queries ++
      events.GapFill.queries ++
      events.Lifecycle.queries ++
      events.Rolling.queries ++
      events.Skew.queries ++
      events.Temporal.queries ++
      llmops.BigramLm.queries ++
      llmops.BpeMerges.queries ++
      llmops.Dsir.queries ++
      llmops.LlmOps.queries ++
      llmops.SemDedup.queries ++
      llmops.VocabPrune.queries ++
      llmops.UnigramLm.queries ++
      llmops.Mixture.queries ++
      llmops.TextRanking.queries ++
      llmops.Retrieval.queries ++
      llmops.Quantize.queries ++
      llmops.ProductQuant.queries ++
      llmops.Weighted.queries ++
      llmops.Multimodal.queries ++
      sources.Formats.queries ++
      sources.Layout.queries

  def byName(name: String): GraftQuery =
    all.find(_.name == name).getOrElse(
      sys.error(s"unknown query: $name; valid: ${all.map(_.name).mkString(", ")}"))
}
