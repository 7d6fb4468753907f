package graft.events

import graft.{SparkSpec, T}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The sfDir physical schema is DRIVER-OWNED and has already moved once
  * under the engine (round 10: events.ts shipped as parquet
  * timestamp[ns] through round 9, then regenerated as timestamp[us]
  * with isAdjustedToUTC=false — surfacing as TIMESTAMP_NTZ — which
  * broke every unix_micros-based event query at the driver gate). Since
  * round 11 every driver table is normalized to [[graft.T.canonical]]
  * at the read; this spec writes the SAME rows in every physical
  * encoding the testdata has shipped (or plausibly could) and asserts
  * the normalized frame is identical — so the NEXT regeneration is
  * caught by `sbt test` instead of the round's correctness run.
  *
  * The scratch root is a fresh temp dir of this spec run, so two
  * concurrent test JVMs on one machine cannot delete each other's
  * fixtures mid-read. */
class SchemaDriftSpec extends SparkSpec {

  private val scratchRoot = tempDir("graft_drift")

  /** Write `df` as `<table>.parquet` under a per-variant sfDir-shaped
    * scratch dir and read it back through the T normalizer. */
  private def viaT(table: String, tag: String, df: DataFrame): DataFrame = {
    val dir = s"$scratchRoot/$tag"
    df.write.mode("overwrite").parquet(s"$dir/$table.parquet")
    T(spark, dir, table)
  }

  /** Assert every variant normalizes to the canonical column types and
    * to value-identical rows (compared on `probe` projections, which
    * must render drift-sensitively: epochs for timestamps, exact
    * numerics for measures). */
  private def assertInvariant(table: String, variants: Map[String, DataFrame],
      probe: DataFrame => DataFrame): Unit = {
    val want = T.canonical(table).toMap
    variants.foreach { case (tag, df) =>
      withClue(s"variant $tag schema: ") {
        df.schema.fields.filter(f => want.contains(f.name)).foreach { f =>
          withClue(s"column ${f.name}: ") { f.dataType shouldBe want(f.name) }
        }
      }
    }
    val collected = variants.map { case (tag, df) =>
      tag -> probe(df).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    }
    val reference = collected.head._2
    collected.foreach { case (tag, got) =>
      withClue(s"variant $tag rows: ") { got shouldBe reference }
    }
  }

  // ---- events: the round-10 incident, all three shipped ts shapes ----

  private val eventRows = Seq(
    (1L, 1700000000000000L, 7L, "click", 1.5, """{"k":1}"""),
    (2L, 1700000000123456L, 8L, "purchase", 2.5, """{"k":2}"""),
    (3L, 1700003600000000L, 7L, "view", 0.0, null: String))

  private def eventsVariant(tag: String)(shape: Column => Column): DataFrame = {
    import spark.implicits._
    viaT("events", s"ev_$tag",
      eventRows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .select(col("event_id"), shape(col("ts_us")).as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props")))
  }

  test("events: long-nanos, NTZ and LTZ ts all normalize to one TimestampType frame") {
    val variants = Map(
      "nanos" -> eventsVariant("nanos")(us => (us * lit(1000L)).cast(LongType)),
      "ntz" -> eventsVariant("ntz")(us => timestamp_micros(us).cast(TimestampNTZType)),
      "ltz" -> eventsVariant("ltz")(us => timestamp_micros(us)))
    assertInvariant("events", variants,
      _.select(col("event_id"), unix_micros(col("ts")), col("props")))
    // and the epochs are the exact microseconds that were written
    val got = variants("nanos").select(col("event_id"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    got shouldBe eventRows.map(r => (r._1, r._2)).sortBy(_._1)
  }

  // ---- embeddings: float vs double list element, key/label widths ----

  test("embeddings: double-element lists and narrowed key widths normalize") {
    import spark.implicits._
    // float-representable values so the double→float cast is exact
    val base = Seq((1L, Array(0.5f, -1.25f, 3.0f), 0),
      (2L, Array(2.5f, 0.0f, -0.75f), 1)).toDF("vec_id", "embedding", "label")
    val variants = Map(
      "canonical" -> viaT("embeddings", "emb_f", base),
      "double_elems" -> viaT("embeddings", "emb_d",
        base.withColumn("embedding", col("embedding").cast(ArrayType(DoubleType)))),
      "narrow_keys" -> viaT("embeddings", "emb_i32",
        base.withColumn("vec_id", col("vec_id").cast(IntegerType))
          .withColumn("label", col("label").cast(LongType))))
    assertInvariant("embeddings", variants, df => df)
  }

  // ---- lineitem: decimal measures, date/NTZ/LTZ shipdate, key widths ----

  // midnight-aligned dates (matching the testdata) so the DateType
  // variant round-trips to the identical NTZ midnight
  private lazy val liBase = {
    import spark.implicits._
    Seq(
      (1L, 10L, 100L, 1, 17.0, 1200.50, 0.05, 0.02, "N", "O", "1997-03-05 00:00:00"),
      (1L, 11L, 101L, 2, 36.0, 890.25, 0.10, 0.04, "R", "F", "1998-11-29 00:00:00"))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "ship")
      .withColumn("l_shipdate", col("ship").cast(TimestampNTZType)).drop("ship")
  }

  private def liProbe(df: DataFrame): DataFrame = df.select(
    col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
    col("l_extendedprice"), T.money("l_extendedprice").cast("string"),
    unix_micros(col("l_shipdate").cast(TimestampType)))

  test("lineitem: decimal measures, date/LTZ shipdate and int32 keys normalize") {
    val base = liBase
    val variants = Map(
      "canonical" -> viaT("lineitem", "li_base", base),
      "decimal_measures" -> viaT("lineitem", "li_dec",
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").foldLeft(base) {
          (df, c) => df.withColumn(c, col(c).cast(DecimalType(12, 2)))
        }),
      "date_shipdate" -> viaT("lineitem", "li_date",
        base.withColumn("l_shipdate", col("l_shipdate").cast(DateType))),
      "ltz_shipdate" -> viaT("lineitem", "li_ltz",
        base.withColumn("l_shipdate", col("l_shipdate").cast(TimestampType))),
      "narrow_keys" -> viaT("lineitem", "li_i32",
        Seq("l_orderkey", "l_partkey", "l_suppkey").foldLeft(base) {
          (df, c) => df.withColumn(c, col(c).cast(IntegerType))
        }))
    assertInvariant("lineitem", variants, liProbe)
  }

  test("lineitem: the full drift-combination matrix normalizes identically") {
    // drift dimensions compose in real regenerations (a new writer can
    // change measures AND dates AND widths at once); enumerate the full
    // 2×3×2 cross product rather than trusting single-axis coverage
    val measureShapes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "md" -> identity,
      "mdec" -> (df => Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(DecimalType(12, 2))))))
    val dateShapes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "sntz" -> identity,
      "sltz" -> (_.withColumn("l_shipdate", col("l_shipdate").cast(TimestampType))),
      "sdate" -> (_.withColumn("l_shipdate", col("l_shipdate").cast(DateType))))
    val keyShapes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "k64" -> identity,
      "k32" -> (df => Seq("l_orderkey", "l_partkey", "l_suppkey")
        .foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(IntegerType)))))
    val variants = (for {
      (mTag, m) <- measureShapes
      (sTag, s) <- dateShapes
      (kTag, k) <- keyShapes
    } yield s"${mTag}_${sTag}_$kTag" ->
      viaT("lineitem", s"limx_${mTag}_${sTag}_$kTag", k(s(m(liBase))))).toMap
    variants should have size 12
    assertInvariant("lineitem", variants, liProbe)
  }

  test("predicate pushdown survives key-width drift (UnwrapCastInBinaryComparison)") {
    // T.canonical scaladoc claims numeric width drift keeps parquet
    // pushdown because Catalyst unwraps `cast(i32 as bigint) = lit`
    // back onto the scan column — pin that claim so a Spark upgrade or
    // normalizer change that silently loses pushdown fails here
    import spark.implicits._
    val df = viaT("lineitem", "li_pushdown",
      liBase.withColumn("l_orderkey", col("l_orderkey").cast(IntegerType)))
      .filter(col("l_orderkey") === 1L)
    df.count() shouldBe 2L
    val plan = df.queryExecution.executedPlan.toString
    plan should include("PushedFilters")
    plan should include("EqualTo(l_orderkey,1)")
  }

  // ---- orders: the other shipped-timestamp table ----

  test("orders: date and LTZ o_orderdate normalize to the NTZ contract") {
    import spark.implicits._
    val base = Seq(
      (1L, 7L, "O", 1000.50, "1996-01-02 00:00:00", "1-URGENT"),
      (2L, 8L, "F", 2200.25, "1993-07-14 00:00:00", "3-MEDIUM"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "od", "o_orderpriority")
      .withColumn("o_orderdate", col("od").cast(TimestampNTZType)).drop("od")
    val variants = Map(
      "canonical" -> viaT("orders", "ord_base", base),
      "date" -> viaT("orders", "ord_date",
        base.withColumn("o_orderdate", col("o_orderdate").cast(DateType))),
      "ltz" -> viaT("orders", "ord_ltz",
        base.withColumn("o_orderdate", col("o_orderdate").cast(TimestampType))))
    assertInvariant("orders", variants, df => df.select(
      col("o_orderkey"), unix_micros(col("o_orderdate").cast(TimestampType)),
      col("o_totalprice")))
  }

  // ---- documents: count/key width drift ----

  test("documents: int32 doc_id and n_chars normalize to the int64 contract") {
    import spark.implicits._
    val base = Seq((1L, "hello world", "en", "web", 11L),
      (2L, "bonjour", "fr", "book", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val variants = Map(
      "canonical" -> viaT("documents", "doc_base", base),
      "narrow" -> viaT("documents", "doc_i32",
        base.withColumn("doc_id", col("doc_id").cast(IntegerType))
          .withColumn("n_chars", col("n_chars").cast(IntegerType))))
    assertInvariant("documents", variants, df => df)
  }

  // ---- the five dimension tables: key-width + decimal-money drift ----
  // (completes the all-10-tables sweep; money values use .25/.50
  // fractions so the decimal(12,2)->double cast is binary-exact)

  test("dimension tables: key-width and decimal-money drift normalizes") {
    import spark.implicits._
    val cases: Seq[(String, DataFrame, DataFrame => DataFrame)] = Seq(
      ("region",
        Seq((0, "AFRICA"), (1, "ASIA")).toDF("r_regionkey", "r_name"),
        df => df.withColumn("r_regionkey", col("r_regionkey").cast(LongType))),
      ("nation",
        Seq((0, "ALGERIA", 0), (5, "JAPAN", 2)).toDF("n_nationkey", "n_name", "n_regionkey"),
        df => df.withColumn("n_nationkey", col("n_nationkey").cast(LongType))
          .withColumn("n_regionkey", col("n_regionkey").cast(LongType))),
      ("customer",
        Seq((1L, "Customer#1", 3, 711.25, "BUILDING"),
          (2L, "Customer#2", 7, -200.50, "MACHINERY"))
          .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        df => df.withColumn("c_custkey", col("c_custkey").cast(IntegerType))
          .withColumn("c_nationkey", col("c_nationkey").cast(LongType))
          .withColumn("c_acctbal", col("c_acctbal").cast(DecimalType(12, 2)))),
      ("supplier",
        Seq((1L, "Supplier#1", 4, 4032.75), (2L, "Supplier#2", 9, 0.25))
          .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
        df => df.withColumn("s_suppkey", col("s_suppkey").cast(IntegerType))
          .withColumn("s_acctbal", col("s_acctbal").cast(DecimalType(12, 2)))),
      ("part",
        Seq((1L, "ivory blue", "Brand#13", "SMALL PLATED", 7, 901.00),
          (2L, "mint green", "Brand#42", "LARGE BRUSHED", 21, 1300.50))
          .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
        df => df.withColumn("p_partkey", col("p_partkey").cast(IntegerType))
          .withColumn("p_size", col("p_size").cast(LongType))
          .withColumn("p_retailprice", col("p_retailprice").cast(DecimalType(12, 2)))))
    cases.foreach { case (table, base, drift) =>
      val variants = Map(
        "canonical" -> viaT(table, s"${table}_base", base),
        "drifted" -> viaT(table, s"${table}_drift", drift(base)))
      withClue(s"table $table: ") { assertInvariant(table, variants, df => df) }
    }
  }

  // ---- the live sfDir: contract == what the driver currently ships ----

  test("every live sfDir table normalizes exactly to the canonical contract") {
    T.tableNames.foreach { t =>
      val got = T(spark, sfDir, t).schema
      T.canonical(t).foreach { case (name, tpe) =>
        withClue(s"$t.$name: ") {
          got(name).dataType shouldBe tpe
        }
      }
    }
    // and the normalized events table answers the query family that
    // broke in round 10
    val n = EventAnalytics.events(spark, sfDir)
      .select(unix_micros(col("ts")).as("us")).filter(col("us") > 0L).count()
    n should be > 0L
  }
}
