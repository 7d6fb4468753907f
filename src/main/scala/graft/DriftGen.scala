package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Builder utility: re-encode an sfDir into a PHYSICALLY-DRIFTED copy,
  * one drift axis per variant, so the FULL driver-shaped gate
  * (graft.Verify + tools/check.py) can be exercised against the exact
  * regeneration shapes the driver could ship next. SchemaDriftSpec
  * proves the ENGINE is invariant; this probes the other half of the
  * pairing — the DuckDB oracle reads the drifted parquet natively, so
  * an oracle-side divergence (e.g. decimal vs double aggregation
  * discipline) only shows up at gate level.
  *
  * Usage: `runMain graft.DriftGen <srcSfDir> <outRoot> [axis…]`
  * Axes: ltz (all shipped timestamps as adjusted-to-UTC), date
  * (midnight-aligned order/ship dates as date32), i32 (narrowable int64
  * keys as int32), dec (2-decimal money/measures as decimal(12,2)),
  * f64 (embedding list elements as double). Default: all. */
object DriftGen {
  private val tsCols = Map(
    "orders" -> Seq("o_orderdate"), "lineitem" -> Seq("l_shipdate"),
    "events" -> Seq("ts"))
  private val dateCols = Map(
    "orders" -> Seq("o_orderdate"), "lineitem" -> Seq("l_shipdate"))
  private val i32Cols = Map(
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id", "n_chars"), "embeddings" -> Seq("vec_id"))
  private val decCols = Map(
    "orders" -> Seq("o_totalprice"),
    "lineitem" -> Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "customer" -> Seq("c_acctbal"), "supplier" -> Seq("s_acctbal"),
    "part" -> Seq("p_retailprice"))

  private[graft] def recode(axis: String, t: String, df: DataFrame): DataFrame = axis match {
    case "ltz" => tsCols.getOrElse(t, Nil).foldLeft(df) { (d, c) =>
      // a LongType source is parquet timestamp[ns] surfaced as raw nanos
      // by nanosAsLong; cast(long AS timestamp) would read SECONDS, so
      // route through micros explicitly (ns→µs truncation is lossless,
      // the data is µs-aligned)
      val src = d.schema(c).dataType match {
        case LongType => timestamp_micros(expr(s"`$c` div 1000"))
        case _ => col(c)
      }
      d.withColumn(c, src.cast(TimestampType))
    }
    case "date" => dateCols.getOrElse(t, Nil).foldLeft(df)((d, c) =>
      d.withColumn(c, col(c).cast(DateType)))
    case "i32" => i32Cols.getOrElse(t, Nil).foldLeft(df)((d, c) =>
      d.withColumn(c, col(c).cast(IntegerType)))
    case "dec" => decCols.getOrElse(t, Nil).foldLeft(df)((d, c) =>
      d.withColumn(c, col(c).cast(DecimalType(12, 2))))
    case "f64" => if (t == "embeddings")
      df.withColumn("embedding", col("embedding").cast(ArrayType(DoubleType))) else df
    case other => throw new IllegalArgumentException(s"unknown drift axis: $other")
  }

  val allAxes: Seq[String] = Seq("ltz", "date", "i32", "dec", "f64")

  /** Write one drifted copy per axis under `outRoot/<axis>/`. */
  def generate(spark: SparkSession, src: String, outRoot: String,
      axes: Seq[String] = allAxes): Unit =
    axes.foreach { axis =>
      T.tableNames.foreach { t =>
        // RAW read (not T): the point is to re-encode the current
        // physical bytes, then let the axis transform drift one facet
        val raw = spark.read.parquet(s"$src/$t.parquet")
        recode(axis, t, raw).coalesce(1)
          .write.mode("overwrite").parquet(s"$outRoot/$axis/$t.parquet")
      }
      println(s"[driftgen] wrote $outRoot/$axis")
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DriftGen <srcSfDir> <outRoot> [axis…]")
    val axes = if (args.length > 2) args.drop(2).toSeq else allAxes
    val spark = GraftSession.local("8")
    generate(spark, args(0), args(1), axes)
    spark.stop()
  }
}
