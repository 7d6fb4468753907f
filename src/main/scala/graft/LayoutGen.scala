package graft

import org.apache.spark.sql.SparkSession

/** Builder utility: re-materialize an sfDir's CONTENT into physically
  * different FILE LAYOUTS — the twelfth degenerate axis (round 16). A
  * 100 TB lake never has a canonical layout: the same table arrives as
  * thousands of small writer-task shards, as one compacted file, or as
  * a hive-partitioned directory tree, depending on which pipeline wrote
  * it and when it was last compacted. The engine surface must be
  * byte-identical across all of them; the DuckDB oracle reads each
  * layout natively (tools/check.py grew a hive_partitioning branch), so
  * the full Verify + check.py gate runs per layout (§2b-l in the verify
  * skill). [[Registry.normalize]] absorbs the one read-side difference
  * (partition columns surface LAST under partition discovery — column
  * order is restored to the declared contract).
  *
  * Usage: `runMain graft.LayoutGen <srcSfDir> <outRoot> [layout…]`
  * Layouts:
  *  - shards: ~200 small part files per table (writer-task debris)
  *  - single: one Spark-written file per table (post-compaction)
  *  - hive:   partitioned subdirectory tree on a low-cardinality string
  *            column for the big tables (events/event_type,
  *            documents/lang, orders/o_orderstatus,
  *            lineitem/l_returnflag, customer/c_mktsegment)
  *
  * Reads are RAW (not [[T]]): the point is to re-shard the current
  * physical bytes, not to re-encode types — DriftGen owns type drift.
  */
object LayoutGen {

  /** Partition column per hive-laid table — low-cardinality STRING
    * enums only: partition values round-trip through directory names,
    * so numeric-looking or null-bearing columns would add inference
    * drift this axis does not mean to probe. */
  val hivePartitionCols: Map[String, String] = Map(
    "events" -> "event_type", "documents" -> "lang",
    "orders" -> "o_orderstatus", "lineitem" -> "l_returnflag",
    "customer" -> "c_mktsegment")

  val allLayouts: Seq[String] = Seq("shards", "single", "hive")

  val shardCount: Int = 200

  /** Write one re-laid copy per layout under `outRoot/<layout>/`. */
  def generate(spark: SparkSession, src: String, outRoot: String,
      layouts: Seq[String] = allLayouts): Unit =
    layouts.foreach { layout =>
      T.tableNames.foreach { t =>
        val raw = spark.read.parquet(s"$src/$t.parquet")
        val out = s"$outRoot/$layout/$t.parquet"
        layout match {
          case "shards" =>
            raw.repartition(shardCount).write.mode("overwrite").parquet(out)
          case "single" =>
            raw.coalesce(1).write.mode("overwrite").parquet(out)
          case "hive" => hivePartitionCols.get(t) match {
            case Some(c) =>
              raw.write.mode("overwrite").partitionBy(c).parquet(out)
            case None =>
              raw.coalesce(1).write.mode("overwrite").parquet(out)
          }
          case other =>
            throw new IllegalArgumentException(s"unknown layout: $other")
        }
      }
      println(s"[layoutgen] wrote $outRoot/$layout")
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: LayoutGen <srcSfDir> <outRoot> [layout…]")
    val layouts = if (args.length > 2) args.drop(2).toSeq else allLayouts
    val spark = GraftSession.local("8")
    generate(spark, args(0), args(1), layouts)
    spark.stop()
  }
}
