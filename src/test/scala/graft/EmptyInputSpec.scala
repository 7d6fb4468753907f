package graft

/** Every registry query must RUN on an all-empty corpus — the
  * degenerate input every 100 TB filter chain eventually hands some
  * stage (an empty partition, a predicate that matches nothing, a new
  * tenant with no data yet). The first empty-input sweep (round 11)
  * found four real failure classes, each now guarded at the source:
  *
  *  - ANSI 0/0 on a global-aggregate rate (e5_time_to_convert) — fixed
  *    with the safeDiv/NULLIF discipline, NULL on zero denominators;
  *  - schema inference over a zero-file partitioned write
  *    (q_partition_pruned_scan, q_dynamic_partition_pruning) — fixed by
  *    declaring the contract schema on the read-back;
  *  - a per-partition file glob (lang=.../part-...) with zero matching
  *    paths (parity_s1s3) — fixed by reading the corpus ROOT (text's
  *    schema is static, so discovery over zero partitions is fine);
  *  - quantizer training over an empty sample (PQ/IVF family) — fixed
  *    by zero-center fallback in lloyd() plus an explicit empty-result
  *    branch where the plan spells queries as explode(array(...)).
  *
  * The spec replays the sweep: zero-row copies of every driver table,
  * every registry query executed end-to-end (noop sink). No oracle —
  * DuckDB comparison on empty global aggregates is a separate contract
  * — the pinned property is "no query throws on empty input".
  */
class EmptyInputSpec extends SparkSpec with AxisMatrix {

  private lazy val emptyDir: String = fixture("graft_empty")((_, base) => base.limit(0))

  test("all registry queries execute on an all-empty corpus") {
    val failures = survives(emptyDir)
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }

  test("rollup/cube/grouping-sets emit the SQL-standard () row on empty input") {
    // Spark's Expand-based grouping sets produce output per INPUT row,
    // so an empty input used to yield zero rows where the standard (and
    // DuckDB/Postgres) emit the one grand-total row: count 0, NULL sums
    // (r18; found by the first full-oracle run of the empty axis). The
    // isEmpty-probed union branch in each query supplies it.
    val roll = Registry.byName("q_rollup_order_stats").run(spark, emptyDir).collect()
    roll.length shouldBe 1
    roll.head.isNullAt(0) shouldBe true
    roll.head.getLong(2) shouldBe 0L
    roll.head.isNullAt(3) shouldBe true
    val cube = Registry.byName("q_cube_order_stats").run(spark, emptyDir).collect()
    cube.length shouldBe 1
    (cube.head.getInt(2), cube.head.getInt(3)) shouldBe ((1, 1))
    val gs = Registry.byName("q_grouping_sets").run(spark, emptyDir).collect()
    gs.length shouldBe 1
    gs.head.getLong(2) shouldBe 3L // GROUPING(flag, status) of the () set
  }
}
