package graft
/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric","value","unit","queries","sf"}.
  * Failures are surfaced per-query in an "errors" object (and the failing
  * query contributes its wall time) so a broken query can never pose as a
  * fast success.
  *
  * Each query is timed over SPARK_GRAFT_BENCH_REPEATS full passes
  * (default 3) and the per-query MEDIAN is reported: single-pass numbers
  * on a shared machine drift 40-60% with ambient load, which made two
  * rounds of recorded benches useless for regression tracking. The
  * shared SessionMemo (LlmOps indexes, the RFM user frame, the unigram
  * TF table) is cleared between passes so every pass pays the real
  * build cost (within-pass sharing — the production shape — is kept). */
object Bench {
  /** Machine-speed probe: `cpus` threads each run a fixed LCG loop, and
    * the WALL time for all to finish is returned. On an idle box this is
    * a constant; under ambient load (the shared-machine drift that has
    * made two rounds of recorded totals incomparable — same-tree full
    * benches measured 113.5s and 156.7s forty minutes apart in round 10)
    * it inflates by roughly the same contention factor as the query
    * times. Printed as calib_pre/calib_post so any cross-round total can
    * be read against the machine speed that produced it.
    *
    * IDLE REFERENCE (how to read a bench line without archaeology): on
    * this container's hardware the 32-thread/500M-iteration loop takes
    * **≈ 0.85–0.9 s when the machine is idle** (measured repeatedly in
    * rounds 10–11; a 7-thread run is the same, the loop is embarrassingly
    * parallel up to the core count). calib ≈ 0.9 → trust the total;
    * calib ≈ 1.8 → the machine was ~2× contended and the total is
    * environment, not code; calib_pre ≈ 0.9 but calib_post ≫ 0.9 (or a
    * lopsided pass_totals vector) → load arrived MID-run and only
    * per-query isolates settle deltas. */
  private def calibrate(threads: Int): Double = {
    val t0 = System.nanoTime()
    val sink = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (1 to threads).map { seed =>
      new Thread(() => {
        var x = seed.toLong; var i = 0
        while (i < 500000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        sink.addAndGet(x); ()
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    if (sink.get() == 42L) print("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** I/O-side machine probe, beside the CPU loop: the LCG calibration
    * is blind to disk/page-cache contention, which is what actually
    * moves the I/O-bound queries (`q_orc_roundtrip`,
    * `mm_binary_ingest` were the top movers of a rejected round-11
    * run whose CPU calib looked fine). Writes 64 MiB of deterministic
    * bytes to the bench tmpdir, fsyncs, reads it back, deletes —
    * exercising the same write-flush-read path the scratch round-trip
    * queries use. IDLE REFERENCE: ≈ 0.10–0.25 s on this container;
    * a multiple of that during a run means the I/O-bound query deltas
    * are environment. Printed as calib_io_pre/calib_io_post. */
  private def calibrateIo(): Double = {
    // pid in the name: two concurrent bench processes (a full run and a
    // builder isolate) must not interleave writes/deletes on one probe
    // file and corrupt each other's timings; delete in finally so the
    // 64 MiB probe never leaks past a throwing write/read
    val path = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_bench_ioprobe_${sys.props("user.name")}_${ProcessHandle.current.pid}.bin")
    val block = new Array[Byte](1 << 20)
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < block.length) { x = x * 6364136223846793005L + 1L; block(i) = (x >>> 56).toByte; i += 1 }
    val t0 = System.nanoTime()
    try {
      val ch = java.nio.channels.FileChannel.open(path,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try {
        var j = 0
        while (j < 64) { ch.write(java.nio.ByteBuffer.wrap(block)); j += 1 }
        ch.force(false)
      } finally ch.close()
      val in = java.nio.channels.FileChannel.open(path, java.nio.file.StandardOpenOption.READ)
      try {
        val buf = java.nio.ByteBuffer.allocate(1 << 20)
        var n = 0
        while (n >= 0) { buf.clear(); n = in.read(buf) }
      } finally in.close()
    } finally java.nio.file.Files.deleteIfExists(path)
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    // Builder-local isolate mode: `runMain graft.Bench [sfDir] [substr…]`
    // — an ABSOLUTE path naming an existing directory overrides
    // SPARK_GRAFT_SF_DIR (absolute-only, so a relative filter substring
    // that happens to collide with a cwd entry like "target" is never
    // silently reinterpreted as a data dir), any other arg filters
    // queries by name substring (Verify's rule), so one query can be
    // timed under real bench conditions (warm session, noop sink,
    // median-of-repeats) without a full 100s pass. The driver's no-arg
    // invocation is unchanged, and BENCH_DETAIL.json is only written by
    // the ARGLESS invocation — neither a filtered run nor an off-scale
    // dir-only run can clobber the recorded full bench.
    val (dirArgs, filterArgs) = args.partition(a =>
      a.startsWith("/") && new java.io.File(a).isDirectory)
    val nameFilter: String => Boolean =
      if (filterArgs.nonEmpty) { n => filterArgs.exists(n.contains) } else _ => true
    val sfDir = dirArgs.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = GraftSession.envCpus
    // cpus feeds local[$cpus] verbatim (so "*" stays a valid master spec);
    // the calibration threads use its parsed count
    val cpuCount = GraftSession.cpuCount(cpus)
    val repeats = GraftSession.positiveInt("SPARK_GRAFT_BENCH_REPEATS",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3"))
    val spark = GraftSession.local(cpus)
    val calibPre = calibrate(cpuCount)
    val calibIoPre = calibrateIo()
    // Warm the session before timing: JVM/codegen/parquet-reader costs land
    // here instead of inflating whichever query happens to run first. One
    // scan per input table — no data is cached, only the machinery warms.
    T.tableNames.foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").write.format("noop").mode("overwrite").save()
    }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val queries = Registry.all.filter(q => nameFilter(q.name))
    // DECORRELATED repeat passes: with a fixed per-pass order, a query
    // sits at the same relative offset of every pass, so a sustained
    // ambient-load window (the proven round-9/10 confounder — same-tree
    // totals 113.5s vs 156.7s forty minutes apart; pass_totals
    // [174.7, 97.2, 92.7] in the r10 driver run) inflates the same
    // neighborhood of queries in all repeats and the per-query median
    // cannot defend. Pass 1 keeps registry order (the cross-round
    // comparison baseline — memoized-index build costs land on the same
    // first consumer as in every prior round); passes 2+ run in
    // seeded-shuffled order (constant seeds — bit-identical ordering
    // across runs, no wall-clock nondeterminism) so each query's
    // repeats sample different wall-clock windows of the run.
    val passOrders: Seq[(String, Seq[GraftQuery])] =
      (0 until repeats).map { p =>
        if (p == 0) "registry" -> queries
        else s"seeded$p" -> new scala.util.Random(0x5DEECE66DL * p).shuffle(queries)
      }
    for ((_, order) <- passOrders) {
      graft.SessionMemo.clear(spark)
      graft.SessionMemo.drainBuildLog() // discard pre-pass stragglers
      order.foreach { q =>
        val t0 = System.nanoTime()
        try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          errors.getOrElseUpdate(q.name,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
        val wall = (System.nanoTime() - t0) / 1e9
        // Attribute shared-index builds to their OWN `memo:<key>` lines
        // and keep only the query's marginal cost on its line: without
        // this, builds land on whichever family member runs first in
        // each (shuffled) pass and per-query numbers redistribute with
        // pass order (round-11 llm_e2). Conservation is PER-SAMPLE:
        // within one pass, (wall − builds) + builds = wall exactly.
        // The REPORTED lines are per-line medians across passes, and
        // median(wall−build) + median(build) ≠ median(wall) when build
        // time varies by pass — so summed-median totals can shift a
        // shade beyond pure accounting across eras; cross-era total
        // comparisons should lean on pass_totals (true per-pass wall
        // sums) when the margin matters.
        val builds = graft.SessionMemo.drainBuildLog()
        builds.foreach { case (key, secs) =>
          val n = s"memo:$key"
          samples(n) = samples.getOrElse(n, Vector.empty) :+ secs
        }
        samples(q.name) = samples.getOrElse(q.name, Vector.empty) :+
          math.max(wall - builds.map(_._2).sum, 0.0)
      }
    }
    val passOrderJson = passOrders.map(p => s""""${p._1}"""").mkString("[", ",", "]")
    val calibPost = calibrate(cpuCount)
    val calibIoPost = calibrateIo()
    val results = samples.toSeq.map { case (k, v) =>
      k -> v.sorted.apply(v.size / 2) // median (upper for even sizes)
    }
    // Per-pass wall totals: calib_pre/calib_post bracket the run but are
    // blind to MID-run ambient load (round 10 observed a full bench with
    // idle calibration at both ends whose middle queries ran 4x slow).
    // The sum of pass i's samples is a free load probe at `repeats`
    // points across the run — a lopsided pass_totals vector localizes a
    // transient; a flat one clears the environment.
    val passTotals = (0 until repeats).map { i =>
      samples.valuesIterator.map(v => if (i < v.size) v(i) else 0.0).sum
    }
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }
    def r3(v: Double): String = T.jdec(v, 3)
    def qsJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s""""${esc(k)}":${r3(v)}""" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // The harness captures only the TAIL of stdout (~2000 chars) and parses
    // one JSON line out of it; a per-query map over the full registry
    // (90+ long names at full double precision) overflows that window and
    // the line arrives truncated → unparseable. So: the PRINTED line carries
    // the total plus the 15 most expensive queries (3-decimal seconds), and
    // the COMPLETE per-query map goes to BENCH_DETAIL.json next to the repo.
    // `queries` carries query AND memo:<key> lines (the total is their
    // sum — per-sample-conserved vs pre-r12 all-on-queries accounting,
    // modulo the median-of-passes caveat noted above); n_queries
    // counts only real registry queries so the driver's per-round
    // query-count check is unaffected.
    val nQueries = results.count(!_._1.startsWith("memo:"))
    val nMemo = results.size - nQueries
    if (args.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
        s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":$nQueries,"n_memo":$nMemo,"queries":${qsJson(results)},"errors":$errJson,"n_failed":${errors.size},"repeats":$repeats,"calib_pre":${r3(calibPre)},"calib_post":${r3(calibPost)},"calib_io_pre":${r3(calibIoPre)},"calib_io_post":${r3(calibIoPost)},"pass_totals":${passTotals.map(r3).mkString("[", ",", "]")},"pass_order":$passOrderJson,"sf":"$sfDir"}""".getBytes("UTF-8"))
    // failed-query NAMES only on the printed line (messages are in the
    // detail file) — a long stack-trace message must not evict the timings
    val errNames = errors.keys.take(8).map(k => s""""${esc(k)}"""").mkString("[", ",", "]")
    def line(nTop: Int): String =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${qsJson(results.sortBy(-_._2).take(nTop))},"failed":$errNames,"n_failed":${errors.size},"repeats":$repeats,"n_queries":$nQueries,"n_memo":$nMemo,"calib_pre":${r3(calibPre)},"calib_post":${r3(calibPost)},"calib_io_pre":${r3(calibIoPre)},"calib_io_post":${r3(calibIoPost)},"pass_totals":${passTotals.map(r3).mkString("[", ",", "]")},"pass_order":$passOrderJson,"detail":"BENCH_DETAIL.json","sf":"$sfDir"}"""
    // even the nTop=0 line can exceed the cap in pathological configs
    // (huge repeats inflating pass_totals + 8 failed names) — print the
    // shortest line rather than throwing after a full run
    println(Iterator(15, 10, 5, 0).map(line).find(_.length < 1500).getOrElse(line(0)))
    GraftSession.release(spark)
    spark.stop()
  }
}
