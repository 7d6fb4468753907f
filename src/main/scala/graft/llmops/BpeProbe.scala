package graft.llmops

/** BPE merge-count stress probe (round-19 mandate): train the merge
  * table at k = 8, 16, 24, 32 rounds on one session and gate that wall
  * time stays ~linear in k — i.e. the PER-ROUND cost is flat. Without
  * the localCheckpoint lineage truncation in [[BpeMerges.learnedMerges]]
  * iteration i's plan nests i-1 fold lambdas, so analyzer/optimizer
  * work grows with the chain and the curve bends superlinear (measured
  * 7.98s -> 1.69s for k=8 at sf0.1 when the truncation landed); this
  * probe is the regression tripwire at 4x the contract depth.
  *
  * The shared word table ([[BpeMerges.bpeWords]]) is built ONCE before
  * timing (it is corpus-sized and identical for every k — leaving it
  * inside would smear the one corpus pass across the first point);
  * each k then trains fresh under its own memo key, so every
  * measurement pays exactly k rounds of vocab-bounded pair counting +
  * 1-row argmax.
  *
  * Gate: wall(32)/wall(8) <= (32/8) * 1.5 — linear with the standard
  * ambient-noise allowance; exit 1 otherwise. Exhaustion before k
  * (fewer learnable merges than rounds) flattens the curve and is
  * reported per point.
  *
  * Usage: `runMain graft.llmops.BpeProbe [sfDir] [k...]`
  * (defaults: SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1; k 8 16 24 32).
  */
object BpeProbe {

  def main(args: Array[String]): Unit = {
    // k args are whatever parses as an integer; everything else is a dir
    // candidate (a numeric arg that happens to name a directory is still
    // a k — path-vs-k must not depend on filesystem state)
    val (kArgs, dirArgs) = args.partition(a => a.toIntOption.isDefined)
    val dir = dirArgs.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val ks = if (kArgs.nonEmpty) kArgs.map(_.toInt).toSeq else Seq(8, 16, 24, 32)
    val spark = graft.GraftSession.local("32")
    try {
      // the one corpus-sized pass, shared by every k — pay it up front
      BpeMerges.bpeWords(spark, dir).count()
      // untimed warm-up training pass on a cold JVM: without it JIT +
      // codegen warm-up inflates wall(kLo) and systematically loosens
      // the wall(kHi)/wall(kLo) linearity gate. Trained under its own
      // (throwaway) per-k memo key — the smallest k NOT in the timed
      // set — so no timed point can memo-hit it.
      val warmK = Iterator.from(ks.min).find(k => !ks.contains(k)).get
      BpeMerges.learnedMerges(spark, dir, warmK)
      val points = ks.map { k =>
        val t0 = System.nanoTime()
        val merges = BpeMerges.learnedMerges(spark, dir, k)
        val wall = (System.nanoTime() - t0) / 1e9
        (k, wall, merges.length)
      }
      val wallOf = points.map(p => p._1 -> p._2).toMap
      val (kLo, kHi) = (ks.min, ks.max)
      val ratio = wallOf(kHi) / wallOf(kLo)
      val bound = (kHi.toDouble / kLo) * 1.5
      val ok = ratio <= bound
      val walls = points.map(p => s""""k${p._1}":${graft.T.jdec(p._2, 3)}""").mkString(",")
      val found = points.map(p => s""""k${p._1}":${p._3}""").mkString(",")
      println(s"""{"metric":"bpe_merge_stress","unit":"sec","sf_dir":"$dir",""" +
        s""""walls":{$walls},"merges_found":{$found},""" +
        s""""ratio_${kHi}_$kLo":${graft.T.jdec(ratio, 3)},"linear_bound":${graft.T.jdec(bound, 3)},""" +
        s""""sublinear_per_round":$ok}""")
      if (!ok) sys.exit(1)
    } finally {
      graft.SessionMemo.clear(spark)
      spark.stop()
    }
  }
}
