package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [name-substring filter, builder-local only]
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter: String => Boolean =
      if (args.length > 2) { n => args.drop(2).exists(n.contains) } else _ => true
    val cpus = GraftSession.envCpus
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // Run in REGISTRY order (not SparkEntry.queries — that Map is a
    // hash-scrambled HashMap) and release each memoized FRAME right
    // after its LAST consumer (MemoLiveness): pinning all persisted
    // indexes for the whole 152-query run accumulated enough storage to
    // starve a later query's execution memory into SparkOutOfMemoryError
    // at 32x data (llm_e2_embed_cosine_pairs, first seen on the
    // round-13 32x gate; the Bench sweep at the same scale passed
    // because it clears per pass). Round 13's name-prefix "family
    // boundary" clearing rested on a FALSE contiguity premise (the
    // round-13 driver advisory: ProductQuant interleaves llm_e3/llm_e2,
    // llm_e4 spans three modules), silently rebuilding shared constants
    // up to 3x; liveness release needs no ordering assumption — every
    // shared frame builds exactly once in any order, and pinned storage
    // is only the frames whose live range spans the current query.
    // Driver-side values (centroids, codebooks) are NEVER released
    // mid-run: they pin no cluster storage, and keeping them warm is
    // what guarantees the generated oracle SQL at the end embeds the
    // SAME constants the Spark results used (they are additionally
    // deterministic per (session, dir) — MemoDeterminismSpec — which is
    // what the fresh-session partition-invariance audit leans on).
    // Cost context from round 13: indiscriminate per-query clear()
    // measured 3.2x the whole sf0.01 Verify wall (106s -> 339s).
    val ordered = Registry.all.filter(q => nameFilter(q.name))
    ordered.foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        // leave an (empty) output dir so the checker reports the failure
        // as NO_SPARK_OUTPUT instead of silently omitting the query — a
        // failure during plan CONSTRUCTION (e.g. the spine guard's
        // eager bounds check) otherwise creates no dir at all, while a
        // failure mid-write leaves an empty one (r15: the timeext gate
        // read "1 FAIL of 151" for two guarded queries)
        new java.io.File(s"$outDir/${q.name}").mkdirs()
      }
      SessionMemo.clearFrames(spark, MemoLiveness.releasableAfter(q.name))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // generated oracles run AFTER the queries above; the liveness
    // release above drops only FRAMES, never driver-side values, so the
    // memoized constants the oracles embed (centroids, codebooks) are
    // still warm and identical to what the Spark results were computed
    // with — and MemoDeterminismSpec pins that even a cold rebuild
    // regenerates them identically per (session, dir)
    val json = SparkEntry.oracleSqlFor(spark, sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    GraftSession.release(spark)
    spark.stop()

    // Partition-invariance audit (opt-in): SPARK_GRAFT_VERIFY_CORES=N
    // re-runs every query in a fresh local[N] session and compares row
    // multisets against the dump above. Every query — including the
    // rows-only approximate ones — is partition-deterministic by design
    // (seeded sketches, tie-broken windows, decimal-exact sums), so ANY
    // drift is a real bug; the audit exits nonzero so a round script
    // fails loudly instead of recording a silently weaker check. (One
    // SparkContext per JVM → the main session must stop first.)
    sys.env.get("SPARK_GRAFT_VERIFY_CORES").foreach { altCores =>
      val alt = GraftSession.local(altCores)
      //  field separator prevents boundary aliasing (("ab","c")
      // vs ("a","bc")); the NUL-prefixed marker keeps SQL NULL distinct
      // from the literal string "null" — neither char appears in data.
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toSeq
            .map(v => if (v == null) "\u0000NULL" else String.valueOf(v))
            .mkString(""))
          .sorted.toSeq
      var drifted = 0; var checked = 0
      // same registry order + liveness release as the main loop: the
      // audit previously iterated the hash-scrambled SparkEntry map
      // with NO mid-run release, accumulating every pinned index for
      // the whole pass — exactly the condition behind the round-13
      // 32x SparkOutOfMemoryError, which here would be miscounted as
      // "drift" and fail the audit spuriously (round-13 advisory)
      Registry.all.filter(q => nameFilter(q.name)).foreach { q =>
        try {
          checked += 1
          val fresh = canon(q.run(alt, sfDir))
          val dumped = canon(alt.read.parquet(s"$outDir/${q.name}"))
          if (fresh != dumped) {
            drifted += 1
            System.err.println(s"[verify] PARTITION-DRIFT ${q.name}: " +
              s"local[$altCores] differs from the dumped local[$cpus] result")
          }
        } catch { case e: Throwable =>
          drifted += 1
          System.err.println(s"[verify] ${q.name} failed at local[$altCores]: ${e.getMessage}")
        }
        SessionMemo.clearFrames(alt, MemoLiveness.releasableAfter(q.name))
      }
      GraftSession.release(alt)
      alt.stop()
      if (drifted > 0) {
        System.err.println(s"[verify] PARTITION-INVARIANCE FAILED: $drifted of $checked queries drifted at local[$altCores]")
        sys.exit(1)
      } else println(s"[verify] partition-invariance OK: $checked queries identical at local[$altCores] vs local[$cpus]")
    }
  }
}
