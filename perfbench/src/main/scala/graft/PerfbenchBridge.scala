package graft

import org.apache.spark.sql.SparkSession

/** The benchmark's window onto engine internals it reads but does not
  * change: SessionMemo's audit logs (memo builds with their self seconds,
  * frame accesses) and the scratch clean-up Bench runs after a pass. */
object PerfbenchBridge {
  def drainMemoBuilds(): Seq[(String, Double)] = SessionMemo.drainBuildLog()
  def drainFrameAccesses(): Seq[String] = SessionMemo.drainFrameAccessLog()

  def dropScratch(s: SparkSession): Unit = {
    SessionMemo.clear(s)
    relational.Relational.dropBucketedTables(s)
    sources.Formats.dropScratch()
    sources.Layout.dropScratch()
  }
}
