package graft

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.DataFrame

/** The degenerate-axis sweep: one fixture writer, one registry-wide
  * no-throw sweep and one row-identity check for the specs that run
  * the registry on a degenerate corpus. Fixture dirs come from
  * `SparkSpec.tempDir`, so they are deleted when the spec ends. */
trait AxisMatrix extends SparkSpec {
  import AxisMatrix._

  /** Every `T.tableNames` table of `src`, rewritten by the axis's
    * per-table recipe as one file per table into a fresh temp dir. */
  protected def fixture(prefix: String, src: String = sfDir)(
      mutate: (String, DataFrame) => DataFrame): String = {
    val dir = tempDir(prefix)
    T.tableNames.foreach { t =>
      mutate(t, T(spark, src, t)).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    SessionMemo.clear(spark) // drop memoized frames keyed on the build session
    dir
  }

  /** Runs `check` on every registry query but `except`: one line per
    * failure, a thrown exception included. Asserts that every query
    * not excepted was checked. */
  protected def sweep(except: Set[String] = Set.empty)(
      check: GraftQuery => Seq[String]): Seq[String] = {
    val missing = except -- Registry.all.map(_.name)
    withClue("excepted names not in the registry:") { missing shouldBe empty }
    val queries = Registry.all.filterNot(q => except(q.name))
    var ran = 0
    val failures = queries.flatMap { q =>
      ran += 1
      try check(q)
      catch { case e: Throwable => Seq(failure(q.name, e)) }
    }
    ran shouldBe Registry.all.size - except.size
    failures
  }

  /** Every registry query executed end to end on `dir` (`route`
    * overrides the dir per query name): one line per query that threw. */
  protected def survives(dir: String, route: Map[String, String] = Map.empty): Seq[String] =
    sweep() { q => drain(q.run(spark, route.getOrElse(q.name, dir))); Nil }

  /** `q`'s rows on `sfDir`, collected once per JVM. */
  private def baseline(q: GraftQuery): Seq[String] =
    baselines.getOrElseUpdate(q.name, rows(q.run(spark, sfDir)))

  /** None when `q` returns the same row multiset on `dir` as on
    * `reference`, else a line naming the first difference. */
  protected def sameRows(q: GraftQuery, dir: String, reference: String = sfDir): Option[String] = {
    def on(d: String) = if (d == sfDir) baseline(q) else rows(q.run(spark, d))
    diff(q.name, on(dir), on(reference))
  }
}

object AxisMatrix {

  private val baselines = TrieMap.empty[String, Seq[String]]

  /** Runs `df` end to end into the noop sink. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Each row rendered field by field, in the frame's order. */
  def ordered(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("\u0001"))

  /** The row multiset of `df`: rendered rows, sorted, duplicates kept. */
  def rows(df: DataFrame): Seq[String] = ordered(df).sorted

  /** None when the two row multisets are equal, else a line naming the
    * first difference. */
  def diff(name: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else Some(s"$name: ${got.size} vs ${want.size} rows, first diff " +
      got.zip(want).find { case (a, b) => a != b }.map(_.toString).getOrElse("size"))

  /** `name: <first line of the message>`, or the exception's class name
    * when the message is null or empty. */
  def failure(name: String, e: Throwable): String = {
    val first = Option(e.getMessage).flatMap(_.linesIterator.nextOption()).filter(_.nonEmpty)
    s"$name: ${first.getOrElse(e.getClass.getName)}"
  }
}
