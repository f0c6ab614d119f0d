package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every query main (Bench, Verify, MicroBench, Explain, PlanDump)
  * shares: which queries run, in which session, how a result is
  * materialized, and how the session is torn down. */
object QueryRunner {
  type Query = (SparkSession, String) => DataFrame

  /** `SparkEntry.queries` in name order, limited to `names` when non-empty.
    * Sorted because Map iteration order reshuffles whenever keys are
    * added, silently moving the cost of shared PlanCache seams between
    * queries (q86 drifted 1.4x in r13, q148/q28 in r14, purely from who
    * paid the seam first); sorted order is stable under appends. A name
    * that is not a declared query fails fast instead of selecting nothing. */
  def selected(names: Seq[String]): Seq[(String, Query)] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    val want = names.toSet
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => want.isEmpty || want(name) }
  }

  /** `f` on a [[Sessions.local]] session at log level WARN; the session's
    * PlanCache seams and resolved tables are released and the session
    * stopped however `f` ends. */
  def withSession[A](f: SparkSession => A): A = {
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    try f(spark)
    finally { PlanCache.clear(spark); spark.stop() }
  }

  /** Every result column written to the noop sink — `.count()` would let
    * ColumnPruning strip unreferenced aggregates and under-measure. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
