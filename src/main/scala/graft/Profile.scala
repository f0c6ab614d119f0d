package graft

/** Dev-only profiler: times named queries (2 passes each) at a given SF
  * dir, printing per-pass seconds — finer-grained than Bench (which only
  * reports the min) so write-once memoization vs steady-state cost is
  * visible. `sbt "runMain graft.Profile /root/testdata/sf0.1 q64_dedup_clusters ..."` */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSet
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    def run(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
      .foreach { case (name, fn) =>
        val t1 = run(fn)
        val t2 = run(fn)
        println(f"PROF $name%-28s pass1=$t1%8.2f  pass2=$t2%8.2f")
      }
    PlanCache.clear(spark)
    Tables.clear(spark)
    spark.stop()
  }
}
