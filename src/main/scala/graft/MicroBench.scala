package graft

/** Single-query timing harness for plan-shave A/B work:
  * `sbt "runMain graft.MicroBench <sfDir> <reps> [qNN...]"` times each
  * named query (all queries when none are named) once cold — codegen,
  * table resolves and PlanCache seam builds included — and then `reps`
  * times warm, against the noop sink (same materialization contract as
  * [[Bench]]). It prints the cold pass, the min of the warm reps and
  * every rep in seconds. Bench answers "is the board healthy"; this
  * answers "did THIS query get faster" without paying the full sweep.
  * min-of-reps is the steady-state estimator (contention only inflates). */
object MicroBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MicroBench <sfDir> <reps> [qNN...]")
    val sfDir = args(0)
    val reps = args(1).toInt
    val queries = QueryRunner.selected(args.drop(2).toSeq)
    QueryRunner.withSession { spark =>
      queries.foreach { case (name, fn) =>
        def once(): Double = {
          val t0 = System.nanoTime()
          QueryRunner.materialize(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
        val cold = once()
        val ts = (1 to reps).map(_ => once())
        println(f"$name%-28s cold=$cold%.3f min=${ts.min}%.3f reps=${ts.map(t => f"$t%.3f").mkString(",")}")
      }
    }
  }
}
