package graft

/** Unpartitioned-window auditor (VERDICT r17 ask #2): every
  * `WindowExec` / `WindowGroupLimitExec` with an EMPTY partition spec
  * moves its whole input to one task ("WindowExec: No Partition Defined"
  * at runtime), which is fine for an audit-grain fold and fatal for a
  * corpus-grain one. This main walks every declared query's executed
  * plan (cached/checkpointed subtrees excluded, like PlanAudit) and
  * prints one line per unpartitioned window: the query, the window
  * functions, and the window child's first line — so each site can be
  * mapped to a provably bounded table (the table lives in
  * OPTIMIZATION_r18.md).
  *
  * Usage: `sbt "runMain graft.WindowAudit [sfDir]"` (default sf0.01).
  */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    var hits = 0
    // bridge.planNodes treats cached subtrees as leaves ("cached work is
    // not this query's work") — but THIS audit is about where a
    // single-partition window exists at all, so descend into
    // InMemoryRelation build plans too (PlanCache seam builders hold
    // most of the repo's unpartitioned windows).
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[(String, org.apache.spark.sql.execution.SparkPlan)] =
      org.apache.spark.sql.graft.bridge.planNodes(p).flatMap {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          ("", s) +: allNodes(s.relation.cachedPlan)
            .map { case (t, n) => (s"cached:$t", n) }
        case n => Seq(("", n))
      }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val nodes = allNodes(fn(spark, sfDir).queryExecution.executedPlan)
        nodes.foreach {
          case (tag, w: org.apache.spark.sql.execution.window.WindowExec)
              if w.partitionSpec.isEmpty =>
            hits += 1
            val fns = w.windowExpression.map(_.sql.take(80)).mkString("; ")
            val child = w.child.simpleString(100)
            println(s"WINDOW0 $name $tag| $fns | child: $child")
          case (tag,
              w: org.apache.spark.sql.execution.window.WindowGroupLimitExec)
              if w.partitionSpec.isEmpty =>
            hits += 1
            println(s"WINDOW0 $name $tag| group-limit rank<=${w.limit} | " +
              s"child: ${w.child.simpleString(100)}")
          case _ => ()
        }
      } catch { case e: Throwable =>
        println(s"WINDOW0-ERR $name: ${e.getClass.getSimpleName}")
      }
    }
    println(s"WINDOW0 total: $hits unpartitioned window nodes")
    PlanCache.clear(spark)
    Tables.clear(spark)
    spark.stop()
  }
}
