package graft

/** Plan auditor: dumps `.explain("formatted")` for every declared query so
  * the physical plans can be reviewed for scan pruning (PushedFilters /
  * ReadSchema), join strategy (broadcast vs sort-merge), and codegen
  * coverage (WholeStageCodegen spans). Run:
  * `sbt "runMain graft.Explain /root/testdata/sf0.01 [qNN...]"`; the
  * session follows `SPARK_GRAFT_CPUS` like every other main. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val queries = QueryRunner.selected(args.drop(1).toSeq)
    QueryRunner.withSession { spark =>
      queries.foreach { case (name, fn) =>
        println(s"\n======== $name ========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    }
  }
}
