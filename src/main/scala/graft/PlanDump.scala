package graft

import java.nio.file.{Files, Paths}

/** Per-query plan-shape snapshot artifact (committed per round as
  * `PLANS_r{N}.json`): for every declared query, the [[PlanAudit]] red
  * flags plus coarse operator counts of the executed plan. The point is a
  * mechanical round-over-round diff — "q46 gained a shuffle", "q03's
  * broadcast degraded to a sort-merge" — instead of re-deriving 79 plans
  * by hand each round.
  *
  * Usage: `runMain graft.PlanDump [sfDir] [outPath]`
  * (defaults: sf0.001, /root/repo/PLANS_LOCAL.json)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "/root/repo/PLANS_LOCAL.json"
    val queries = QueryRunner.selected(Nil)
    QueryRunner.withSession { spark =>
      val entries = queries.map { case (name, fn) =>
        val df = fn(spark, sfDir)
        val flags = PlanAudit.redFlags(df,
          allowBnlj = PlanAudit.AllowedBnlj.contains(name))
        // codegen span count needs a non-AQE plan (the unexecuted adaptive
        // plan hides codegen subtrees): re-instantiate the query with AQE
        // off just for this diagnostic, then restore whatever the session
        // had before (not a hard-coded "true" — Sessions may change it)
        val aqePrior = spark.conf.get("spark.sql.adaptive.enabled")
        val codegenSpans = try {
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          val cg = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
          "Found (\\d+) WholeStageCodegen".r.findFirstMatchIn(cg)
            .map(_.group(1).toInt).getOrElse(0)
        } finally spark.conf.set("spark.sql.adaptive.enabled", aqePrior)
        val shape = (PlanAudit.shape(df) :+
          ("wholestage_codegen_spans" -> codegenSpans))
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        // full JSON escaper (control chars included), same rules as the
        // oracle artifact — a newline inside a red-flag string must not
        // corrupt PLANS_r{N}.json
        val flagsJson = flags.map(Verify.jsonString).mkString("[", ",", "]")
        s""""$name":{"red_flags":$flagsJson,"shape":$shape}"""
      }
      // pin the artifact to the query set it snapshot: PLANS_r07 silently
      // predated q81-q83 and nothing in the file said so — now a stale
      // artifact is mechanically detectable against SparkEntry.queries
      val names = queries.map(_._1)
      val meta = s""""_meta":{"n_queries":${names.size},"queries":${
        names.map(Verify.jsonString).mkString("[", ",", "]")}}"""
      Files.writeString(Paths.get(out),
        (meta +: entries).mkString("{\n", ",\n", "\n}\n"))
      println(s"wrote ${entries.size} plan snapshots to $out")
    }
  }
}
