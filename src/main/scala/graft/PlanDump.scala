package graft

/** Regenerates `PLANS.md`: the executed physical plans of the
  * heaviest / most design-relevant queries (those with a `PlanDoc`
  * tag, under what the tag says the plan shows), checked in so the scale
  * claims (pushdown, broadcast, partial aggregation, bucket caps,
  * bounded top-k, no single-partition exchanges) are inspectable
  * without running anything.
  *
  * Usage: `sbt "runMain graft.PlanDump"` (writes PLANS.md in cwd).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.tools.LocalSession(cpus = 4)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans of the load-bearing queries\n\n")
    sb.append(s"Generated by `sbt \"runMain graft.PlanDump\"` against `$dir`\n")
    sb.append("(AQE on; partition counts reflect the dump session, not the bench).\n")
    val docs = graft.queries.QuerySpec.planDocs
    docs.foreach { case (name, why) =>
      val full = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      // iterative plans (pagerank, label prop) nest every round's
      // subtree — cap each dump so PLANS.md stays reviewable
      val plan =
        if (full.length <= 64 * 1024) full
        else full.take(64 * 1024) +
          s"\n… [truncated: ${full.length} chars total — iterative plan nests per-round subtrees]\n"
      sb.append(s"\n## $name\n\n_${why}_\n\n```\n$plan```\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote PLANS.md (${docs.size} plans)")
    spark.stop()
  }
}
