package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `explain("formatted")` of named `SparkEntry.queries` entries —
  * the generator behind the `plans/r{N}/<query>_{before,after}.txt`
  * optimization-round artifacts (PlanDump keeps the compact
  * executedPlan.toString form behind PLANS.md).
  *
  * Iterative operators materialize their results EAGERLY while the
  * query DataFrame is being CONSTRUCTED, so the final plan is a scan
  * of the checkpointed rows. The graph algorithms have no SQL plan
  * per round at all (they run on the RDD kernel `Graphs.NodeKernel`;
  * PlanAuditSpec audits its round lineage).
  *
  * Usage: sbt "runMain graft.tools.PlanDumpFmt <outdir> <query> [query ...]"
  * (data dir from $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.001 —
  * the r14-advice fix for the previously hardcoded path)
  */
object PlanDumpFmt {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDumpFmt <outdir> <query> [query ...]")
    val dataDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- args.drop(1)) {
      val df = graft.SparkEntry.queries(n)(spark, dataDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] $n -> ${outDir.resolve(s"${n}_$suffix.txt")}")
    }
    spark.stop()
  }
}
