package graft.tools

import org.apache.spark.sql.SparkSession

/** Bench-methodology subset timer: times named queries with the EXACT
  * Bench.scala shape — same session conf, an untimed q1_agg warm-up,
  * `.count()` as the timed action, two passes, per-query min — so
  * before/after comparisons during an optimization round measure what
  * the driver's bench measures (QueryProfile's noop sink additionally
  * pays the final ORDER BY + its range-sampling pass, which count()
  * eliminates — right for operator work, wrong for bench deltas).
  *
  * Usage: sbt "runMain graft.tools.BenchSubset <dir> <query> [query...]"
  */
object BenchSubset {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchSubset <dir> <query> [query ...]")
    val dir = args(0)
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: $unknown")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try graft.SparkEntry.queries("q1_agg")(spark, dir).count()
    catch { case _: Throwable => }
    // r14-advice fix: a query that CRASHES must not masquerade as a
    // (fast) timing in before/after artifacts — track per-pass success
    // and report failed queries as -1 plus an explicit "failed" list.
    // Each pass also counts the query's jobs and task CPU seconds.
    val counters = ShuffleMeter.attachCounters(spark)
    def onePass(): Map[String, (Double, Boolean, Long, Double)] = names.map { n =>
      val read = () => counters.jobs.get()
      val (j0, c0) = (ShuffleMeter.drainAndRead(spark, read), counters.taskCpuNs.get())
      val t0 = System.nanoTime()
      val ok =
        try { graft.SparkEntry.queries(n)(spark, dir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench_subset] $n FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
        }
      val secs = (System.nanoTime() - t0) / 1e9
      val jobs = ShuffleMeter.drainAndRead(spark, read) - j0
      n -> ((secs, ok, jobs, (counters.taskCpuNs.get() - c0) / 1e9))
    }.toMap
    val p1 = onePass(); val p2 = onePass()
    def f3(d: Double) = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    def best(n: String): Option[(Double, Boolean, Long, Double)] = {
      val oks = Seq(p1(n), p2(n)).filter(_._2)
      if (oks.isEmpty) None else Some(oks.minBy(_._1))
    }
    def field(f: ((Double, Boolean, Long, Double)) => String) =
      names.map(n => s""""$n":${best(n).map(f).getOrElse("-1")}""").mkString(",")
    val failed = names.filter(best(_).isEmpty)
    println(s"""{"bench_subset":{${field(b => f3(b._1).toString)}},""" +
      s""""jobs":{${field(_._3.toString)}},"task_cpu_s":{${field(b => f3(b._4).toString)}},""" +
      s""""failed":[${failed.map("\"" + _ + "\"").mkString(",")}],"dir":"$dir"}""")
    spark.stop()
  }
}
