package graft.tools

/** Profiles registered queries the way `graft.Bench` times them: an
  * untimed `q1_agg` warm-up, then two passes with `count()` as the
  * action. Each query's [[Meter]] record is printed as one JSON line
  * per pass, and the run ends with one summary line of per-query
  * best-pass seconds, jobs and task CPU seconds (a query that failed
  * in both passes reads -1 and is listed under `failed`):
  *
  * {{{
  * {"bench_subset":{q: s},"jobs":{q: n},"task_cpu_s":{q: s},"failed":[...],"dir":"..."}
  * }}}
  *
  * Options:
  *  - `--stages` prints each pass's stage timeline: offset, duration,
  *    the gap before the stage, task count and Σ task run ms;
  *  - `--plan` prints each query's `executedPlan`;
  *  - `--formatted <outdir>` writes `explain("formatted")` per query to
  *    `<outdir>/<query>.txt`.
  * Plans are taken from a fresh construction after both passes, so
  * they never warm up a timed pass.
  *
  * Usage: sbt "runMain graft.tools.Profile <dir> <query> [query ...] [--stages] [--plan] [--formatted <outdir>]"
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val fmtAt = args.indexOf("--formatted")
    val formatted = if (fmtAt >= 0 && fmtAt + 1 < args.length) Some(args(fmtAt + 1)) else None
    require(fmtAt < 0 || formatted.isDefined, "--formatted needs an output directory")
    val positional = args.zipWithIndex
      .filterNot { case (a, i) => a.startsWith("--") || (fmtAt >= 0 && i == fmtAt + 1) }.map(_._1)
    require(positional.length >= 2,
      "usage: Profile <dir> <query> [query ...] [--stages] [--plan] [--formatted <outdir>]")
    val dir = positional.head
    val names = graft.queries.QuerySpec.requireKnown(positional.tail.toSeq)

    val spark = LocalSession()
    try Meter.using(spark) { meter =>
      try graft.SparkEntry.queries("q1_agg")(spark, dir).count()
      catch { case _: Throwable => }
      def onePass(pass: Int): Map[String, Meter.Record] = names.map { n =>
        val r = meter.measure(n)(graft.SparkEntry.queries(n)(spark, dir))(_.count())
        println(s"""{"query":"$n","pass":$pass,${r.json.drop(1)}""")
        if (args.contains("--stages")) printStages(n, r)
        n -> r
      }.toMap
      val passes = Seq(onePass(1), onePass(2))

      for (n <- names if args.contains("--plan") || formatted.isDefined) {
        val qe = graft.SparkEntry.queries(n)(spark, dir).queryExecution
        if (args.contains("--plan")) println(s"=== $n\n${qe.executedPlan}")
        formatted.foreach { out =>
          val path = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
            .resolve(s"$n.txt")
          java.nio.file.Files.write(path,
            qe.explainString(org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
          println(s"[profile] $n -> $path")
        }
      }
      println(summary(dir, names, passes))
    } finally spark.stop()
  }

  /** The closing line: per query the fastest successful pass. */
  def summary(dir: String, names: Seq[String], passes: Seq[Map[String, Meter.Record]]): String = {
    def f3(d: Double) = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    def best(n: String): Option[Meter.Record] =
      passes.map(_(n)).filter(_.time.isDefined).minByOption(_.time.get.wallMs)
    def field(f: Meter.Record => String) =
      names.map(n => s""""$n":${best(n).map(f).getOrElse("-1")}""").mkString(",")
    val failed = names.filter(best(_).isEmpty)
    s"""{"bench_subset":{${field(r => f3(r.time.get.wallMs / 1e3).toString)}},""" +
      s""""jobs":{${field(_.jobs.toString)}},"task_cpu_s":{${field(r => f3(r.cpuMs / 1e3).toString)}},""" +
      s""""failed":[${failed.map("\"" + _ + "\"").mkString(",")}],"dir":"$dir"}"""
  }

  private def printStages(name: String, r: Meter.Record): Unit = {
    val ss = r.stageLog
    val base = ss.headOption.map(_.submit).getOrElse(0L)
    println(s"=== $name wall=${r.time.map(t => math.round(t.wallMs)).getOrElse(-1L)} ms, " +
      s"${ss.size} stages, run_ms=${r.runMs}, gap_ms=${r.time.map(t => math.round(t.gapMs)).getOrElse(-1L)}")
    var cursor = base
    for (s <- ss) {
      println(f"  [${s.submit - base}%6d +${s.done - s.submit}%5d ms] " +
        f"gapBefore=${math.max(s.submit - cursor, 0L)}%5d stage ${s.id}%3d tasks=${s.nTasks}%3d " +
        f"runMs=${s.runMs}%6d ${s.name.take(60)}")
      cursor = math.max(cursor, s.done)
    }
  }
}
