package graft.tools

/** Per-query wall-time smoke gate — the check that would have caught
  * round 7's winnowing regression (two queries green on correctness at
  * sf0.01 but 300× over budget at sf0.1, which timed out the whole
  * driver bench).
  *
  * Runs EVERY `SparkEntry.queries` entry once against `args(0)`
  * (an sf dir, normally sf0.1) with a per-query wall budget
  * (`args(1)` seconds, default 60), executing each plan fully via the
  * noop sink (no result IO, no driver collect). A query that breaches
  * the budget has its Spark jobs cancelled (job-group cancel) and the
  * run continues, so one bomb cannot mask another. Each query runs on
  * its OWN single-thread executor: a timed-out task that ignores the
  * job-group cancel keeps only its own (abandoned) thread, it cannot
  * steal the worker from subsequent queries — and the per-query clock
  * starts when the task actually begins running, never at submit, so a
  * stuck predecessor can't inflate a successor's reading.
  *
  * A second, global wall budget (`args(2)` seconds, default 600) fails
  * the run fast under a pervasive slowdown: once total elapsed exceeds
  * it, remaining queries are recorded as `SKIPPED_BUDGET` and the gate
  * exits nonzero. Exit code 1 when any query breaches, errors, or is
  * budget-skipped; per-query seconds printed sorted slowest-first plus
  * a single trailing JSON line for tooling.
  *
  * SHUFFLE REGRESSION GATE ([[ShuffleMeter]]): every completed query's
  * shuffle-write bytes are compared against the committed baseline
  * (`tools/shuffle_baseline.json`); a query above baseline×1.5 AND
  * baseline+1 MiB fails the gate. Bytes are the machine-independent
  * signal — a plan regression (broadcast flipping to sort-merge, a
  * new unkeyed exchange) moves them even when this host's throttle
  * windows make wall seconds unreadable. Queries missing from the
  * baseline are reported NEW and do not fail; regenerate the baseline
  * with SPARK_GRAFT_WRITE_SHUFFLE_BASELINE=1 after adding queries.
  * Shuffle bytes grow with the partition count, so the baseline
  * records the `spark.sql.shuffle.partitions` it was measured at and
  * a run at any other count is refused up front (exit 2) instead of
  * being gated against it.
  *
  * Usage: sbt "runMain graft.tools.SmokeGate /root/testdata/sf0.1 60 600"
  * Subset via SPARK_GRAFT_ONLY=a,b,c (same contract as Verify).
  */
object SmokeGate {
  def main(args: Array[String]): Unit = {
    graft.config.SaltEnv.requireUnsalted("SmokeGate")
    require(args.nonEmpty, "usage: SmokeGate <sfDir> [timeoutSec] [totalBudgetSec]")
    val sfDir = args(0)
    val timeoutSec = if (args.length > 1) args(1).toInt else 60
    val totalBudgetSec = if (args.length > 2) args(2).toInt else 600
    val only = graft.queries.QuerySpec.only
    val spark = LocalSession()
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val baselinePath = java.nio.file.Paths.get("tools/shuffle_baseline.json")
    val writeBaseline = sys.env.contains("SPARK_GRAFT_WRITE_SHUFFLE_BASELINE")
    // bytes measured at one partition count say nothing about another
    if (!writeBaseline) ShuffleMeter.partitionsMismatch(baselinePath, partitions).foreach { why =>
      System.err.println(s"[smoke] REFUSED: $why")
      spark.stop()
      sys.exit(2)
    }
    val meter = Meter(spark)

    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String, Long)]
    val runStart = System.nanoTime()
    def totalElapsedSec: Double = (System.nanoTime() - runStart) / 1e9

    graft.SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        if (totalElapsedSec > totalBudgetSec) {
          results += ((name, 0.0, "SKIPPED_BUDGET", 0L))
          println(f"[smoke] $name%-28s ${0.0}%8.2f s  SKIPPED_BUDGET")
        } else {
          val s0 = meter.totals()
          val (sec, status) = QueryRunner.runWithBudget(
              spark, s"smoke-$name", name, timeoutSec, "smoke") {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          val bytes = (meter.totals() - s0).shuffleBytes
          results += ((name, sec, status, bytes))
          println(f"[smoke] $name%-28s ${sec}%8.2f s  $status  ${bytes}%12d B")
        }
      }

    // shuffle gate: only fully-completed runs carry meaningful bytes
    val measured = results.collect { case (n, _, "ok", b) => n -> b }.toMap
    val (shuffleBreaches, newQueries) =
      if (writeBaseline) {
        ShuffleMeter.writeBaseline(baselinePath, measured, Some(partitions))
        println(s"[smoke] wrote shuffle baseline: $baselinePath (${measured.size} queries " +
          s"at $partitions shuffle partitions)")
        (Seq.empty[ShuffleMeter.Breach], Seq.empty[String])
      } else ShuffleMeter.loadBaseline(baselinePath) match {
        case Some(base) =>
          val (br, nw) = ShuffleMeter.check(measured, base)
          if (nw.nonEmpty)
            println(s"[smoke] NEW queries (no shuffle baseline yet): ${nw.mkString(", ")}")
          br.foreach { b =>
            println(f"[smoke] SHUFFLE BREACH ${b.name}%-28s ${b.bytes}%12d B vs baseline ${b.baseline}%12d B (${b.ratio}%.2fx)")
          }
          (br, nw)
        case None =>
          println("[smoke] no shuffle baseline committed — skipping byte gate")
          (Seq.empty[ShuffleMeter.Breach], Seq.empty[String])
      }

    val bad = results.filter(_._3 != "ok")
    println("[smoke] slowest 10:")
    results.sortBy(-_._2).take(10).foreach { case (n, s, st, _) =>
      println(f"[smoke]   $n%-28s ${s}%8.2f s  $st")
    }
    val json = results.sortBy(-_._2)
      .map { case (n, s, st, b) => s""""$n":{"sec":${f"$s%.2f"},"status":"$st","shuffle_bytes":$b}""" }
      .mkString("{", ",", "}")
    val shJson = shuffleBreaches
      .map(b => s""""${b.name}":{"bytes":${b.bytes},"baseline":${b.baseline}}""")
      .mkString("{", ",", "}")
    println(s"""{"smoke_gate":{"sf_dir":"$sfDir","timeout_sec":$timeoutSec,"total_budget_sec":$totalBudgetSec,"total_sec":${f"$totalElapsedSec%.2f"},"breaches":${bad.size},"shuffle_breaches":$shJson,"new_queries":${newQueries.size},"queries":$json}}""")
    meter.close()
    spark.stop()
    if (bad.nonEmpty || shuffleBreaches.nonEmpty) {
      System.err.println(s"[smoke] FAILED: ${(bad.map(_._1) ++ shuffleBreaches.map(b => s"${b.name} (shuffle)")).mkString(", ")}")
      sys.exit(1)
    }
  }
}
