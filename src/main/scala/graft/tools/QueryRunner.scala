package graft.tools

import org.apache.spark.sql.SparkSession

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit, TimeoutException}

/** Shared per-query timed-run harness for the gate tools
  * ([[SmokeGate]], [[ScaleSmoke]], [[ScaleCurve]]): run a body to full materialization
  * on its OWN single-thread executor under a wall budget, cancel the
  * Spark job group on breach, and measure from the moment the task
  * actually starts (never from submit, so a stuck predecessor cannot
  * inflate a successor's reading). A cancel-ignoring zombie task
  * keeps only its abandoned executor — the next query always gets a
  * fresh worker thread.
  */
object QueryRunner {

  /** Returns (seconds from task start, status) with status one of
    * "ok" | "TIMEOUT" | "ERROR". `label` prefixes stderr diagnostics
    * (e.g. "smoke", "scale").
    */
  def runWithBudget(spark: SparkSession, group: String, name: String,
                    timeoutSec: Int, label: String)(body: => Unit): (Double, String) = {
    val pool = Executors.newSingleThreadExecutor()
    val started = new CountDownLatch(1)
    @volatile var taskStartNanos = 0L
    val fut = pool.submit(new Runnable {
      def run(): Unit = {
        taskStartNanos = System.nanoTime()
        started.countDown()
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try body
        finally spark.sparkContext.clearJobGroup()
      }
    })
    started.await() // fresh executor: the task begins immediately
    val status =
      try { fut.get(timeoutSec.toLong, TimeUnit.SECONDS); "ok" }
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(group)
          fut.cancel(true)
          "TIMEOUT"
        case e: Throwable =>
          val root = Option(e.getCause).getOrElse(e)
          System.err.println(s"[$label] $name failed: ${root.getMessage}")
          "ERROR"
      }
    val sec = (System.nanoTime() - taskStartNanos) / 1e9
    pool.shutdownNow()
    // Give the worker a moment to unwind after cancel; if it ignores
    // the interrupt we abandon the executor and note the zombie.
    if (!pool.awaitTermination(2, TimeUnit.SECONDS) && status == "TIMEOUT")
      System.err.println(s"[$label] $name: worker thread ignored cancellation (abandoned)")
    (sec, status)
  }
}
