package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** Live download progress (K8, reference `logger.py:119-159`): the
  * reference prints a throttled status line (count, success rate,
  * images/sec) while the job runs; without it a 20-hour run is silent
  * until the end.
  *
  * Spark-native shape: the download tasks bump two `LongAccumulator`s
  * (driver-aggregated automatically, zero shuffle), and a driver-side
  * daemon thread polls them every `intervalMs` and emits one line —
  * the batch-engine analog of the reference's logger process pattern.
  * Emission goes through [[DownloadProgress.sink]] (default stdout) so
  * tests can capture lines.
  *
  * Counts are task-ATTEMPT-scoped (accumulators in a transformation):
  * a speculative or retried task bumps them again, so under failures
  * the line can over-count — it is live telemetry, exactly like the
  * reference's per-attempt counter. The exact post-job numbers come
  * from the shard writer's committed per-shard counts, never from
  * here.
  */
class DownloadProgress(sc: SparkContext, intervalMs: Long = 5000,
                       metricsJsonlPath: Option[String] = None) {
  val attempted: LongAccumulator = sc.longAccumulator("graft.progress.attempted")
  val succeeded: LongAccumulator = sc.longAccumulator("graft.progress.succeeded")

  @volatile private var running = false
  private var startMs = 0L
  private var thread: Thread = _

  private def line(tag: String): String = {
    val n = attempted.value
    val s = succeeded.value
    val elapsed = math.max((System.currentTimeMillis() - startMs) / 1000.0, 1e-9)
    val rate = if (n == 0) 0.0 else s.toDouble / n
    // each console emission also flows to the structured hook (K8
    // wandb-parity surface); failure SPLITS are only known post-run,
    // so progress events carry None there
    MetricsSink.emit(MetricsEvent("progress", n, s, None, None, n / elapsed, rate, elapsed),
      metricsJsonlPath)
    f"[graft download $tag] count: $n - success: $rate%.3f - images per sec: ${n / elapsed}%.1f - elapsed: $elapsed%.1f s"
  }

  /** Start the throttled emitter; idempotent. */
  def start(): Unit = {
    if (running) return
    running = true
    startMs = System.currentTimeMillis()
    thread = new Thread(() => {
      var last = 0L
      while (running) {
        try Thread.sleep(intervalMs) catch { case _: InterruptedException => }
        // only emit when something moved — the reference's logger also
        // throttles on change (logger.py:153-159)
        val n = attempted.value
        if (running && n != last) { last = n; DownloadProgress.sink(line("progress")) }
      }
    }, "graft-download-progress")
    thread.setDaemon(true)
    thread.start()
  }

  /** Stop polling and emit the final summary line. */
  def stop(): Unit = {
    if (!running) return
    running = false
    thread.interrupt()
    thread.join(1000)
    DownloadProgress.sink(line("total"))
  }
}

object DownloadProgress {
  /** Pluggable emission target (tests swap in a collector). */
  @volatile var sink: String => Unit = println
}
