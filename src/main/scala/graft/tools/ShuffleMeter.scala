package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-query shuffle-byte accounting + the baseline regression gate.
  *
  * Shuffle-write bytes are the one machine-independent signal this
  * throttle-prone host offers: wall seconds need min-of-2 passes and
  * manual adjudication against CPU probes, but a query's shuffle
  * bytes change ONLY when its plan changes (round 9's incremental-
  * dedup persist refactor flipped broadcasts to sort-merge and tripled
  * bytes 11.0→33.5 MB while the wall numbers were still arguable).
  * This turns that manual read of `BENCH_FULL.json` into a mechanical
  * gate: [[SmokeGate]] measures every query's bytes at sf0.1 and
  * fails any query above its committed baseline
  * (`tools/shuffle_baseline.json`) by more than `RatioTolerance`×
  * AND `AbsFloorBytes` (both must be exceeded — tiny queries jitter
  * by a few KB when AQE picks a different partition count, and that
  * noise must not page anyone).
  */
object ShuffleMeter {

  /** A query whose measured shuffle bytes exceed the gate. */
  final case class Breach(name: String, bytes: Long, baseline: Long) {
    def ratio: Double = if (baseline == 0) Double.PositiveInfinity
      else bytes.toDouble / baseline
  }

  /** Default gate: >1.5× the baseline AND >1 MiB above it. The ratio
    * catches plan regressions (broadcast→SMJ is ≥2× on any real
    * query); the absolute floor keeps byte-level AQE jitter on tiny
    * queries from tripping it.
    */
  val RatioTolerance = 1.5
  val AbsFloorBytes: Long = 1L << 20

  /** Attach a task-level shuffle-write listener to the session and
    * return a () => Long reading the running total. The caller brackets
    * each query with [[drainAndRead]] deltas (queries must run
    * sequentially — the counter is global to the context).
    */
  def attach(spark: SparkSession): () => Long = {
    val c = attachCounters(spark)
    () => c.shuffleBytes.get()
  }

  /** Running totals of one attached listener: shuffle-write bytes,
    * started jobs and task CPU nanoseconds. */
  final class Counters extends org.apache.spark.scheduler.SparkListener {
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val taskCpuNs = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        taskCpuNs.addAndGet(m.executorCpuTime)
      }
    }
    override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
  }

  /** [[attach]] with every counter exposed; the caller removes the
    * listener (`sparkContext.removeSparkListener`) when done. */
  def attachCounters(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Drain the listener bus so every finished task's metrics have
    * landed, then read the counter — the before/after pair around a
    * fully-materialized query is that query's shuffle bytes.
    */
  def drainAndRead(spark: SparkSession, read: () => Long): Long = {
    try org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    catch { case _: Throwable => Thread.sleep(300) }
    read()
  }

  /** The pure gate: compare measured bytes against the baseline.
    * Returns (breaches, newQueries) — a query absent from the baseline
    * is NEW (reported, never failed: the baseline is regenerated when
    * queries are added); a baseline query absent from the measurement
    * is ignored (subset runs). Queries whose run did not complete
    * (status != "ok") must be filtered out by the caller — a cancelled
    * job's partial bytes are not evidence.
    */
  def check(measured: Map[String, Long], baseline: Map[String, Long],
            ratio: Double = RatioTolerance,
            floorBytes: Long = AbsFloorBytes): (Seq[Breach], Seq[String]) = {
    val newQ = measured.keys.filterNot(baseline.contains).toSeq.sorted
    val breaches = measured.toSeq.collect {
      case (name, bytes) if baseline.contains(name) &&
          bytes > baseline(name) * ratio && bytes > baseline(name) + floorBytes =>
        Breach(name, bytes, baseline(name))
    }.sortBy(-_.ratio)
    (breaches, newQ)
  }

  /** Load `tools/shuffle_baseline.json` (flat {"query": bytes} map,
    * written by `SmokeGate` under SPARK_GRAFT_WRITE_SHUFFLE_BASELINE).
    * Hand-rolled parse: the file is machine-written flat JSON and the
    * repo carries no JSON library beyond Spark's internals.
    */
  def loadBaseline(path: java.nio.file.Path): Option[Map[String, Long]] =
    if (!java.nio.file.Files.exists(path)) None
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      val re = """"([^"]+)"\s*:\s*(\d+)""".r
      Some(re.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toLong).toMap)
    }

  def writeBaseline(path: java.nio.file.Path, measured: Map[String, Long]): Unit = {
    val body = measured.toSeq.sorted
      .map { case (n, b) => s"""  "$n": $b""" }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}
