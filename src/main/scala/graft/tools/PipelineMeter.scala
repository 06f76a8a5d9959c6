package graft.tools

/** Machine-independent regression accounting for the
  * download→resize→package pipeline, and the baseline gate over it.
  *
  * The 168-query surface is guarded by [[ShuffleMeter]]'s shuffle-byte
  * baseline, but the headline pipeline is mapPartitions+sink with
  * almost no shuffle — its wall img/s swings 25%+ with host throttle
  * on identical code (round 10 measured 2,560→1,898 img/s across runs
  * of the same commit), so nothing mechanical guarded it. CPU TIME
  * does not accumulate while a core is stolen: a throttled host
  * stretches the wall but charges (nearly) the same cycles per image,
  * while a genuine regression — an extra encode pass, a listener in
  * the hot loop, sha recomputed twice — charges more cycles per image
  * on every host. So the gate compares per-image CPU, not wall.
  *
  * Three per-run metrics, each normalized per SUCCESSFUL image:
  *  - `proc_cpu_us_per_img` — whole-JVM process CPU (covers the
  *    downloader's internal thread pool, GC, and sink writers, which
  *    task-level `executorCpuTime` cannot see); the primary gate.
  *  - `exec_cpu_us_per_img` — task-thread CPU from task metrics (the
  *    decode/resize/encode/hash hot path runs on the task thread);
  *    the sharper signal for hot-path regressions, recorded + gated.
  *  - `out_bytes_per_img` — bytes on disk under the output dir;
  *    two-sided: ballooning output means redundant artifacts,
  *    SHRINKING output means images silently not written.
  *
  * Residual machine-dependence, accepted: CPU frequency scaling can
  * shift cycles-per-second ~±20% across hosts — covered by the 1.4×
  * ratio; unlike wall, a 15–50× starvation window (ROUND4.md) cannot
  * touch these numbers.
  */
object PipelineMeter {

  /** Gate: breach above baseline × 1.4 (CPU and bytes), and below
    * baseline ÷ 1.4 for the two-sided out-bytes metrics. The small
    * absolute floor only silences degenerate near-zero baselines on
    * the HIGH side — applying it low would let a sub-floor baseline
    * (the parquet path's 66 bytes/img) shrink to near zero without
    * tripping, which is exactly the "images silently not written"
    * case the low side exists for; output bytes are deterministic
    * per image, so the ratio alone gates shrinkage.
    */
  val RatioTolerance = 1.4
  val AbsFloor: Long = 64

  /** One measured pipeline run. `successes` is the per-image
    * denominator: failed fetches cost little CPU and would dilute the
    * signal if counted.
    *
    * The trailing forensics fields (r12 verdict #2: a pathological run
    * must be attributable from the artifact alone) are deltas over the
    * run, −1 when not captured:
    *  - `gcMs` — whole-JVM garbage-collection time (a GC storm charges
    *    process CPU without touching task CPU);
    *  - `jitMs` — JIT compilation time (deopt/recompile storms also
    *    charge process CPU invisibly);
    *  - `taskFailures` — Spark tasks that ended in anything but
    *    Success (a retried task re-runs download+decode work and
    *    charges its CPU twice with ZERO user-visible failures);
    *  - `stageRetries` — stage attempts with attemptNumber > 0;
    *  - `serverRequests`/`serverErrors` — loopback image-server
    *    counters (requests ≫ images ⇒ client retries; errors ⇒
    *    hang-ups/404s the 0-failure result row cannot show).
    *
    * The OUT-OF-JVM fields (r13 verdict #1: every in-JVM dimension
    * read healthy through a 27× CPU inflation, leaving "host vs JVM
    * deopt" undecidable from the artifact) — all −1 when not captured:
    *  - `canaryNsMed`/`canaryNsMin`/`canaryChunks`/`canaryMode` — a
    *    fixed xorshift chunk run CONCURRENTLY with the attempt in a
    *    separate OS process ([[HostCanary]]); median/min ns-per-chunk
    *    over the attempt window. Host contention inflates the canary
    *    with the pipeline; a Spark-JVM deopt cannot touch it.
    *  - `stealMs` — /proc/stat steal-jiffy delta (hypervisor ran
    *    another guest while this one was runnable), whole host;
    *  - `hostBusyPct` — whole-host non-idle share of the attempt
    *    window (are OTHER processes eating the cores?);
    *  - `runqWaitMs` — /proc/self/schedstat runnable-but-not-running
    *    delta for this process: direct core-contention evidence;
    *  - `cpuMhz` — mean /proc/cpuinfo frequency snapshot after the
    *    attempt (down-clocking inflates every CPU-per-image number).
    */
  final case class PipeMeasure(images: Long, successes: Long, wallSecs: Double,
      execCpuNs: Long, procCpuNs: Long, outBytes: Long,
      gcMs: Long = -1L, jitMs: Long = -1L,
      taskFailures: Long = -1L, stageRetries: Long = -1L,
      serverRequests: Long = -1L, serverErrors: Long = -1L,
      canaryNsMed: Long = -1L, canaryNsMin: Long = -1L,
      canaryChunks: Long = -1L, canaryMode: String = "none",
      stealMs: Long = -1L, hostBusyPct: Long = -1L,
      runqWaitMs: Long = -1L, cpuMhz: Long = -1L) {
    private def per(v: Long): Long = if (successes <= 0) 0L else v / successes
    def execCpuUsPerImg: Long = per(execCpuNs / 1000)
    /** −1 when the platform CPU bean was unavailable ([[processCpuNs]])
      * — a loud sentinel, NOT 0: a 0 here would silently pass the
      * upward-only CPU gate and could be persisted as a degenerate
      * baseline that never trips again.
      */
    def procCpuUsPerImg: Long = if (procCpuNs < 0) -1L else per(procCpuNs / 1000)
    def outBytesPerImg: Long = per(outBytes)
    def imgPerSec: Double = if (wallSecs <= 0) 0.0 else images / wallSecs

    /** This measure as one JSON object, the one form every pipeline tool
      * prints: the caller's `head` members, then the measure's own
      * members in one fixed order (less `omit`), then the caller's
      * `tail`. `head` and `tail` values are JSON literals; `sec` keeps 3
      * decimals and `img_per_sec` keeps `rateDecimals`.
      */
    def json(head: Seq[(String, Any)] = Nil, tail: Seq[(String, Any)] = Nil,
             omit: Set[String] = Set.empty, rateDecimals: Int = 3): String = {
      def dec(d: Double, n: Int) = BigDecimal(d).setScale(n, BigDecimal.RoundingMode.HALF_UP)
      val own = Seq[(String, Any)](
        "images" -> images, "successes" -> successes, "sec" -> dec(wallSecs, 3),
        "img_per_sec" -> dec(imgPerSec, rateDecimals),
        "proc_cpu_us_per_img" -> procCpuUsPerImg, "exec_cpu_us_per_img" -> execCpuUsPerImg,
        "out_bytes_per_img" -> outBytesPerImg, "gc_ms" -> gcMs, "jit_ms" -> jitMs,
        "task_failures" -> taskFailures, "stage_retries" -> stageRetries,
        "server_requests" -> serverRequests, "server_errors" -> serverErrors,
        "canary_ns_med" -> canaryNsMed, "canary_ns_min" -> canaryNsMin,
        "canary_chunks" -> canaryChunks, "canary_mode" -> s""""$canaryMode"""",
        "steal_ms" -> stealMs, "host_busy_pct" -> hostBusyPct,
        "runq_wait_ms" -> runqWaitMs, "cpu_mhz" -> cpuMhz)
      (head ++ own.filterNot(f => omit(f._1)) ++ tail)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }
  }

  /** Whole-JVM CPU time (ns since JVM start), −1 if the platform bean
    * is unavailable. In local mode the executors ARE this JVM, so the
    * delta around a run covers pool threads/GC/sinks too.
    */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Cumulative GC time (ms since JVM start) across all collectors. */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Cumulative JIT compilation time (ms since JVM start), −1 if the
    * bean doesn't support monitoring. */
  def jitMillis(): Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime
    else -1L
  }

  /** Current bytes used across the JIT code-heap pools (gauge, not a
    * delta). The bimodality suspect this measures: a long query phase
    * generates thousands of whole-stage-codegen classes; if the
    * reserved code cache saturates, UseCodeCacheFlushing starts
    * evicting warm methods and the pipeline's hot decode path runs
    * deoptimized — task CPU inflates 10×+ with zero failures.
    */
  def codeCacheUsedBytes(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "CodeCache")
      .map(p => math.max(0L, p.getUsage.getUsed)).sum
  }

  /** True when the per-image process-CPU of sibling attempts diverges
    * more than `ratio` — the r12 bimodality signature (4–5.5 ms/img
    * healthy vs 16–66 ms/img pathological on identical code). −1
    * sentinels (bean unavailable) and zero-success runs are excluded;
    * fewer than two measurable attempts can never flag.
    */
  def bimodal(attempts: Seq[PipeMeasure], ratio: Double = RatioTolerance): Boolean = {
    val vs = attempts.map(_.procCpuUsPerImg).filter(_ > 0)
    vs.size >= 2 && vs.max.toDouble / vs.min.toDouble > ratio
  }

  /** Total bytes of regular files under `path` (0 if absent). */
  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }
  }

  /** Bracket one pipeline run: the meter drains the listener bus
    * before and after so every finished task's CPU has landed, then
    * the output dir size is read. `run` returns (images, successes).
    * GC/JIT deltas, task-thread CPU, failed task ends (a task that
    * fails and retries re-runs its download/decode work, charging its
    * CPU twice while the result row reports zero failures; killed
    * tasks re-run nothing and are not counted) and stage re-attempts
    * are always captured; server counters when the optional reader is
    * supplied (monotonic-cumulative).
    *
    * `canary = true` (default) additionally runs the out-of-JVM
    * [[HostCanary]] for the duration of the run and brackets the
    * /proc host counters — the r13 verdict #1 instrument. The canary
    * costs one busy core out of 32 for the attempt; the committed
    * baseline is measured with it ON, so the cost is in-band.
    */
  def measure(meter: Meter, outDir: String,
              serverCounters: Option[() => (Long, Long)] = None,
              canary: Boolean = true)
             (run: => (Long, Long)): PipeMeasure = {
    val m0 = meter.totals()
    val hs0 = HostProbe.cpuStat(); val ss0 = HostProbe.schedstat()
    val can = if (canary) Some(new HostCanary()) else None
    val p0 = processCpuNs(); val t0 = System.nanoTime()
    val g0 = gcMillis(); val j0 = jitMillis()
    val sc0 = serverCounters.map(_.apply())
    val (images, successes) = run
    val wall = (System.nanoTime() - t0) / 1e9
    val canStats = can.map(_.stop())
    val hs1 = HostProbe.cpuStat(); val ss1 = HostProbe.schedstat()
    val mhz = HostProbe.cpuMhz()
    val d = meter.totals() - m0
    val p1 = processCpuNs()
    // metric-unavailable propagates as −1, never as a 0 delta
    val procDelta = if (p0 < 0 || p1 < 0) -1L else p1 - p0
    val j1 = jitMillis()
    val (scQ, scE) = serverCounters.map(_.apply()).zip(sc0)
      .map { case (a, b) => (a._1 - b._1, a._2 - b._2) }.getOrElse((-1L, -1L))
    val (steal, busyPct) = hs0.zip(hs1).map { case (a, b) =>
      val dTotal = b.total - a.total
      (math.max(0L, b.steal - a.steal) * HostProbe.JiffyMs,
        if (dTotal <= 0) -1L else (b.busy - a.busy) * 100L / dTotal)
    }.getOrElse((-1L, -1L))
    val runqWait = ss0.zip(ss1)
      .map { case (a, b) => (b._2 - a._2) / 1000000L }.getOrElse(-1L)
    PipeMeasure(images, successes, wall,
      d.taskCpuNs, procDelta, dirBytes(outDir),
      gcMs = gcMillis() - g0,
      jitMs = if (j0 < 0 || j1 < 0) -1L else j1 - j0,
      taskFailures = d.taskFailures, stageRetries = d.stageRetries,
      serverRequests = scQ, serverErrors = scE,
      canaryNsMed = canStats.map(_.medianNs).getOrElse(-1L),
      canaryNsMin = canStats.map(_.minNs).getOrElse(-1L),
      canaryChunks = canStats.map(_.chunks.toLong).getOrElse(-1L),
      canaryMode = canStats.map(_.mode).getOrElse("none"),
      stealMs = steal, hostBusyPct = busyPct,
      runqWaitMs = runqWait, cpuMhz = mhz.map(_.round).getOrElse(-1L))
  }

  /** The committed decision rule for a measured attempt (r13 verdict
    * #1, verbatim): the canary ran a FIXED workload outside the JVM
    * concurrently with the attempt, so
    *  - proc-CPU/img within gate            ⇒ `healthy`;
    *  - proc-CPU/img inflated AND canary inflated ⇒ `host` — the
    *    fixed out-of-JVM work inflated too; the engine is exonerated
    *    (host-level accounting / steal / down-clock);
    *  - proc-CPU/img inflated, canary at baseline ⇒ `jvm_internal` —
    *    the pathology lives inside the Spark JVM (deopt-class;
    *    capture -XX:+PrintCompilation / JFR on the spot);
    *  - canary didn't produce samples or no baseline ⇒
    *    `indeterminate` (loud, never a silent healthy).
    * Baselines come from `tools/pipeline_baseline.json`
    * (`canary_ns_per_chunk`, `{batch,wds}_proc_cpu_us_per_img`);
    * the canary baseline is host-calibration data and is NOT an
    * engine gate metric ([[check]] only gates `*_per_img` keys the
    * gate itself measures).
    */
  def adjudicate(m: PipeMeasure, canaryBaselineNs: Long, procBaselineUs: Long,
                 ratio: Double = RatioTolerance): String =
    if (m.procCpuUsPerImg < 0 || procBaselineUs <= 0) "indeterminate"
    else if (m.procCpuUsPerImg <= procBaselineUs * ratio) "healthy"
    else if (m.canaryNsMed <= 0 || canaryBaselineNs <= 0) "indeterminate"
    else if (m.canaryNsMed > canaryBaselineNs * ratio) "host"
    else "jvm_internal"

  /** Baseline key for the canary's healthy ns-per-chunk (written by
    * PipelineGate's baseline mode; read by [[adjudicate]] callers).
    */
  val CanaryBaselineKey = "canary_ns_per_chunk"

  /** The pure gate. CPU metrics breach only UPWARD (less CPU per
    * image is an improvement); `*_out_bytes_per_img` metrics breach
    * in BOTH directions (shrunken output = images silently dropped).
    * The absolute floor applies to the HIGH side only: a low-side
    * floor would disarm the shrink gate for any baseline under ~10×
    * the floor (66 bytes/img parquet meta could drop to 1 silently).
    * Unavailable metrics (−1 sentinel) are skipped, never gated or
    * baselined. Returns (breaches, newMetrics) with
    * [[ShuffleMeter.Breach]]'s shape — for a low-side breach
    * `ratio` < 1.
    */
  def check(measured: Map[String, Long], baseline: Map[String, Long],
            ratio: Double = RatioTolerance,
            floor: Long = AbsFloor): (Seq[ShuffleMeter.Breach], Seq[String]) = {
    val newM = measured.keys.filterNot(baseline.contains).toSeq.sorted
    val breaches = measured.toSeq.collect {
      case (name, v) if v >= 0 && baseline.contains(name) && baseline(name) >= 0 && {
        val b = baseline(name)
        val high = v > b * ratio && v > b + floor
        val low = name.endsWith("out_bytes_per_img") && v < b / ratio
        high || low
      } => ShuffleMeter.Breach(name, v, baseline(name))
    }.sortBy(b => -math.max(b.ratio, if (b.bytes == 0) Double.PositiveInfinity
      else b.baseline.toDouble / b.bytes))
    (breaches, newM)
  }

  val BaselinePath: java.nio.file.Path =
    java.nio.file.Paths.get("tools/pipeline_baseline.json")
}
