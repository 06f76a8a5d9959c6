package graft

import graft.config.DownloadConfig
import graft.tools.{Meter, PipelineMeter, ShuffleMeter}

/** End-to-end proof that the pipeline CPU gate trips on a genuine
  * per-image work regression and stays quiet on a healthy re-run —
  * the [[ShuffleMeterSpec]] pattern applied to the pipeline surface.
  *
  * The "regression" is real extra hot-path work, not a mock: the
  * baseline run is T9 passthrough (no decode, no resize, no hash) and
  * the regressed run decodes + border-resizes to 256 + re-encodes +
  * sha256s every image — strictly more cycles per image on any host.
  * Run order (warm-up → baseline → regressed → healthy re-run) puts
  * JIT warm-up bias AGAINST the trip, so a pass here is conservative.
  */
class PipelineMeterSpec extends SparkSpec {

  private def withServer[A](f: graft.util.HttpImageServer => A): A = {
    val server = new graft.util.HttpImageServer
    try f(server) finally server.stop()
  }

  test("gate trips on real extra per-image CPU work; healthy re-run passes") {
    withServer { server => Meter.using(spark) { meter =>
      val n = 210
      val urls = (0 until n).map { i =>
        val (w, h) = server.sizes(i % server.sizes.length)
        server.url(s"/allowed/${w}_$h.jpg")
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_meter_spec")
      val urlFile = tmp.resolve("urls.txt")
      java.nio.file.Files.write(urlFile, urls.mkString("\n").getBytes("UTF-8"))
      val light = DownloadConfig(outputFormat = "dummy", samplesPerShard = 70,
        threadCount = 8, disableAllReencoding = true, computeHashCol = None,
        incrementalMode = "overwrite")
      val heavy = light.copy(disableAllReencoding = false, resizeMode = "border",
        imageSize = 256, computeHashCol = Some("sha256"))
      val serverCounters = () => (server.requests.get(), server.errors.get())
      def run(cfg: DownloadConfig, out: String): PipelineMeter.PipeMeasure =
        PipelineMeter.measure(meter, tmp.resolve(out).toString, Some(serverCounters)) {
          val r = Pipeline.download(spark, urlFile.toString,
            tmp.resolve(out).toString, cfg)
          (r.count, r.successes)
        }
      run(light, "warm") // untimed JIT/HTTP warm-up
      val base = run(light, "base")
      val regressed = run(heavy, "heavy")
      val rerun = run(light, "rerun")
      assert(base.successes === n && regressed.successes === n && rerun.successes === n)
      assert(base.execCpuNs > 0 && base.procCpuNs > 0,
        s"CPU counters must move: $base")
      // forensics fields captured, not sentinels: GC time is a real
      // delta, task failures/stage retries zero on a healthy run, and
      // the loopback server saw at least one request per image
      assert(base.gcMs >= 0L, s"gcMs must be a captured delta: $base")
      assert(base.taskFailures === 0L && base.stageRetries === 0L,
        s"healthy run must record zero task failures/stage retries: $base")
      assert(base.serverRequests >= n,
        s"server must have seen >= $n requests: ${base.serverRequests}")
      assert(base.serverErrors === 0L,
        s"healthy run must record zero server errors: ${base.serverErrors}")

      val baseline = Map("batch_exec_cpu_us_per_img" -> base.execCpuUsPerImg)
      val (trip, _) = PipelineMeter.check(
        Map("batch_exec_cpu_us_per_img" -> regressed.execCpuUsPerImg), baseline)
      assert(trip.nonEmpty,
        s"decode+resize+encode+sha per image must breach the 1.4x gate over " +
          s"passthrough: base=${base.execCpuUsPerImg}us regressed=${regressed.execCpuUsPerImg}us")

      val (quiet, _) = PipelineMeter.check(
        Map("batch_exec_cpu_us_per_img" -> rerun.execCpuUsPerImg), baseline)
      assert(quiet.isEmpty,
        s"healthy re-run (warmer JIT) must stay inside the gate: " +
          s"base=${base.execCpuUsPerImg}us rerun=${rerun.execCpuUsPerImg}us")
    }}
  }

  test("check: CPU gates upward only; out-bytes gates both ways; floor and new metrics") {
    val base = Map(
      "batch_proc_cpu_us_per_img" -> 10000L,
      "batch_out_bytes_per_img" -> 20000L,
      "tiny_out_bytes_per_img" -> 10L)
    // CPU: 1.5x up breaches, 2x down does not (improvement)
    val (up, _) = PipelineMeter.check(Map("batch_proc_cpu_us_per_img" -> 15000L), base)
    assert(up.map(_.name) === Seq("batch_proc_cpu_us_per_img"))
    val (down, _) = PipelineMeter.check(Map("batch_proc_cpu_us_per_img" -> 5000L), base)
    assert(down.isEmpty, "less CPU per image is an improvement, not a breach")
    // out bytes: both directions breach
    val (grow, _) = PipelineMeter.check(Map("batch_out_bytes_per_img" -> 30000L), base)
    assert(grow.nonEmpty, "ballooning output breaches")
    val (shrink, _) = PipelineMeter.check(Map("batch_out_bytes_per_img" -> 9000L), base)
    assert(shrink.nonEmpty, "silently shrunken output breaches")
    val (inBand, _) = PipelineMeter.check(Map("batch_out_bytes_per_img" -> 21000L), base)
    assert(inBand.isEmpty)
    // floor: a near-zero baseline cannot trip UPWARD on jitter
    val (jitter, _) = PipelineMeter.check(Map("tiny_out_bytes_per_img" -> 60L), base)
    assert(jitter.isEmpty, "64-unit floor silences degenerate baselines (high side)")
    // ...but the floor does NOT apply low: a sub-floor byte baseline
    // shrinking to near zero IS "images silently not written" — the
    // committed parquet path baseline is 66 bytes/img, so a low-side
    // floor would permanently disarm that gate (ADVICE r11)
    val (vanish, _) = PipelineMeter.check(Map("tiny_out_bytes_per_img" -> 1L), base)
    assert(vanish.map(_.name) === Seq("tiny_out_bytes_per_img"),
      "shrunken output must trip on ratio alone, even under the high-side floor")
    // −1 sentinel (platform CPU bean unavailable) is skipped, never
    // gated — and a −1 accidentally persisted as baseline gates nothing
    val (unavail, _) = PipelineMeter.check(Map("batch_proc_cpu_us_per_img" -> -1L), base)
    assert(unavail.isEmpty, "unavailable metric must not gate")
    val (badBase, _) = PipelineMeter.check(Map("x_out_bytes_per_img" -> 100L),
      Map("x_out_bytes_per_img" -> -1L))
    assert(badBase.isEmpty, "a sentinel baseline gates nothing")
    // new metric: reported, never failed
    val (none, fresh) = PipelineMeter.check(Map("new_metric" -> 999L), base)
    assert(none.isEmpty && fresh === Seq("new_metric"))
    // breach payload carries the evidence
    assert(up.head === ShuffleMeter.Breach("batch_proc_cpu_us_per_img", 15000L, 10000L))
    // PipeMeasure propagates bean-unavailable as −1 per-image, not 0
    val noBean = PipelineMeter.PipeMeasure(10, 10, 1.0, 1000000L, -1L, 100L)
    assert(noBean.procCpuUsPerImg === -1L,
      "unavailable process CPU must surface as the −1 sentinel, never a passable 0")
    assert(noBean.execCpuUsPerImg === 100L && noBean.outBytesPerImg === 10L)
  }

  test("HostProbe: /proc surfaces parse on this host") {
    assume(new java.io.File("/proc/stat").exists, "Linux-only probe")
    val s = graft.tools.HostProbe.cpuStat().get
    assert(s.total > 0 && s.busy >= 0 && s.idle > 0, s"implausible /proc/stat: $s")
    val (run, wait, slices) = graft.tools.HostProbe.schedstat().get
    assert(run > 0 && wait >= 0 && slices >= 0, s"implausible schedstat: ($run,$wait,$slices)")
    graft.tools.HostProbe.cpuMhz().foreach(mhz =>
      assert(mhz > 100 && mhz < 10000, s"implausible cpu MHz: $mhz"))
  }

  test("HostCanary: separate-process fixed workload produces chunk samples") {
    val canary = new graft.tools.HostCanary()
    Thread.sleep(2000)
    val stats = canary.stop()
    // forked test JVM has the real classpath, so the out-of-process
    // mode must engage here (fallback "thread" would mean the spawn
    // path is broken and the forensics silently degraded)
    assert(stats.mode === "process", s"expected process-mode canary: $stats")
    assert(stats.chunks > 0, s"no chunks in 2 s: $stats")
    assert(stats.minNs > 0 && stats.minNs <= stats.medianNs &&
      stats.medianNs <= stats.maxNs, s"inconsistent stats: $stats")
    // a 2^26-step xorshift chunk is 10–500 ms on any plausible host;
    // outside that means the chunk loop or the parse is broken
    assert(stats.medianNs > 1000000L && stats.medianNs < 2000000000L,
      s"implausible ns/chunk: $stats")
  }

  test("measure: canary + /proc fields land in the PipeMeasure") {
    assume(new java.io.File("/proc/stat").exists, "Linux-only fields")
    val m = Meter.using(spark)(PipelineMeter.measure(_, "/tmp/graft_canary_none") {
      // burn real CPU for ~2.5 s so the canary collects chunks
      val deadline = System.nanoTime() + 2500L * 1000000L
      var x = 1L
      while (System.nanoTime() < deadline) x ^= graft.tools.CanaryProcess.chunk(1L << 20, x)
      if (x == 42L) println("")
      (100L, 100L)
    })
    assert(m.canaryMode === "process", s"canary mode: $m")
    assert(m.canaryChunks > 0 && m.canaryNsMed > 0 && m.canaryNsMin > 0,
      s"canary stats must be captured: $m")
    assert(m.stealMs >= 0, s"steal delta must be captured on Linux: $m")
    assert(m.hostBusyPct >= 0 && m.hostBusyPct <= 100, s"host busy pct: $m")
    assert(m.runqWaitMs >= 0, s"runqueue wait delta: $m")
    assert(m.cpuMhz > 100, s"cpu MHz snapshot: $m")
  }

  test("adjudicate: the committed host-vs-JVM decision rule") {
    import PipelineMeter.{PipeMeasure, adjudicate}
    def m(procUsPerImg: Long, canaryNs: Long) =
      PipeMeasure(100, 100, 1.0, 0L, procUsPerImg * 1000L * 100L, 0L,
        canaryNsMed = canaryNs,
        canaryChunks = if (canaryNs > 0) 50L else -1L,
        canaryMode = if (canaryNs > 0) "process" else "none")
    val canaryBase = 30000000L // 30 ms/chunk healthy
    val procBase = 5000L       // 5 ms/img healthy
    // within the 1.4x gate: healthy regardless of canary
    assert(adjudicate(m(6500, 31000000L), canaryBase, procBase) === "healthy")
    assert(adjudicate(m(6500, -1L), canaryBase, procBase) === "healthy")
    // proc inflated AND the fixed out-of-JVM work inflated => host
    assert(adjudicate(m(130000, 95000000L), canaryBase, procBase) === "host")
    // proc inflated, canary at baseline => pathology inside the JVM
    assert(adjudicate(m(130000, 31000000L), canaryBase, procBase) === "jvm_internal")
    // no canary samples or no baseline: loud, never silently healthy
    assert(adjudicate(m(130000, -1L), canaryBase, procBase) === "indeterminate")
    assert(adjudicate(m(130000, 31000000L), -1L, procBase) === "indeterminate")
    assert(adjudicate(m(130000, 31000000L), canaryBase, -1L) === "indeterminate")
    // proc bean unavailable: indeterminate, not healthy
    assert(adjudicate(PipeMeasure(100, 100, 1.0, 0L, -1L, 0L),
      canaryBase, procBase) === "indeterminate")
  }

  test("bimodal: flags >1.4x proc-CPU divergence between sibling attempts") {
    // procCpuUsPerImg = procCpuNs/1000/successes
    def m(usPerImg: Long) =
      PipelineMeter.PipeMeasure(100, 100, 1.0, 0L, usPerImg * 1000L * 100L, 0L)
    assert(!PipelineMeter.bimodal(Seq.empty), "no attempts never flags")
    assert(!PipelineMeter.bimodal(Seq(m(5000))), "a single attempt never flags")
    assert(!PipelineMeter.bimodal(Seq(m(5000), m(6500))), "1.3x is in band")
    assert(PipelineMeter.bimodal(Seq(m(4200), m(66500))),
      "the r12 signature (4.2 vs 66.5 ms/img) must flag")
    assert(PipelineMeter.bimodal(Seq(m(66500), m(4200))), "order-insensitive")
    // −1 sentinel (CPU bean unavailable) is excluded, not compared
    val noBean = PipelineMeter.PipeMeasure(100, 100, 1.0, 0L, -1L, 0L)
    assert(!PipelineMeter.bimodal(Seq(m(5000), noBean)),
      "an unmeasurable attempt cannot make a pair bimodal")
  }

  test("json: the three pipeline tools print their members in their own order") {
    val m = PipelineMeter.PipeMeasure(100, 98, 2.5, 49000000L, 98000000L, 9800L,
      gcMs = 1, jitMs = 2, taskFailures = 3, stageRetries = 4, serverRequests = 5,
      serverErrors = 6, canaryNsMed = 7, canaryNsMin = 8, canaryChunks = 9,
      canaryMode = "child", stealMs = 10, hostBusyPct = 11, runqWaitMs = 12, cpuMhz = 13)
    val counters = """"gc_ms":1,"jit_ms":2,"task_failures":3,"stage_retries":4,""" +
      """"server_requests":5,"server_errors":6,"canary_ns_med":7,"canary_ns_min":8,""" +
      """"canary_chunks":9,"canary_mode":"child","steal_ms":10,"host_busy_pct":11,""" +
      """"runq_wait_ms":12,"cpu_mhz":13"""
    // PipelineGate's per-run line
    assert(m.json(omit = Set("img_per_sec", "out_bytes_per_img")) ===
      """{"images":100,"successes":98,"sec":2.500,"proc_cpu_us_per_img":1000,""" +
        s""""exec_cpu_us_per_img":500,$counters}""")
    // Bench's per-attempt record
    assert(m.json(omit = Set("images", "successes"), rateDecimals = 1,
        tail = Seq("verdict" -> "\"healthy\"", "failures" -> 2)) ===
      """{"sec":2.500,"img_per_sec":40.0,"proc_cpu_us_per_img":1000,""" +
        s""""exec_cpu_us_per_img":500,"out_bytes_per_img":100,$counters,""" +
        """"verdict":"healthy","failures":2}""")
    // PipelineForensics' line
    assert(m.json(head = Seq("iter" -> 0, "fmt" -> "\"parquet\""),
        tail = Seq("verdict" -> "\"healthy\"", "code_cache_mb" -> 64, "probe_med" -> "0.500")) ===
      """{"iter":0,"fmt":"parquet","images":100,"successes":98,"sec":2.500,""" +
        """"img_per_sec":40.000,"proc_cpu_us_per_img":1000,"exec_cpu_us_per_img":500,""" +
        s""""out_bytes_per_img":100,$counters,"verdict":"healthy","code_cache_mb":64,""" +
        """"probe_med":0.500}""")
  }
}
