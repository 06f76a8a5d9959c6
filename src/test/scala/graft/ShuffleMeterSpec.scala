package graft

import graft.tools.{Meter, ShuffleMeter}
import org.apache.spark.sql.functions._

/** The shuffle-bytes regression gate: the pure check() contract plus
  * an end-to-end trip on a deliberately-regressed plan (the same
  * broadcast→sort-merge flip the round-9 manual read of
  * BENCH_FULL.json caught by hand).
  */
class ShuffleMeterSpec extends SparkSpec {

  test("check(): trips on a real regression, ignores jitter and NEW queries") {
    val base = Map("big" -> 10L * 1024 * 1024, "tiny" -> 2048L, "gone" -> 99L)
    val measured = Map(
      "big" -> 31L * 1024 * 1024, // 3.1x + 21 MiB over: breach
      "tiny" -> 900L * 1024,      // 450x ratio but < 1 MiB absolute: jitter, no breach
      "fresh" -> 5L * 1024 * 1024) // not in baseline: NEW, never a breach
    val (breaches, newQ) = ShuffleMeter.check(measured, base)
    assert(breaches.map(_.name) == Seq("big"))
    assert(breaches.head.baseline == 10L * 1024 * 1024)
    assert(newQ == Seq("fresh"))
    // a "gone" baseline entry (query removed/subset run) is ignored
    assert(!breaches.exists(_.name == "gone"))
    // both conditions required: 1.5x of a large baseline without the
    // absolute floor crossing is impossible, but the floor alone
    // (baseline + 1 MiB at ratio < 1.5) must also NOT trip
    val (none, _) = ShuffleMeter.check(
      Map("big" -> (10L * 1024 * 1024 + 2L * 1024 * 1024)), base)
    assert(none.isEmpty, "1.2x with 2 MiB delta is inside the ratio tolerance")
  }

  test("end-to-end: a broadcast->sort-merge plan regression moves measured bytes past the gate") {
    Meter.using(spark) { meter =>
      def bytesOf(body: => Unit): Long = {
        val r = meter.measure("join_q")(body)(_ => ())
        assert(r.status == "ok", "the measured join ran")
        r.shuffleWrite
      }
      val fact = spark.range(0, 200000).select(
        (col("id") % 1000).as("k"), col("id").as("v"))
      val dim = spark.range(0, 1000).select(col("id").as("k"),
        concat(lit("name_"), col("id")).as("name"))

      // healthy plan: broadcast join — the fact side never shuffles
      val healthy = bytesOf(fact.join(broadcast(dim), "k").agg(sum("v")).collect())

      // regressed plan: broadcasts disabled, same query shuffles both
      // sides for a sort-merge join
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val regressed =
        try bytesOf(fact.hint("merge").join(dim.hint("merge"), "k").agg(sum("v")).collect())
        finally {
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        }

      assert(regressed > healthy,
        s"SMJ must shuffle more than broadcast: $regressed vs $healthy")
      // gate with the healthy measurement as the committed baseline and
      // a test-scaled floor (the fixture is MBs, not the sf0.1 GBs):
      // the regressed run must trip, a healthy re-run must not
      val (tripped, _) = ShuffleMeter.check(
        Map("join_q" -> regressed), Map("join_q" -> healthy),
        ratio = 1.5, floorBytes = 64 * 1024)
      assert(tripped.map(_.name) == Seq("join_q"),
        s"regressed $regressed B vs baseline $healthy B must breach")
      val healthy2 = bytesOf(fact.join(broadcast(dim), "k").agg(sum("v")).collect())
      val (clean, _) = ShuffleMeter.check(
        Map("join_q" -> healthy2), Map("join_q" -> healthy),
        ratio = 1.5, floorBytes = 64 * 1024)
      assert(clean.isEmpty, s"healthy re-run $healthy2 B vs $healthy B must pass")
    }
  }

  test("webdataset pipeline: no image bytes in the shuffle, only url rows") {
    val server = new graft.util.HttpImageServer
    try Meter.using(spark) { meter =>
      val urls = (0 until 48).map(i => server.allowedUrls(i % server.allowedUrls.size) + s"?v=$i")
      val dir = java.nio.file.Files.createTempDirectory("graft_shuffle_pipe")
      val list = dir.resolve("urls.txt")
      java.nio.file.Files.write(list, urls.mkString("\n").getBytes("UTF-8"))
      val s0 = meter.totals()
      val res = graft.Pipeline.download(spark, list.toString, dir.resolve("out").toString,
        graft.config.DownloadConfig(outputFormat = "webdataset", samplesPerShard = 10,
          threadCount = 8, resizeMode = "border", imageSize = 256,
          computeHashCol = Some("sha256"), incrementalMode = "overwrite"))
      val perUrl = (meter.totals() - s0).shuffleBytes / urls.size
      assert(res.successes == urls.size)
      assert(perUrl < 1024, s"$perUrl shuffle bytes per url: image bytes are being shuffled")
    } finally server.stop()
  }

  test("baseline round-trip: write then load preserves the map") {
    val dir = java.nio.file.Files.createTempDirectory("shuffle-baseline")
    val p = dir.resolve("shuffle_baseline.json")
    val m = Map("a_q" -> 0L, "b_q" -> 123456789L, "c.q-x" -> 42L)
    ShuffleMeter.writeBaseline(p, m, Some(32))
    assert(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .contains(s""""${ShuffleMeter.PartitionsKey}": 32"""))
    assert(ShuffleMeter.loadBaseline(p).contains(m), "the partition count is not a query")
    assert(ShuffleMeter.loadBaseline(dir.resolve("missing.json")).isEmpty)
    // a run at the recorded count is gated; any other count is refused
    assert(ShuffleMeter.partitionsMismatch(p, 32).isEmpty)
    val refusal = ShuffleMeter.partitionsMismatch(p, 4)
    assert(refusal.exists(r => r.contains("32") && r.contains("4")), s"names both counts: $refusal")
    // so is a baseline that never recorded its count
    ShuffleMeter.writeBaseline(p, m)
    assert(ShuffleMeter.partitionsMismatch(p, 32).nonEmpty)
    assert(ShuffleMeter.partitionsMismatch(dir.resolve("missing.json"), 4).isEmpty)
  }
}
