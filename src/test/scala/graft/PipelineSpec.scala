package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.config.DownloadConfig

/** End-to-end pipeline runs against the embedded HTTP server —
  * mirrors the reference's `tests/test_main.py` invariants:
  * sidecar rows = input rows incl. failures; one sidecar parquet per
  * shard; `{shard:%05d}.tar` naming; 3 files per success in files
  * mode; robots-disallowed rows tagged not dropped; hash-verify NULLs.
  */
/** Local FS under a scheme that exists ONLY where the session Hadoop
  * conf registers it — the cheapest stand-in for an s3a/gcs store whose
  * credentials live in `spark.hadoop.*` session settings.
  */
class MarkerFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftmarker"
  override def getUri: java.net.URI = java.net.URI.create("graftmarker:///")
}

class PipelineSpec extends SparkSpec {

  private lazy val server = new graft.util.HttpImageServer
  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString

  private def writeUrlList(tag: String, urls: Seq[String]): String = {
    val f = Paths.get(tmpDir(tag), "urls.txt")
    Files.write(f, urls.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  private def baseCfg = DownloadConfig(
    samplesPerShard = 5, threadCount = 8, imageSize = 256,
    resizeMode = "border", computeHashCol = Some("md5"),
    incrementalMode = "overwrite")

  test("files sink: 3 files per success, sidecar rows = input rows") {
    val urls = server.allowedUrls ++ Seq(server.url("/missing/zz.jpg"))
    val out = tmpDir("files")
    val res = Pipeline.download(spark, writeUrlList("files", urls), out,
      baseCfg.copy(outputFormat = "files"))
    assert(res.count == urls.size)
    assert(res.successes == server.allowedUrls.size)
    assert(res.failedToDownload == 1)
    assert(res.observed.get("n_rows").contains(urls.size.toLong), s"observe(): ${res.observed}")
    assert(res.observed.get("n_success").contains(7L))
    // sidecar parquet per shard: ceil(8/5) = 2 shards
    val sidecars = new java.io.File(out).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(sidecars.map(_.getName).sorted.toSeq == Seq("00000.parquet", "00001.parquet"))
    val meta = spark.read.parquet(s"$out/*.parquet")
    assert(meta.count() == urls.size)
    assert(meta.filter(col("status") === "success").count() == 7)
    // files-mode: {shard}/{key}.jpg + .json per success (no caption col → no .txt)
    val shard0 = new java.io.File(out, "00000")
    assert(shard0.exists)
    val perSuccess = shard0.listFiles.map(_.getName)
    assert(perSuccess.count(_.endsWith(".jpg")) == meta
      .filter(col("status") === "success" && col("key").startsWith("00000")).count())
    // width/height contract: border mode → 256x256
    val succ = meta.filter(col("status") === "success").select("width", "height").distinct().collect()
    assert(succ.toSeq.map(r => (r.getInt(0), r.getInt(1))) == Seq((256, 256)))
  }

  test("metaFrame reads every shard's sidecar, and the read logs no FileStreamSink WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) warned.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.setLevel(Level.WARN)
    logger.addAppender(capture)
    val urls = server.allowedUrls
    val out = tmpDir("meta")
    val res =
      try Pipeline.download(spark, writeUrlList("meta", urls), out,
        baseCfg.copy(outputFormat = "webdataset"))
      finally { logger.removeAppender(capture); logger.setLevel(level); capture.stop() }
    assert(warned.isEmpty, s"FileStreamSink warned: $warned")
    val sidecars = new java.io.File(out).listFiles.filter(_.getName.endsWith(".parquet"))
      .map(_.getName).sorted.toSeq
    assert(sidecars == Seq("00000.parquet", "00001.parquet"))
    assert(res.metaFrame.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getName)
      .sorted.toSeq == sidecars)
    assert(res.metaFrame.count() == urls.size)
  }

  test("webdataset sink: {shard:05d}.tar with entries per success") {
    val urls = server.allowedUrls
    val out = tmpDir("wds")
    Pipeline.download(spark, writeUrlList("wds", urls), out,
      baseCfg.copy(outputFormat = "webdataset"))
    val tars = new java.io.File(out).listFiles.filter(_.getName.endsWith(".tar")).sortBy(_.getName)
    assert(tars.map(_.getName).toSeq == Seq("00000.tar", "00001.tar"))
    // read entries back
    val in = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
      new java.io.FileInputStream(tars(0)))
    val names = Iterator.continually(in.getNextEntry).takeWhile(_ != null).map(_.getName).toList
    in.close()
    assert(names.count(_.endsWith(".jpg")) == 5)
    assert(names.count(_.endsWith(".json")) == 5)
  }

  test("parquet sink: payload column named by encode format") {
    val urls = server.allowedUrls
    val out = tmpDir("pq")
    Pipeline.download(spark, writeUrlList("pq", urls), out,
      baseCfg.copy(outputFormat = "parquet"))
    val meta = spark.read.parquet(s"$out/*.parquet")
    assert(meta.columns.contains("jpg"))
    val payloads = meta.filter(col("status") === "success")
      .select("jpg").collect().map(_.getAs[Array[Byte]](0))
    assert(payloads.forall(p => p != null && p.length > 100))
  }

  test("tfrecord sink: records framed with valid masked crc32c") {
    val urls = server.allowedUrls.take(3)
    val out = tmpDir("tfr")
    Pipeline.download(spark, writeUrlList("tfr", urls), out,
      baseCfg.copy(outputFormat = "tfrecord"))
    val f = new java.io.File(out, "00000.tfrecord")
    assert(f.exists)
    val bytes = Files.readAllBytes(f.toPath)
    // parse framing: 3 records
    var off = 0; var n = 0
    while (off < bytes.length) {
      val len = java.nio.ByteBuffer.wrap(bytes, off, 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong.toInt
      off += 12 + len + 4; n += 1
    }
    assert(n == 3 && off == bytes.length)
    // reference feature layout (writer.py:186-198): every meta column
    // is its OWN typed feature — the per-column names appear as map
    // keys; the old single-JSON-blob "metadata" feature must be gone
    def containsAscii(s: String): Boolean = {
      val pat = s.getBytes("US-ASCII")
      bytes.indices.exists(i => i + pat.length <= bytes.length &&
        pat.indices.forall(j => bytes(i + j) == pat(j)))
    }
    for (name <- Seq("key", "url", "status", "width", "height",
                     "original_width", "original_height", "md5"))
      assert(containsAscii(name), s"feature key '$name' present")
    assert(!containsAscii("metadata"), "no JSON-blob metadata feature")
  }

  test("tfrecord sink with caption: txt feature written (reference writer.py:190-192)") {
    import spark.implicits._
    val dir = tmpDir("tfr_cap")
    val in = s"$dir/in.parquet"
    Seq((server.url("/allowed/123_456.jpg"), "a lovely caption"))
      .toDF("url", "mycap").write.parquet(in)
    val out = tmpDir("tfr_cap_out")
    Pipeline.download(spark, in, out,
      baseCfg.copy(outputFormat = "tfrecord", inputFormat = "parquet",
        captionCol = Some("mycap")))
    val bytes = Files.readAllBytes(new java.io.File(out, "00000.tfrecord").toPath)
    def containsAscii(s: String): Boolean = {
      val pat = s.getBytes("US-ASCII")
      bytes.indices.exists(i => i + pat.length <= bytes.length &&
        pat.indices.forall(j => bytes(i + j) == pat(j)))
    }
    assert(containsAscii("txt"), "caption feature under 'txt'")
    assert(containsAscii("caption"), "caption also kept as its own meta feature")
    assert(containsAscii("a lovely caption"), "caption value present")
  }

  test("robots directives: disallowed rows tagged, not dropped") {
    val urls = server.allowedUrls.take(3) ++ server.disallowedUrls.take(4)
    val out = tmpDir("robots")
    val res = Pipeline.download(spark, writeUrlList("robots", urls), out,
      baseCfg.copy(outputFormat = "dummy"))
    assert(res.count == 7 && res.successes == 3 && res.failedToDownload == 4)
    val meta = spark.read.parquet(s"$out/*.parquet")
    val errs = meta.filter(col("status") === "failed_to_download")
      .select("error_message").distinct().collect().map(_.getString(0))
    assert(errs.toSeq == Seq("Use of image disallowed by X-Robots-Tag directive"))
  }

  test("hash verify: mismatching row fails with NULL hash column") {
    import spark.implicits._
    val good = server.imageBytes(123, 456)
    val md5hex = java.security.MessageDigest.getInstance("MD5").digest(good)
      .map("%02x".format(_)).mkString
    val rows = Seq(
      (server.url("/allowed/123_456.jpg"), md5hex),            // correct
      (server.url("/allowed/208_495.jpg"), "0" * 32),          // wrong
      (server.url("/allowed/321_421.jpg"), null))              // MISSING hash
    val dir = tmpDir("verify")
    val in = s"$dir/in.parquet"
    rows.toDF("url", "myhash").write.parquet(in)
    val out = tmpDir("verify_out")
    val res = Pipeline.download(spark, in, out,
      baseCfg.copy(outputFormat = "dummy", inputFormat = "parquet",
        verifyHash = Some(("myhash", "md5")), computeHashCol = Some("md5")))
    // a NULL provided hash must FAIL verification (reference compares
    // the computed digest against None), not silently pass
    assert(res.successes == 1 && res.failedToDownload == 2)
    val meta = spark.read.parquet(s"$out/*.parquet")
    assert(meta.filter(col("md5").isNull).count() == 2)
    assert(meta.filter(col("error_message") === "hash mismatch").count() == 2)
  }

  test("webdataset with caption: NULL caption writes an EMPTY txt member, not a missing one") {
    import spark.implicits._
    val dir = tmpDir("wds_cap")
    val in = s"$dir/in.parquet"
    Seq((server.url("/allowed/123_456.jpg"), "hello"),
        (server.url("/allowed/208_495.jpg"), null))
      .toDF("url", "mycap").write.parquet(in)
    val out = tmpDir("wds_cap_out")
    Pipeline.download(spark, in, out,
      baseCfg.copy(outputFormat = "webdataset", inputFormat = "parquet",
        captionCol = Some("mycap")))
    val tar = new java.io.File(out).listFiles.filter(_.getName.endsWith(".tar")).head
    val tin = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
      new java.io.FileInputStream(tar))
    val entries = Iterator.continually(tin.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> e.getSize).toMap
    tin.close()
    val txts = entries.filter(_._1.endsWith(".txt"))
    assert(txts.size == 2, s"every sample has a txt member: $entries")
    assert(txts.values.toSeq.sorted == Seq(0L, 5L), "null caption -> empty txt, like the reference")
  }

  test("incremental mode: done shards skipped on re-run") {
    val urls = server.allowedUrls  // 7 urls, 2 shards at 5/shard
    val list = writeUrlList("incr", urls)
    val out = tmpDir("incr_out")
    val first = Pipeline.download(spark, list, out, baseCfg.copy(outputFormat = "dummy"))
    assert(first.count == 7)
    val second = Pipeline.download(spark, list, out,
      baseCfg.copy(outputFormat = "dummy", incrementalMode = "incremental"))
    assert(second.count == 0, "all shards already done → nothing re-processed")
  }

  test("doneShardIds: a stray *_stats.json name is not a shard marker") {
    val urls = server.allowedUrls  // 7 urls, 2 shards at 5/shard
    val list = writeUrlList("stray", urls)
    val out = tmpDir("stray_out")
    Pipeline.download(spark, list, out, baseCfg.copy(outputFormat = "files"))
    Files.write(Paths.get(out, "run_stats.json"), "{}".getBytes("UTF-8"))
    Files.write(Paths.get(out, "_stats.json"), "{}".getBytes("UTF-8"))
    // the files sink's `00000/` shard directories are not markers either
    assert(Pipeline.doneShardIds(spark, out).sorted == Seq(0L, 1L))
    val second = Pipeline.download(spark, list, out,
      baseCfg.copy(outputFormat = "files", incrementalMode = "incremental"))
    assert(second.count == 0)
    val extended = Pipeline.download(spark, writeUrlList("stray2", urls.take(2)), out,
      baseCfg.copy(outputFormat = "files", incrementalMode = "extend"))
    assert(extended.count == 2 && new java.io.File(out, "00002_stats.json").exists)
  }

  test("incremental mode: a shard without its _stats.json is downloaded again") {
    val urls = server.allowedUrls  // shard 0: 5 rows, shard 1: 2 rows
    val list = writeUrlList("half", urls)
    val out = tmpDir("half_out")
    Pipeline.download(spark, list, out, baseCfg.copy(outputFormat = "webdataset"))
    // a crash after shard 1's tar and sidecar were renamed but before
    // its stats file was: the marker is missing, the tar is garbage
    Files.delete(Paths.get(out, "00001_stats.json"))
    Files.write(Paths.get(out, "00001.tar"), "torn".getBytes("UTF-8"))
    val shard0 = Files.getLastModifiedTime(Paths.get(out, "00000.tar"))
    val res = Pipeline.download(spark, list, out,
      baseCfg.copy(outputFormat = "webdataset", incrementalMode = "incremental"))
    assert(res.count == 2 && res.successes == 2, "only the half-committed shard re-ran")
    assert(Files.getLastModifiedTime(Paths.get(out, "00000.tar")) == shard0,
      "the committed shard was skipped")
    val tin = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
      new java.io.FileInputStream(new java.io.File(out, "00001.tar")))
    val entries = Iterator.continually(tin.getNextEntry).takeWhile(_ != null).map(_.getName).toList
    tin.close()
    assert(entries.count(_.endsWith(".jpg")) == 2, s"shard 1 rewritten: $entries")
    assert(new java.io.File(out, "00001_stats.json").exists)
    assert(spark.read.parquet(s"$out/*.parquet").count() == urls.size)
  }

  test("stats sidecars: per-shard counts and status_dict") {
    val urls = server.allowedUrls.take(4) ++ Seq(server.url("/missing/a.jpg"))
    val out = tmpDir("stats")
    Pipeline.download(spark, writeUrlList("stats", urls), out,
      baseCfg.copy(outputFormat = "dummy"))
    val statsFiles = new java.io.File(out).listFiles
      .filter(_.getName.endsWith("_stats.json")).sortBy(_.getName)
    assert(statsFiles.map(_.getName).toSeq == Seq("00000_stats.json"))
    val json = new String(Files.readAllBytes(statsFiles(0).toPath), "UTF-8")
    assert(json.contains("\"count\": 5") && json.contains("\"successes\": 4"))
    assert(json.contains("HTTP 404"))
  }

  test("caption round-trip: csv input -> .txt entries + caption column in sidecar") {
    val rows = server.allowedUrls.zipWithIndex.map { case (u, i) =>
      val cap = if (i == 0) "" else s"caption $i"   // row 0 empty like the reference fixture
      s"$cap,$u"
    }
    val d = tmpDir("cap")
    Files.write(Paths.get(d, "in.csv"), ("caption,url\n" + rows.mkString("\n")).getBytes)
    val out = tmpDir("cap_out")
    Pipeline.download(spark, s"$d/in.csv", out,
      baseCfg.copy(outputFormat = "files", captionCol = Some("caption")))
    val meta = spark.read.parquet(s"$out/*.parquet")
    assert(meta.columns.contains("caption"))
    val caps = meta.orderBy("key").select("caption").collect().map(_.getString(0))
    assert(caps.count(c => c != null && c.startsWith("caption")) == 6)
    val txts = new java.io.File(out, "00000").listFiles.filter(_.getName.endsWith(".txt"))
    assert(txts.nonEmpty, ".txt caption files written for captioned successes")
    val body = new String(Files.readAllBytes(txts.minBy(_.getName).toPath), "UTF-8")
    assert(body.startsWith("caption") || body.isEmpty)
  }

  test("multi-file directory input: shard ids continuous across files") {
    val d = tmpDir("multi")
    val half = server.allowedUrls.length / 2
    Files.write(Paths.get(d, "a.txt"), server.allowedUrls.take(half).mkString("\n").getBytes)
    Files.write(Paths.get(d, "b.txt"), server.allowedUrls.drop(half).mkString("\n").getBytes)
    val out = tmpDir("multi_out")
    val res = Pipeline.download(spark, s"$d/*.txt", out,
      baseCfg.copy(outputFormat = "dummy", samplesPerShard = 3))
    assert(res.count == server.allowedUrls.length)
    val stats = new java.io.File(out).listFiles.filter(_.getName.endsWith("_stats.json"))
    assert(stats.map(_.getName).sorted.toSeq ==
      Seq("00000_stats.json", "00001_stats.json", "00002_stats.json"),
      "7 rows at 3/shard over 2 files -> shards 0,1,2 with no gaps")
  }

  test("extend mode: new run continues shard numbering after existing output") {
    val list1 = writeUrlList("ext1", server.allowedUrls.take(5))   // 1 shard: 00000
    val list2 = writeUrlList("ext2", server.allowedUrls.drop(5))   // should become 00001
    val out = tmpDir("ext_out")
    Pipeline.download(spark, list1, out, baseCfg.copy(outputFormat = "dummy"))
    Pipeline.download(spark, list2, out,
      baseCfg.copy(outputFormat = "dummy", incrementalMode = "extend"))
    val stats = new java.io.File(out).listFiles.filter(_.getName.endsWith("_stats.json"))
    assert(stats.map(_.getName).sorted.toSeq == Seq("00000_stats.json", "00001_stats.json"))
    // run 2's global counters must cover ONLY its own shard
    val second = Pipeline.download(spark, writeUrlList("ext3", server.allowedUrls.take(3)),
      out, baseCfg.copy(outputFormat = "dummy", incrementalMode = "extend"))
    assert(second.count == 3, s"extend-run stats isolated to new shards, got ${second.count}")
  }

  test("bbox blur + exif through the pipeline") {
    import spark.implicits._
    val d = tmpDir("blur")
    Seq((server.url("/allowed/321_421.jpg"), Seq(Seq(0.2, 0.2, 0.6, 0.6))))
      .toDF("url", "bboxes").write.parquet(s"$d/in.parquet")
    val out = tmpDir("blur_out")
    val res = Pipeline.download(spark, s"$d/in.parquet", out,
      baseCfg.copy(outputFormat = "parquet", inputFormat = "parquet",
        saveAdditionalColumns = Seq("bboxes"), bboxCol = Some("bboxes"),
        extractExif = true, resizeMode = "no"))
    assert(res.successes == 1)
    val meta = spark.read.parquet(s"$out/*.parquet")
    val row = meta.collect()(0)
    assert(row.getAs[String]("exif") == "{}", "no EXIF in generated jpg -> {}")
    val blurred = row.getAs[Array[Byte]]("jpg")
    val original = server.imageBytes(321, 421)
    assert(blurred != null && !java.util.Arrays.equals(blurred, original),
      "blur + re-encode changed the payload")
    // outside-region pixels survive (compare corners decoded)
    val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blurred))
    assert(bi.getWidth == 321 && bi.getHeight == 421)
  }

  test("webp encode end-to-end: files sink writes decodable lossy VP8 .webp") {
    val urls = server.allowedUrls
    val out = tmpDir("webp")
    val res = Pipeline.download(spark, writeUrlList("webp", urls), out,
      baseCfg.copy(outputFormat = "files", encodeFormat = "webp"))
    assert(res.successes == urls.size)
    val shard0 = new java.io.File(out, "00000")
    val webps = shard0.listFiles.filter(_.getName.endsWith(".webp"))
    assert(webps.nonEmpty, "per-sample .webp files written")
    webps.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      assert(graft.operators.Vp8Codec.isLossyWebp(bytes), s"${f.getName} container")
      val img = graft.operators.Vp8Codec.decodeLossy(bytes)
      assert(img.getWidth == 256 && img.getHeight == 256, s"${f.getName} dims")
    }
    val meta = spark.read.parquet(s"$out/*.parquet")
    assert(meta.filter(col("status") === "success").count() == urls.size)
  }

  test("live progress: throttled emissions during a multi-shard run") {
    import graft.operators.DownloadProgress
    val captured = new scala.collection.mutable.ArrayBuffer[String]()
    val prior = DownloadProgress.sink
    DownloadProgress.sink = s => captured.synchronized { captured += s }
    try {
      val urls = server.allowedUrls ++ server.allowedUrls.map(u => u + "?v=2")
      val res = Pipeline.download(spark, writeUrlList("progress", urls), tmpDir("progress"),
        baseCfg.copy(outputFormat = "parquet", progressIntervalMs = 25))
      assert(res.count == urls.size)
      val lines = captured.synchronized(captured.toSeq)
      assert(lines.nonEmpty, "at least one progress emission")
      assert(lines.last.contains("total"), s"final summary line: $lines")
      assert(lines.last.contains(s"count: ${urls.size}"), s"final count reflects all rows: $lines")
      assert(lines.forall(_.contains("images per sec")), s"reference line shape: $lines")
    } finally DownloadProgress.sink = prior
  }

  test("metrics sink: hook + jsonl receive the final counters (K8 wandb parity)") {
    import graft.operators.{MetricsEvent, MetricsSink}
    val events = new scala.collection.mutable.ArrayBuffer[MetricsEvent]()
    val prior = MetricsSink.hook
    MetricsSink.hook = e => events.synchronized { events += e }
    val jsonl = Paths.get(tmpDir("metrics"), "metrics.jsonl").toString
    try {
      val urls = server.allowedUrls ++ Seq(server.url("/missing/zz.jpg"))
      val res = Pipeline.download(spark, writeUrlList("metrics", urls), tmpDir("metrics_out"),
        baseCfg.copy(outputFormat = "dummy", progressIntervalMs = 25,
          metricsJsonlPath = Some(jsonl)))
      val evs = events.synchronized(events.toSeq)
      // the authoritative final event carries EXACTLY the Result
      // counters the reference would ship to wandb
      val fin = evs.filter(_.phase == "final")
      assert(fin.size == 1, s"exactly one final event: $evs")
      assert(fin.head.count == res.count && fin.head.successes == res.successes)
      assert(fin.head.failedToDownload.contains(res.failedToDownload))
      assert(fin.head.failedToResize.contains(res.failedToResize))
      assert(fin.head.successRate == res.successes.toDouble / res.count)
      // progress events carry running counts, unknown failure splits
      assert(evs.exists(e => e.phase == "progress" && e.failedToDownload.isEmpty))
      // the jsonl file ends with the same final event, machine-readable
      val lines = new String(Files.readAllBytes(Paths.get(jsonl)), "UTF-8").trim.split("\n")
      assert(lines.last.contains("\"phase\":\"final\""))
      assert(lines.last.contains(s""""count":${res.count}"""))
      assert(lines.last.contains(s""""failed_to_download":${res.failedToDownload}"""))
    } finally MetricsSink.hook = prior
  }

  test("empty input: empty result, no crash") {
    val list = writeUrlList("empty", Seq.empty)
    val out = tmpDir("empty_out")
    val res = Pipeline.download(spark, list, out, baseCfg.copy(outputFormat = "dummy"))
    assert(res.count == 0 && res.successes == 0)
  }

  test("stats sidecar status_dict includes success counts (reference parity)") {
    val urls = server.allowedUrls.take(3) ++ Seq(server.url("/missing/x.jpg"))
    val out = tmpDir("sdict")
    Pipeline.download(spark, writeUrlList("sdict", urls), out,
      baseCfg.copy(outputFormat = "dummy"))
    val f = new java.io.File(out).listFiles.find(_.getName.endsWith("_stats.json")).get
    val json = new String(Files.readAllBytes(f.toPath), "UTF-8")
    assert(json.contains("\"success\": 3"), json)
    assert(json.contains("HTTP 404"), json)
  }

  test("L1 FS lookups resolve through the SESSION Hadoop conf (s3a/gcs credential hazard)") {
    // Register a filesystem scheme ONLY in the session conf (runtime
    // SQL-conf keys are copied VERBATIM into
    // sessionState.newHadoopConf(); the spark.hadoop. prefix-stripping
    // is a SparkContext-construction-time mechanism). A bare
    // `new Configuration()` (the round-4 bug at Pipeline.scala:41,55)
    // has no fs.graftmarker.impl and throws "No FileSystem for scheme";
    // resolution can only succeed via sessionState.newHadoopConf().
    // disable.cache forces EVERY lookup to re-resolve, so a regression
    // in any one call site can't hide behind a cached instance.
    spark.conf.set("fs.graftmarker.impl", classOf[MarkerFileSystem].getName)
    spark.conf.set("fs.graftmarker.impl.disable.cache", "true")
    try {
      val dir = tmpDir("marker")
      Files.write(Paths.get(dir, "00003_stats.json"), "{}".getBytes("UTF-8"))
      // doneShardIds (incremental/extend source of truth)
      assert(Pipeline.doneShardIds(spark, s"graftmarker://$dir") == Seq(3L))
      // overwrite-mode delete + the full sink path through the scheme:
      // the preexisting shard-3 stats file must be deleted via the
      // session-resolved FS, then shard 0 written fresh
      val res = Pipeline.download(spark,
        writeUrlList("marker", server.allowedUrls.take(2)),
        s"graftmarker://$dir", baseCfg.copy(outputFormat = "dummy"))
      assert(res.count == 2 && res.successes == 2)
      val stats = new java.io.File(dir).listFiles
        .filter(_.getName.endsWith("_stats.json")).map(_.getName).sorted.toSeq
      assert(stats == Seq("00000_stats.json"),
        s"overwrite deleted old shards + wrote new via session FS: $stats")
    } finally {
      spark.conf.unset("fs.graftmarker.impl")
      spark.conf.unset("fs.graftmarker.impl.disable.cache")
    }
  }

  test("streaming stats: running totals over stats sidecars") {
    val urls = server.allowedUrls
    val out = tmpDir("stream")
    Pipeline.download(spark, writeUrlList("stream", urls), out,
      baseCfg.copy(outputFormat = "dummy"))
    val q = graft.streaming.StatsStream.start(spark, out, "stats_test", triggerMillis = 100)
    q.processAllAvailable()
    val totals = spark.sql("SELECT * FROM stats_test").collect()(0)
    q.stop()
    assert(totals.getAs[Long]("count") == 7)
    assert(totals.getAs[Long]("successes") == 7)
  }
}
