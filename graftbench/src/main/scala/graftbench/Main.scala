package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkEntry}
import graft.config.DownloadConfig
import graft.operators.{Downloader, Resizer}
import graft.sources.UrlReader

/** The JVM half of the benchmark: builds the session, runs one
  * workload in a closed loop for `--seconds`, and writes a raw run
  * record (calls, passes, set-up times, heap, and in traced runs the
  * job/stage records, spans and layer probes) as JSON to `--out`.
  * `graftbench/run.py` turns the record into metrics and checks the
  * outputs.
  *
  * Only calls into graft are timed: `Pipeline.download`, and
  * `SparkEntry.queries(name)` plus `collect()` of its result. The
  * traced run adds direct calls into `UrlReader`, `Downloader` and
  * `Resizer`; `Sinks` and `Stats` are measured through the jobs they
  * run inside `Pipeline.download`.
  */
object Main {
  val OwnFiles: Set[String] =
    Set("Main.scala", "Trace.scala", "ImageCorpus.scala", "Digest.scala", "Json.scala")

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock Spark's listener events use. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuMs(): Double = osBean.getProcessCpuTime / 1e6
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  val FloorQueries: Seq[String] =
    (1 to 40).map(i => s"q$i") ++ Seq("i_t2_key_synthesis", "i_t12_hash", "i_f2_hash_verify",
      "i_f6_done_anti", "i_a1_shard_stats", "i_a2_capped_counter", "i_a3_topk",
      "i_a6_global_stats", "i_p1_projection", "i_f3_size_filters")
  /** The kNN build, PageRank over it, and the incremental MinHash
    * index: one query per module of the graph chain (`Similarity`,
    * `Graphs`, `Dedup`). The other graph queries repeat these steps and
    * are left out so a cold pass fits the run. */
  val GraphQueries: Seq[String] = Seq("emb_knn_graph", "emb_pagerank", "dedup_incremental")

  /** Full query names: the `q<N>` entries carry a suffix in SparkEntry. */
  def queryNames(workload: String): Seq[String] = workload match {
    case "queries_floor" =>
      val all = SparkEntry.queries.keySet
      FloorQueries.map(p => if (all(p)) p else all.find(_.startsWith(p + "_")).getOrElse(
        sys.error(s"no query for $p")))
    case "queries_graph" => GraphQueries
  }

  /** Pipeline workload shapes. */
  final case class PipeShape(nUrls: Int, nImages: Int, minSide: Int, maxSide: Int, noise: Int,
                             quality: Float, shares: (Double, Double, Double), format: String,
                             shardsPerCore: Int, warmUrls: Int)
  val PipeShapes: Map[String, PipeShape] = Map(
    "pipeline_wds" -> PipeShape(nUrls = 2400, nImages = 64, minSide = 120, maxSide = 540,
      noise = 6, quality = 0.9f, shares = (0.06, 0.03, 0.01), format = "webdataset",
      shardsPerCore = 2, warmUrls = 200),
    "pipeline_parquet_large" -> PipeShape(nUrls = 480, nImages = 16, minSide = 1000,
      maxSide = 1732, noise = 10, quality = 0.9f, shares = (0.0, 0.0, 0.0), format = "parquet",
      shardsPerCore = 1, warmUrls = 40))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opt.getOrElse("mode", "run") match {
      case "run" => run(opt)
      case "oracle-sql" =>
        val names = queryNames("queries_floor") ++ queryNames("queries_graph")
        Files.writeString(Paths.get(opt("out")),
          Json.write(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
      case "digest-selftest" =>
        val (schema, rows) = SelfTest.table
        println(Digest.of(schema, rows)._1)
    }
  }

  def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Heap in use after full collections: the data the program retains,
    * independent of when the collector happened to run. Collections
    * repeat until one frees less than 1 MiB, because Spark's
    * ContextCleaner drops the blocks of RDDs a collection found
    * unreachable only afterwards, on its own thread. */
  def retainedHeap(): Long = {
    def afterGc(): Long = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var used = afterGc()
    var rounds = 0
    while (rounds < 8 && used < prev - (1L << 20)) {
      Thread.sleep(250)
      prev = used
      used = afterGc()
      rounds += 1
    }
    used
  }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def run(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val setups = opt.getOrElse("setups", "3").toInt
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    val w: Workload =
      if (PipeShapes.contains(workload)) new PipelineWorkload(PipeShapes(workload), seed, work)
      else new QueryWorkload(workload, seed, opt("data"))
    try {
      record ++= w.prepare()
      // Set-up: session build plus the untimed warm-up call, repeated;
      // the run reports their median.
      val setupS = (1 to setups).map { i =>
        val t0 = nowMs()
        val s = session(work)
        val t1 = nowMs()
        w.warmUp(s)
        val t2 = nowMs()
        if (i < setups) stopSession(s)
        ((t2 - t0) / 1000, (t1 - t0) / 1000)
      }
      record("setup_s") = setupS.map(_._1)
      record("setup_session_s") = setupS.map(_._2)
      val spark = SparkSession.active
      val listener = if (traced) Some(new JobListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val spans = new Spans
      var peakHeap = 0L
      var loopGcMs = 0L
      val loopStart = nowMs()
      // Traced runs keep a share of the run for the layer probes.
      val loopBudgetMs = seconds * 1000 * (if (traced) w.tracedLoopShare else 1.0)
      val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      val calls = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      var pass = 0
      while (pass == 0 || nowMs() - loopStart < loopBudgetMs) {
        val g0 = gcMs(); val c0 = cpuMs(); val t0 = nowMs()
        val cs = w.runPass(spark, pass, spans)
        val t1 = nowMs(); val c1 = cpuMs()
        loopGcMs += gcMs() - g0
        peakHeap = math.max(peakHeap, retainedHeap())
        calls ++= cs
        passes += Map("pass" -> pass, "start" -> t0, "end" -> t1, "wall_s" -> (t1 - t0) / 1000,
          "cpu_s" -> (c1 - c0) / 1000, "calls" -> cs.size)
        pass += 1
      }
      val loopEnd = nowMs()
      record("gc_ms_loop") = loopGcMs
      record("passes") = passes.toSeq
      record("calls") = calls.toSeq
      if (traced) record("probes") = w.probes(spark, spans, seconds * 1000 - (loopEnd - loopStart))
      record("peak_heap_mb") = peakHeap / 1048576.0
      listener.foreach { l =>
        org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
        record ++= l.snapshot()
        record("spans") = spans.all
      }
      stopSession(spark)
    } finally w.close()
    Files.writeString(Paths.get(opt("out")), Json.write(record.toMap))
  }
}

/** One workload: inputs, warm-up call, one timed pass, traced probes.
  * A pass returns one record per timed call. */
trait Workload {
  def prepare(): Map[String, Any] = Map.empty
  def warmUp(spark: SparkSession): Unit
  def runPass(spark: SparkSession, pass: Int, spans: Spans): Seq[Map[String, Any]]
  def tracedLoopShare: Double = 1.0
  def probes(spark: SparkSession, spans: Spans, budgetMs: Double): Map[String, Any] = Map.empty
  def close(): Unit = ()
}

final class QueryWorkload(name: String, seed: Long, dataDir: String) extends Workload {
  private val names = Main.queryNames(name)
  private val fns = names.map(n => n -> SparkEntry.queries(n)).toMap

  def warmUp(spark: SparkSession): Unit = {
    fns(names.head)(spark, dataDir).collect()
  }

  def runPass(spark: SparkSession, pass: Int, spans: Spans): Seq[Map[String, Any]] = {
    val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
    order.map { q =>
      val c0 = Main.cpuMs()
      var t1 = Double.NaN
      spans("query", attrs = Map("query" -> q)) { id =>
        val t0 = Main.nowMs()
        val out = try {
          val df = spans("SparkEntry.construct", id)(_ => fns(q)(spark, dataDir))
          t1 = Main.nowMs()
          val rows = spans("SparkEntry.action", id)(_ => df.collect())
          Right((df.schema, rows))
        } catch { case scala.util.control.NonFatal(e) => Left(e) }
        val t2 = Main.nowMs()
        val c1 = Main.cpuMs()
        val base = Map[String, Any]("name" -> q, "pass" -> pass, "start" -> t0,
          "action_start" -> t1, "end" -> t2, "wall_s" -> (t2 - t0) / 1000,
          "construct_s" -> (t1 - t0) / 1000, "action_s" -> (t2 - t1) / 1000,
          "cpu_s" -> (c1 - c0) / 1000)
        out match {
          case Right((schema, rows)) =>
            val (digest, n, bytes) = Digest.of(schema, rows)
            base ++ Map("ok" -> true, "digest" -> digest, "rows" -> n, "out_bytes" -> bytes)
          case Left(e) =>
            base ++ Map("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
        }
      }
    }
  }
}

final class PipelineWorkload(shape: Main.PipeShape, seed: Long, work: Path) extends Workload {
  private val nproc = Runtime.getRuntime.availableProcessors()
  private val corpus = ImageCorpus.generate(seed, shape.nImages, shape.nUrls, shape.minSide,
    shape.maxSide, shape.noise, shape.quality, shape.shares)
  private val server = new CorpusServer(corpus, nproc)
  private val shards = nproc * shape.shardsPerCore
  val cfg: DownloadConfig = DownloadConfig(
    captionCol = Some("caption"), inputFormat = "jsonl", outputFormat = shape.format,
    encodeFormat = "jpg", encodeQuality = 95,
    samplesPerShard = math.ceil(shape.nUrls.toDouble / shards).toInt,
    imageSize = 256, resizeMode = "border", computeHashCol = Some("sha256"),
    threadCount = 1, timeoutSeconds = 30, retries = 0, progressIntervalMs = 0,
    incrementalMode = "overwrite")
  private val urlFile = work.resolve("input/urls.jsonl")
  private val warmFile = work.resolve("input/warm.jsonl")
  private val outDir = work.resolve("out")
  override def tracedLoopShare: Double = 0.6

  private def writeUrls(p: Path, us: Seq[UrlSpec]): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, us.map { u =>
      Json.write(Map("caption" -> u.caption, "url" -> server.url(u))) }.mkString("", "\n", "\n"))
  }

  override def prepare(): Map[String, Any] = {
    writeUrls(urlFile, corpus.urls.toSeq)
    writeUrls(warmFile, corpus.urls.take(shape.warmUrls).toSeq)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expected = work.resolve("input/expected.tsv")
    Files.writeString(expected, corpus.urls.map { u =>
      val sha = md.digest(corpus.body(u)).map(b => f"${b & 0xff}%02x").mkString
      Seq(server.url(u), corpus.expectedStatus(u), sha).mkString("\t")
    }.mkString("", "\n", "\n"))
    Map("format" -> shape.format, "urls" -> shape.nUrls, "shards" -> shards,
      "corpus_images" -> shape.nImages,
      "corpus_bytes" -> corpus.images.map(_.length.toLong).sum,
      "expected" -> expected.toString, "out_dir" -> outDir.toString)
  }

  def warmUp(spark: SparkSession): Unit =
    Pipeline.download(spark, warmFile.toString, work.resolve("warm_out").toString, cfg)

  def runPass(spark: SparkSession, pass: Int, spans: Spans): Seq[Map[String, Any]] = {
    val r0 = server.requests.get
    val c0 = Main.cpuMs(); val t0 = Main.nowMs()
    val res = spans("Pipeline.download")(_ => Pipeline.download(spark, urlFile.toString, outDir.toString, cfg))
    val t1 = Main.nowMs(); val c1 = Main.cpuMs()
    Seq(Map("name" -> "Pipeline.download", "pass" -> pass, "start" -> t0, "end" -> t1,
      "action_start" -> t0, "wall_s" -> (t1 - t0) / 1000, "cpu_s" -> (c1 - c0) / 1000,
      "ok" -> true, "count" -> res.count, "successes" -> res.successes,
      "failed_to_download" -> res.failedToDownload, "failed_to_resize" -> res.failedToResize,
      "requests" -> (server.requests.get - r0), "out_bytes" -> Main.du(outDir)))
  }

  override def probes(spark: SparkSession, spans: Spans, budgetMs: Double): Map[String, Any] = {
    // UrlReader alone, then Downloader over UrlReader output, both to a
    // noop sink; Downloader's own cost is the difference.
    val (readMs, _) = timed(spans, "UrlReader.readWithCache") {
      val (sharded, cache) = UrlReader.readWithCache(spark, urlFile.toString, cfg)
      sharded.write.format("noop").mode("overwrite").save()
      cache.unpersist()
    }
    val r0 = server.requests.get; val b0 = server.bytesSent.get
    val obs = new org.apache.spark.sql.Observation("graftbench_download")
    val (dlMs, _) = timed(spans, "Downloader.download") {
      val (sharded, cache) = UrlReader.readWithCache(spark, urlFile.toString, cfg)
      Downloader.download(sharded, cfg)
        .observe(obs, count(lit(1)).as("rows"),
          sum(when(col(Downloader.FetchErrorCol).isNull, 1L).otherwise(0L)).as("ok"))
        .write.format("noop").mode("overwrite").save()
      cache.unpersist()
    }
    val m = obs.get
    val dlRows = m("rows").asInstanceOf[Long]
    val dlOk = m("ok").asInstanceOf[Long]
    // Resizer: direct calls over the corpus's own bytes, one thread.
    val bodies = corpus.images.toSeq :+ corpus.corrupt
    var resizeUs = 0.0; var encodeUs = 0.0; var n = 0; var ok = 0; var encN = 0
    val deadline = Main.nowMs() + math.max(budgetMs * 0.5, 1000)
    spans("Resizer.resizeBytes") { _ =>
      var i = 0
      while (i < bodies.size || (Main.nowMs() < deadline && n < 4 * bodies.size)) {
        val bytes = bodies(i % bodies.size)
        val t0 = System.nanoTime()
        val r = Resizer.resizeBytes(bytes, cfg)
        resizeUs += (System.nanoTime() - t0) / 1e3
        n += 1
        if (r.error.isEmpty && r.payload != null) {
          ok += 1
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
          val t1 = System.nanoTime()
          Resizer.encode(img, "jpg", 95)
          encodeUs += (System.nanoTime() - t1) / 1e3
          encN += 1
        }
        i += 1
      }
    }
    Map("urlreader_ms" -> readMs, "downloader_total_ms" -> dlMs,
      "downloader_requests" -> (server.requests.get - r0),
      "downloader_bytes" -> (server.bytesSent.get - b0),
      "downloader_rows" -> dlRows, "downloader_ok" -> dlOk,
      "resizer_calls" -> n, "resizer_ok" -> ok, "resizer_us" -> resizeUs,
      "encode_calls" -> encN, "encode_us" -> encodeUs)
  }

  private def timed[T](spans: Spans, name: String)(body: => T): (Double, T) = {
    val t0 = Main.nowMs()
    val r = spans(name)(_ => body)
    (Main.nowMs() - t0, r)
  }

  override def close(): Unit = server.stop()
}

/** Fixed table for the cross-language digest test (`tests/`). */
object SelfTest {
  import org.apache.spark.sql.types._
  val table: (StructType, Array[Row]) = {
    val schema = StructType(Seq(
      StructField("b_name", StringType), StructField("a_int", LongType),
      StructField("c_dbl", DoubleType), StructField("d_arr", ArrayType(DoubleType)),
      StructField("e_ts", TimestampType), StructField("f_flag", BooleanType),
      StructField("g_date", DateType)))
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05.123456Z"))
    val rows = Array(
      Row("zeta", 3L, 0.1, Seq(1.0, 2.5), ts, true, java.sql.Date.valueOf("1995-01-01")),
      Row("alpha", -7L, 2.0, Seq(), null, false, null),
      Row(null, 0L, -0.0, null, null, null, java.sql.Date.valueOf("1970-01-02")))
    (schema, rows)
  }
}
