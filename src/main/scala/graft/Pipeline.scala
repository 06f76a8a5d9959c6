package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.DownloadConfig
import graft.operators.{Blurrer, DownloadProgress, Downloader, ExifExtractor, Resizer, Stats}
import graft.sinks.Sinks
import graft.sources.UrlReader

/** The `download()`-equivalent end-to-end pipeline — the reference's
  * fixed logical plan (SURVEY overview) as one declarative DataFrame
  * chain:
  *
  * SCAN → PROJECT/RENAME → SHARD(key) → [anti-join done shards] →
  * MAP(download, thread-pooled) → FILTER/tag (robots, hash-verify) →
  * MAP(blur?, resize) → EXTEND(status, dims, hash, exif) →
  * SINK(files|tar|parquet|tfrecord|dummy) + AGG(stats), one
  * shard-local writer pass.
  *
  * Spark plans and schedules the whole thing; there are no input
  * shard files, no subjob batching, no custom distributor (R3–R7 are
  * subsumed by the scheduler — SURVEY §3.3 inversion note).
  */
object Pipeline {

  case class Result(
      metaFrame: DataFrame,
      count: Long, successes: Long,
      failedToDownload: Long, failedToResize: Long,
      /** The writer's counters: n_rows, n_success, payload_bytes. */
      observed: Map[String, Any] = Map.empty)

  /** Existing-output shard ids (L1 incremental / F6 anti-join input):
    * parse `{shard}_stats.json` names like `main.py:157-158`.
    */
  def doneShardIds(spark: SparkSession, outDir: String): Seq[Long] = {
    val p = new Path(outDir)
    // Session conf, not a bare new Configuration(): with s3a/gcs
    // credentials set via spark.hadoop.*, a bare conf resolves the
    // WRONG store and incremental mode silently re-downloads all.
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath.getName).toSeq
      .filter(_.endsWith("_stats.json")).map(_.stripSuffix("_stats.json"))
      // a stray `run_stats.json` is not a shard marker
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
  }

  /** Full pipeline run. Returns the metadata frame (already written
    * through the configured sink) plus global counters.
    */
  def download(spark: SparkSession, inputPath: String, outDir: String,
               cfg0: DownloadConfig): Result = {
    val cfg = cfg0.validate()
    val startTime = System.currentTimeMillis() / 1000.0
    val fs = new Path(outDir).getFileSystem(spark.sessionState.newHadoopConf())

    // L1 lifecycle (main.py:151-168)
    if (cfg.incrementalMode == "overwrite") fs.delete(new Path(outDir), true)
    // Shards committed BEFORE this run: skipped in incremental mode,
    // numbered after in extend mode.
    val preexisting = doneShardIds(spark, outDir)
    val done = cfg.incrementalMode match {
      case "incremental" => preexisting
      case _ => Nil
    }
    val startShardId = cfg.incrementalMode match {
      case "extend" => if (preexisting.isEmpty) 0L else preexisting.max + 1
      case _ => 0L
    }
    fs.mkdirs(new Path(outDir))

    // SCAN → canonicalize → shard (S1-S9, P1/P2, R1/R2, T2). The url
    // frame is cached inside the reader; release it after the
    // materializing write (long-lived sessions would otherwise
    // accumulate one pinned url cache per pipeline run).
    val (sharded, urlCache) = UrlReader.readWithCache(spark, inputPath, cfg, startShardId)

    // F6: skip already-done shards (broadcast anti-join; `done` is a
    // driver-known, small list — one stats file per finished shard).
    val pending =
      if (done.isEmpty) sharded
      else {
        import spark.implicits._
        sharded.join(broadcast(done.toDF("shard_id")), Seq("shard_id"), "left_anti")
      }

    // MAP: thread-pooled download (S11/T1/F1), with live progress (K8):
    // tasks bump accumulators; a driver daemon prints a throttled
    // count/%success/img-per-sec line while the sink job runs.
    val progress =
      if (cfg.progressIntervalMs > 0)
        Some(new DownloadProgress(spark.sparkContext, cfg.progressIntervalMs,
          cfg.metricsJsonlPath))
      else None
    val fetched = Downloader.download(pending, cfg,
      progress.map(p => (p.attempted, p.succeeded)))

    // F2: hash verify over RAW bytes (downloader.py:274-292). A NULL
    // provided hash is a MISMATCH (the reference compares the computed
    // digest against None and fails the row) — `computed =!= NULL`
    // alone would be NULL, which when() treats as false, silently
    // admitting unverified bytes.
    val verified = cfg.verifyHash match {
      case Some((_, tpe)) =>
        val computed = hashCol(col(Downloader.PayloadCol), tpe)
        fetched.withColumn("_hash_mismatch",
          col(Downloader.FetchErrorCol).isNull &&
            (col(tpe).isNull || computed =!= col(tpe)))
      case None => fetched.withColumn("_hash_mismatch", lit(false))
    }

    // T10 (optional, inside the resize decode) + T3-T9/F3-F5.
    // Raw downloaded bytes stay untouched in _payload: hash (T12) and
    // exif (T11) are computed over them, as in downloader.py:324-340.
    val resized = Resizer.resize(verified, cfg)

    // EXTEND: status, error_message, hash, exif (T11/T12)
    var meta = resized
      .withColumn("status",
        when(col(Downloader.FetchErrorCol).isNotNull, "failed_to_download")
          .when(col("_hash_mismatch"), "failed_to_download")
          .when(col("_resize_error").isNotNull, "failed_to_resize")
          .otherwise("success"))
      .withColumn("error_message",
        when(col(Downloader.FetchErrorCol).isNotNull, col(Downloader.FetchErrorCol))
          .when(col("_hash_mismatch"), "hash mismatch")
          .otherwise(col("_resize_error")))
    cfg.computeHashCol.foreach { tpe =>
      meta = meta.withColumn(tpe,
        when(col("status") === "success", hashCol(col(Downloader.PayloadCol), tpe)))
    }
    if (cfg.extractExif)
      meta = meta.withColumn("exif",
        when(col("status") === "success", ExifExtractor.exifJsonUdf(col(Downloader.PayloadCol))))

    // Sidecar / per-sample metadata columns.
    val metaCols: Seq[String] =
      // P3: drop the verify-hash input column by its CANONICAL
      // (post-rename) name — i.e. the hash type; computeHashCol
      // re-adds it below with recomputed values when configured.
      (pending.columns.filterNot(c => c == "shard_id" || cfg.verifyHash.exists(_._2 == c)) ++
        Seq("key", "status", "error_message", "width", "height",
            "original_width", "original_height") ++
        (if (cfg.extractExif) Seq("exif") else Nil) ++
        cfg.computeHashCol.toSeq).distinct.filterNot(_ == "key").prepended("key")
    val prepared = meta.withColumn("_final_payload",
      when(col("status") === "success", col("_resized_payload")))

    // SINK + AGG (K1-K7, A1-A6): the shard writer is the only action,
    // so every download runs exactly once, inside it. Nothing is
    // cached: an evicted or lost cached partition would silently
    // RE-DOWNLOAD on a second action. Each task commits its shards'
    // samples, sidecar and `_stats.json` (written last, the resume
    // marker) by temp name and rename, so a retried task replaces a
    // failed attempt's files, and it returns one counts row per shard.
    progress.foreach(_.start())
    // stop() in finally: a failed write must not leak the poller
    // thread (it would keep emitting lines into the next run)
    val g = try Sinks.write(prepared, outDir, cfg, metaCols).foldLeft(Stats.Counts())(_ + _)
    finally {
      progress.foreach(_.stop())
      urlCache.unpersist()
    }
    val endTime = System.currentTimeMillis() / 1000.0
    // metaFrame reads the durable sidecars (this and earlier runs') —
    // acting on it later never re-triggers downloads. No sidecars →
    // empty frame. The read takes the paths the glob found: given the
    // glob string, the data-source resolution first probes it as a
    // literal directory and logs a FileNotFoundException.
    val sidecars = Option(fs.globStatus(new Path(s"$outDir/*.parquet")))
      .getOrElse(Array.empty).map(_.getPath.toString)
    val metaFrame =
      if (sidecars.nonEmpty) spark.read.parquet(sidecars.toSeq: _*) else spark.emptyDataFrame
    // K8 wandb-parity: the authoritative post-run counters flow to the
    // structured metrics hook + optional JSON-lines file — the same
    // numbers the reference ships to wandb (logger.py:119-141).
    val elapsed = math.max(endTime - startTime, 1e-9)
    graft.operators.MetricsSink.emit(
      graft.operators.MetricsEvent("final",
        g.count, g.successes, Some(g.failedToDownload), Some(g.failedToResize),
        g.count / elapsed,
        if (g.count == 0) 0.0 else g.successes.toDouble / g.count,
        elapsed),
      cfg.metricsJsonlPath)
    Result(metaFrame, g.count, g.successes, g.failedToDownload, g.failedToResize,
      Map("n_rows" -> g.count, "n_success" -> g.successes, "payload_bytes" -> g.payloadBytes))
  }

  private def hashCol(payload: org.apache.spark.sql.Column, tpe: String) = tpe match {
    case "md5" => md5(payload)
    case "sha256" => sha2(payload, 256)
    case "sha512" => sha2(payload, 512)
  }
}
