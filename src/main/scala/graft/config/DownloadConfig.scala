package graft.config

/** Typed pipeline configuration — the Spark-native equivalent of the
  * reference's `download()` keyword surface (reference
  * `main.py:73-112`, defaults mirrored where they transfer).
  *
  * Validation mirrors `main.py:31-70` (L3/P4 in SURVEY §2): hash
  * names, verify/compute consistency, reserved output columns.
  */
case class DownloadConfig(
    urlCol: String = "url",
    captionCol: Option[String] = None,
    saveAdditionalColumns: Seq[String] = Nil,
    /** txt|csv|tsv|json|jsonl|parquet|orc — "auto" sniffs the
      * extension (orc is an engine extension beyond the reference). */
    inputFormat: String = "auto",
    /** files|webdataset|parquet|tfrecord|dummy (writer.py:55-306). */
    outputFormat: String = "files",
    /** jpg|png|webp|webp-lossless (webp = from-scratch lossy VP8 at
      * `encodeQuality`, reference parity with Pillow's default;
      * webp-lossless = the VP8L encoder).
      */
    encodeFormat: String = "jpg",
    encodeQuality: Int = 95,
    samplesPerShard: Int = 10000,     // number_sample_per_shard, main.py:91
    oomShardCount: Int = 5,           // main.py:92
    imageSize: Int = 256,
    resizeMode: String = "border",    // resizer.py:22-27
    /** Interpolation when UPSCALING — reference names + default
      * (`main.py:80`, `resizer.py:10-18`), case-insensitive, mapped to
      * the JVM's nearest equivalent in [[graft.operators.Resizer]]:
      * nearest→NEAREST, linear/bilinear/area→BILINEAR,
      * cubic/bicubic/lanczos/lanczos4→BICUBIC. */
    upscaleInterpolation: String = "lanczos",
    /** Interpolation when DOWNSCALING (`main.py:81`); same mapping. */
    downscaleInterpolation: String = "area",
    resizeOnlyIfBigger: Boolean = false,
    skipReencode: Boolean = false,
    disableAllReencoding: Boolean = false,
    minImageSize: Int = 0,
    maxImageArea: Double = Double.PositiveInfinity,
    maxAspectRatio: Double = Double.PositiveInfinity,
    /** (inputColumn, hashType) — recompute over bytes, compare (F2). */
    verifyHash: Option[(String, String)] = None,
    /** md5|sha256|sha512 column appended to output (T12). */
    computeHashCol: Option[String] = Some("sha256"),
    extractExif: Boolean = false,
    /** normalized [x0,y0,x1,y1] bbox-list column to blur (T10). */
    bboxCol: Option[String] = None,
    timeoutSeconds: Int = 10,
    retries: Int = 0,
    /** Skip TLS certificate/hostname verification, like the
      * reference's `ignore_ssl_certificate` (downloader.py:38-51). */
    ignoreSslCertificate: Boolean = false,
    userAgentToken: Option[String] = None,
    disallowedHeaderDirectives: Seq[String] =
      Seq("noai", "noimageai", "noindex", "noimageindex"), // main.py:114-117
    /** I/O threads per partition task (main.py:90; README.md:349-357). */
    threadCount: Int = 64,
    /** Live progress line period (K8, logger.py:153-159). ≤0 disables. */
    progressIntervalMs: Long = 5000,
    /** Driver-local JSON-lines metrics file (K8 wandb-parity without
      * the external service, logger.py:119-141): one structured event
      * per progress emission plus one authoritative `"final"` event
      * per run. See [[graft.operators.MetricsSink]] for the in-process
      * hook variant. */
    metricsJsonlPath: Option[String] = None,
    /** incremental|overwrite|extend (main.py:151-168). */
    incrementalMode: String = "incremental") {

  import DownloadConfig._

  /** Throws IllegalArgumentException on invalid config (analysis-time,
    * before any job is launched) — mirror of `arguments_validator`.
    */
  def validate(): DownloadConfig = {
    require(ValidHashes.contains(computeHashCol.getOrElse("sha256")),
      s"computeHashCol must be one of $ValidHashes")
    verifyHash.foreach { case (_, tpe) =>
      require(ValidHashes.contains(tpe), s"verifyHash type must be one of $ValidHashes")
      computeHashCol.foreach { c =>
        require(c == tpe,
          s"when both verify_hash and compute_hash are set they must use the same algorithm " +
          s"(got verify=$tpe compute=$c)") // main.py:36-43
      }
    }
    require(ValidInputFormats.contains(inputFormat),
      s"inputFormat must be one of $ValidInputFormats") // else readRaw would MatchError
    require(ValidResizeModes.contains(resizeMode), s"resizeMode must be one of $ValidResizeModes")
    // same name validation as the reference (`resizer.py:62-66` raises
    // "Invalid option for interpolation"), case-insensitive like cv2's
    for ((knob, v) <- Seq("upscaleInterpolation" -> upscaleInterpolation,
                          "downscaleInterpolation" -> downscaleInterpolation))
      require(ValidInterpolations.contains(v.toLowerCase),
        s"Invalid option for $knob: $v (valid: ${ValidInterpolations.toSeq.sorted.mkString(", ")})")
    require(ValidOutputFormats.contains(outputFormat), s"outputFormat must be one of $ValidOutputFormats")
    require(ValidEncodeFormats.contains(encodeFormat),
      s"encodeFormat must be one of $ValidEncodeFormats")
    require(encodeQuality >= 0 && encodeQuality <= 100,
      s"encodeQuality must be in [0, 100], got $encodeQuality")
    // "webp" is the lossy VP8 encoder and honors encodeQuality
    // (reference parity, resizer.py:224-227); only the explicit
    // lossless variant rejects the knob, since it has no effect there.
    require(encodeFormat != "webp-lossless" || encodeQuality == 95,
      "webp-lossless is VP8L — encode_quality has no effect; " +
      "leave it at the default (95) or use webp/jpg for lossy quality control")
    require(ValidIncrementalModes.contains(incrementalMode),
      s"incrementalMode must be one of $ValidIncrementalModes")
    val reserved = ReservedColumns ++ ValidEncodeFormats
    val clash = saveAdditionalColumns.toSet.intersect(reserved)
    require(clash.isEmpty,
      s"saveAdditionalColumns may not use reserved output columns: ${clash.mkString(", ")}") // main.py:45-70
    require(samplesPerShard > 0 && oomShardCount > 0 && threadCount > 0, "sizes must be positive")
    this
  }

  /** File extension / payload column for the encoded image: both webp
    * flavors write `.webp` files and a `webp` parquet column, matching
    * what any webp consumer expects.
    */
  def payloadExt: String =
    if (encodeFormat == "webp-lossless") "webp" else encodeFormat

  /** Digits needed for the in-shard index — `downloader.py:223`. */
  def oomSamplesPerShard: Int =
    math.ceil(math.log10(samplesPerShard.toDouble)).toInt
}

object DownloadConfig {
  val ValidHashes: Set[String] = Set("md5", "sha256", "sha512")
  val ValidInputFormats: Set[String] =
    Set("auto", "txt", "csv", "tsv", "json", "jsonl", "parquet", "orc")
  val ValidResizeModes: Set[String] =
    Set("no", "border", "keep_ratio", "keep_ratio_largest", "center_crop")
  /** Reference interpolation vocabulary (`resizer.py:10-18`). */
  val ValidInterpolations: Set[String] =
    Set("nearest", "linear", "bilinear", "cubic", "bicubic", "area", "lanczos", "lanczos4")
  val ValidOutputFormats: Set[String] =
    Set("files", "webdataset", "parquet", "tfrecord", "dummy")
  val ValidEncodeFormats: Set[String] = Set("jpg", "png", "webp", "webp-lossless")
  val ValidIncrementalModes: Set[String] = Set("incremental", "overwrite", "extend")
  /** Reserved output schema appendix — `main.py:45-70` + writer payload. */
  val ReservedColumns: Set[String] = Set(
    "key", "status", "error_message", "width", "height",
    "original_width", "original_height", "exif", "md5", "sha256", "sha512")
}
