package graft.tools

/** The per-query shuffle-byte baseline regression gate (the bytes
  * come from [[Meter]]).
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

  /** Baseline key recording the `spark.sql.shuffle.partitions` the
    * bytes were measured at: shuffle bytes grow with the partition
    * count (sf0.1 `emb_knn_graph`: 4.38 MB at 4, 8.36 MB at 32), so a
    * baseline only gates runs at its own count.
    */
  val PartitionsKey = "__shuffle_partitions"

  /** Load a flat {"key": number} baseline file (`tools/shuffle_baseline.json`,
    * written by `SmokeGate` under SPARK_GRAFT_WRITE_SHUFFLE_BASELINE,
    * or `tools/pipeline_baseline.json`), without [[PartitionsKey]].
    * Hand-rolled parse: the file is machine-written flat JSON and the
    * repo carries no JSON library beyond Spark's internals.
    */
  def loadBaseline(path: java.nio.file.Path): Option[Map[String, Long]] =
    readFlat(path).map(_ - PartitionsKey)

  private def readFlat(path: java.nio.file.Path): Option[Map[String, Long]] =
    if (!java.nio.file.Files.exists(path)) None
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      val re = """"([^"]+)"\s*:\s*(\d+)""".r
      Some(re.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toLong).toMap)
    }

  /** Why the baseline at `path` cannot gate a run at `partitions`
    * shuffle partitions, or None when it can (or there is none). */
  def partitionsMismatch(path: java.nio.file.Path, partitions: Int): Option[String] =
    readFlat(path).flatMap(_.get(PartitionsKey) match {
      case Some(p) if p == partitions => None
      case recorded =>
        val at = recorded.fold("an unrecorded partition count")(p => s"$p shuffle partitions")
        Some(s"shuffle baseline $path was measured at $at but this run uses " +
          s"$partitions; rerun at the baseline's count (SPARK_GRAFT_CPUS) or regenerate it")
    })

  /** Write a flat baseline file; the shuffle baseline passes the
    * partition count its bytes were measured at. */
  def writeBaseline(path: java.nio.file.Path, measured: Map[String, Long],
                    partitions: Option[Int] = None): Unit = {
    val body = (measured ++ partitions.map(PartitionsKey -> _.toLong)).toSeq.sorted
      .map { case (n, b) => s"""  "$n": $b""" }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}
