package graft.operators

import scala.collection.mutable

/** Pipeline statistics (SURVEY §2.5 A1–A7), counted by the shard
  * writer ([[graft.sinks.Sinks]]) in the same loop that writes the
  * shard's samples — the reference's per-shard `status_dict` loop.
  *
  *  - [[ShardStats]]: one shard's counters (A1) and status breakdown
  *    (A2/A3), rendered as its `{shard:%05d}_stats.json` (K7/A5).
  *  - [[Counts]]: the small per-shard row a writer task returns; the
  *    driver sums them into the run's totals and rates (A6).
  *
  * The capped error counter (A2, `logger.py:13-43`) approximates
  * heavy hitters by keeping the top half on overflow; a shard holds
  * at most `samplesPerShard` rows, so the per-shard map stays exact
  * and only the JSON breakdown is capped at k=100 entries (matching
  * `most_common(100)`, logger.py:147-151).
  */
object Stats {

  final case class Counts(count: Long = 0L, successes: Long = 0L,
                          failedToDownload: Long = 0L, failedToResize: Long = 0L,
                          payloadBytes: Long = 0L) {
    def +(o: Counts): Counts = Counts(count + o.count, successes + o.successes,
      failedToDownload + o.failedToDownload, failedToResize + o.failedToResize,
      payloadBytes + o.payloadBytes)
  }

  /** One shard's counters. `startTime` is when the shard's first
    * sample reached the writer; `json` takes the commit time as the
    * end, so duration/start/end are per shard as in `write_stats`.
    */
  final class ShardStats(val startTime: Double) {
    private var count, successes, failedToDownload, failedToResize, payloadBytes = 0L
    private val statusDict = mutable.HashMap.empty[String, Long]

    /** Keys are error messages for failures and "success" for
      * successes, mirroring `status_dict.increment(...)` at
      * downloader.py:263,322.
      */
    def add(status: String, error: String, bytes: Long): Unit = {
      count += 1
      status match {
        case "success" => successes += 1; payloadBytes += bytes
        case "failed_to_download" => failedToDownload += 1
        case "failed_to_resize" => failedToResize += 1
        case _ =>
      }
      val k = if (status == "success") "success" else error
      if (k != null) statusDict(k) = statusDict.getOrElse(k, 0L) + 1
    }

    def counts: Counts =
      Counts(count, successes, failedToDownload, failedToResize, payloadBytes)

    /** The `write_stats` field set (logger.py:162-191). Error messages
      * are arbitrary exception text, hence the full JSON escape.
      */
    def json(endTime: Double): String = {
      import graft.util.JsonEscape.esc
      val dict = statusDict.toSeq.sortBy { case (k, n) => (-n, k) }.take(100)
        .map { case (k, n) => "\"" + esc(k) + s"\": $n" }.mkString("{", ", ", "}")
      s"""{"count": $count, "successes": $successes, """ +
        s""""failed_to_download": $failedToDownload, "failed_to_resize": $failedToResize, """ +
        s""""duration": ${endTime - startTime}, "start_time": $startTime, "end_time": $endTime, """ +
        s""""status_dict": $dict}"""
    }
  }
}
