package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
import org.apache.spark.sql.catalyst.InternalRow

import graft.config.DownloadConfig
import graft.sinks.Sinks

/** Task-retry behaviour of the shard writer, driven directly with two
  * attempt ids (the shared session is `local[4]`, which never retries
  * a task): a failed attempt leaves nothing behind and the attempt
  * that completes owns every committed file.
  */
class ShardWriterSpec extends SparkSpec {

  private val metaCols = Seq("key", "url", "status", "error_message")
  private val cfg = DownloadConfig(outputFormat = "webdataset", samplesPerShard = 10,
    incrementalMode = "overwrite")

  /** Shard 0's writer input: four successes whose payload and url
    * carry the attempt's tag, plus one failure.
    */
  private def rows(out: String, tag: String) = {
    import spark.implicits._
    val df = ((0 until 4).map(i =>
        (0L, f"0000$i%d", "success", null: String, s"$tag-$i".getBytes("UTF-8"), s"http://x/$tag/$i")) :+
      ((0L, "00004", "failed_to_download", "HTTP 404", null: Array[Byte], s"http://x/$tag/4")))
      .toDF("shard_id", "key", "status", "error_message", "_final_payload", "url")
    val (in, writer) = Sinks.writer(df, out, cfg, metaCols)
    (in.queryExecution.toRdd.map(_.copy()).collect().toSeq, writer)
  }

  private def names(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  test("retried attempt: one committed file set, second attempt's contents, no temp names") {
    val dir = Files.createTempDirectory("graft_shard_retry")
    val out = dir.toString
    val (first, writer) = rows(out, "first")
    var tempsAtFailure = Seq.empty[String]
    val failing: Iterator[InternalRow] = first.iterator.zipWithIndex.map { case (r, i) =>
      if (i == 2) {
        tempsAtFailure = names(dir).filter(_.endsWith(".tmp"))
        throw new RuntimeException("injected failure halfway through the shard")
      }
      r
    }
    val e = intercept[RuntimeException](writer.write(failing, attempt = 1L).toList)
    assert(e.getMessage.contains("injected"))
    assert(tempsAtFailure.nonEmpty, "the failed attempt was writing under temp names")
    assert(names(dir).isEmpty, s"a failed attempt deletes its temp files: ${names(dir)}")

    val (second, _) = rows(out, "second")
    val counts = writer.write(second.iterator, attempt = 2L).toList
    assert(counts == Seq(graft.operators.Stats.Counts(5, 4, 1, 0, 4L * "second-0".length)))
    assert(names(dir).filterNot(_.endsWith(".crc")) ==
      Seq("00000.parquet", "00000.tar", "00000_stats.json"))

    val tin = new TarArchiveInputStream(Files.newInputStream(dir.resolve("00000.tar")))
    val members = Iterator.continually(tin.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> new String(tin.readAllBytes(), "UTF-8")).toMap
    tin.close()
    assert((0 until 4).map(i => members(f"0000$i%d.jpg")) == (0 until 4).map(i => s"second-$i"))
    assert(members.keys.count(_.endsWith(".json")) == 4)

    val sidecar = spark.read.parquet(dir.resolve("00000.parquet").toString)
    assert(sidecar.columns.toSeq == metaCols)
    assert(sidecar.collect().map(_.getAs[String]("url")).sorted.toSeq ==
      (0 until 5).map(i => s"http://x/second/$i"))
    val stats = new String(Files.readAllBytes(dir.resolve("00000_stats.json")), "UTF-8")
    assert(stats.contains("\"count\": 5") && stats.contains("\"HTTP 404\": 1"), stats)
  }
}
