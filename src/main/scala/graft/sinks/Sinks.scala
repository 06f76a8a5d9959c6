package graft.sinks

import java.io.{BufferedOutputStream, OutputStream}
import java.util.zip.CRC32C

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.graftbridge.OutputMetricsBridge
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.config.DownloadConfig
import graft.operators.Stats
import graft.util.SerializableHadoopConf

/** Output sinks (SURVEY §2.7): one shard-local writer for every output
  * format, and the pipeline's only download action.
  *
  * `UrlReader` hash-partitions url rows by `shard_id`, and download
  * and resize keep that partitioning, so a task always holds whole
  * shards. A task streams its rows, in download-completion order (the
  * reference's `imap_unordered`), into one open output set per shard
  * it sees, in one loop as in writer.py:55-306:
  *  - the samples: `{shard:%05d}.tar`, `.tfrecord` or a
  *    `{shard:%05d}/` directory (none for parquet and dummy);
  *  - the metadata sidecar `{shard:%05d}.parquet`, through Spark's own
  *    parquet `OutputWriter`, so codec and schema match a DataFrame
  *    write;
  *  - the shard's stats, rendered as `{shard:%05d}_stats.json`.
  *
  * Exactly-once by commit order: every output is written under a
  * hidden per-attempt temp name, and at task end each shard is
  * renamed in the order samples, sidecar, stats. Names are fixed, so a
  * retried attempt replaces a failed one's files, and the stats file,
  * the incremental-resume marker, appears last. A failing attempt
  * deletes its temp files.
  *
  * Sink invariants (mirrored from the reference tests): a sidecar row
  * per input row incl. failures; payloads written only for successes;
  * outputs named by zero-padded shard id. I/O goes through the Hadoop
  * FileSystem API, so any supported scheme (file://, hdfs://, s3a://)
  * works — the S9 fsspec analog.
  */
object Sinks {

  /** Non-cached FileSystem with checksum sidecars disabled
    * (LocalFileSystem otherwise writes a .crc sibling per created file
    * — doubling file-count overhead in the per-sample sinks).
    * `newInstance` instead of the cached `getFileSystem`: the
    * checksum setters MUTATE the FileSystem object, and the JVM-wide
    * cached instance is shared with every other write in the process
    * (parquet sidecars), which would silently lose their .crc
    * generation. Callers must `close()` the returned instance.
    */
  private[sinks] def fs(dir: String, conf: Configuration): FileSystem = {
    val f = FileSystem.newInstance(new Path(dir).toUri, conf)
    f.setWriteChecksum(false)
    f.setVerifyChecksum(false)
    f
  }

  /** Write the pipeline frame — `shard_id`, `key`, `status`,
    * `error_message`, `_final_payload`, an optional `caption` and every
    * `metaCols` column — and return this run's per-shard counts.
    */
  def write(df: DataFrame, outDir: String, cfg: DownloadConfig,
            metaCols: Seq[String]): Seq[Stats.Counts] = {
    val (in, w) = writer(df, outDir, cfg, metaCols)
    in.queryExecution.toRdd
      .mapPartitions(rows => w.write(rows, TaskContext.get().taskAttemptId()))
      .collect().toSeq
  }

  /** The writer's input frame, whose column order is [[ShardWriter]]'s
    * contract, and the writer. The session's Hadoop conf is captured
    * here on the driver: a bare executor-side `new Configuration()`
    * would resolve the wrong store on s3a/gcs.
    */
  private[graft] def writer(df: DataFrame, outDir: String, cfg: DownloadConfig,
                            metaCols: Seq[String]): (DataFrame, ShardWriter) = {
    val fmt = cfg.outputFormat
    // reference save_caption semantics (writer.py:118-127): a caption
    // COLUMN present means every sample gets a caption — a NULL one
    // writes "" — and non-string captions are stringified
    val saveCaption = df.columns.contains("caption")
    val sidecar = metaCols.map(col) ++
      (if (fmt == "parquet") Seq(col("_final_payload").as(cfg.payloadExt)) else Nil)
    val in = df.select(col("shard_id"), col("key"), col("status"), col("error_message"),
      col("_final_payload"),
      if (saveCaption) col("caption").cast("string") else lit(null).cast("string"),
      if (fmt == "files" || fmt == "webdataset") to_json(struct(metaCols.map(col): _*))
      else lit(null).cast("string"),
      struct(sidecar: _*))
    val sidecarSchema = in.schema.fields(7).dataType.asInstanceOf[StructType]
    val job = Job.getInstance(df.sparkSession.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(df.sparkSession, job, Map.empty, sidecarSchema)
    (in, new ShardWriter(outDir, cfg, saveCaption, sidecarSchema, factory,
      new SerializableHadoopConf(job.getConfiguration)))
  }
}

/** Executor side of [[Sinks.write]]: one task's rows into committed
  * shards. Input columns: 0 shard_id, 1 key, 2 status, 3
  * error_message, 4 payload, 5 caption, 6 metadata JSON, 7 sidecar row.
  */
private[graft] final class ShardWriter(
    dir: String, cfg: DownloadConfig, saveCaption: Boolean, sidecarSchema: StructType,
    sidecarFactory: OutputWriterFactory, conf: SerializableHadoopConf) extends Serializable {

  @transient private lazy val toRow =
    CatalystTypeConverters.createToScalaConverter(sidecarSchema)

  /** Writes every row, then commits each shard seen and returns its
    * counts; the bytes and rows written become the task's output
    * metrics. On any failure this attempt's temp files are deleted.
    */
  def write(rows: Iterator[InternalRow], attempt: Long): Iterator[Stats.Counts] = {
    val reportOutput = OutputMetricsBridge.track()
    val fs = Sinks.fs(dir, conf.value)
    val ctx = new TaskAttemptContextImpl(conf.value, new TaskAttemptID())
    val open = mutable.LinkedHashMap.empty[Long, OpenShard]
    try {
      rows.foreach { r =>
        open.getOrElseUpdate(r.getLong(0), new OpenShard(fs, ctx, r.getLong(0), attempt)).add(r)
      }
      val counts = open.values.map(_.commit()).toList
      reportOutput(counts.map(_.count).sum)
      counts.iterator
    } catch { case e: Throwable =>
      open.values.foreach(_.abort())
      throw e
    } finally fs.close()
  }

  private def utf8(r: InternalRow, i: Int): Array[Byte] =
    if (r.isNullAt(i)) Array.emptyByteArray else r.getUTF8String(i).getBytes

  /** One shard's sample output, written under its temp name. */
  private abstract class Samples(val paths: (Path, Path)) {
    def add(r: InternalRow, payload: Array[Byte]): Unit
    def close(): Unit
  }

  private final class OpenShard(fs: FileSystem, ctx: TaskAttemptContextImpl,
                                shard: Long, attempt: Long) {
    private val stem = ("%0" + cfg.oomShardCount + "d").format(shard)
    private val stats = new Stats.ShardStats(System.currentTimeMillis() / 1000.0)
    /** (temp, final) paths; the temp name is hidden from readers. */
    private def named(name: String) = (new Path(dir, s".$name.$attempt.tmp"), new Path(dir, name))
    private val samples: Option[Samples] = cfg.outputFormat match {
      case "webdataset" => Some(tar(named(s"$stem.tar")))
      case "files" => Some(files(named(stem)))
      case "tfrecord" => Some(tfrecord(named(s"$stem.tfrecord")))
      case _ => None
    }
    private val sidecarPaths = named(s"$stem.parquet")
    private val sidecar = sidecarFactory.newInstance(sidecarPaths._1.toString, sidecarSchema, ctx)
    private val statsPaths = named(s"${stem}_stats.json")

    def add(r: InternalRow): Unit = {
      val status = r.getUTF8String(2).toString
      val payload = if (status == "success" && !r.isNullAt(4)) r.getBinary(4) else null
      stats.add(status, if (r.isNullAt(3)) null else r.getUTF8String(3).toString,
        if (payload == null) 0L else payload.length)
      if (payload != null) samples.foreach(_.add(r, payload))
      sidecar.write(r.getStruct(7, sidecarSchema.length))
    }

    def commit(): Stats.Counts = {
      samples.foreach(_.close())
      sidecar.close()
      samples.foreach(s => rename(s.paths))
      rename(sidecarPaths)
      val o = fs.create(statsPaths._1, true)
      try o.write(stats.json(System.currentTimeMillis() / 1000.0).getBytes("UTF-8"))
      finally o.close()
      rename(statsPaths)
      stats.counts
    }

    def abort(): Unit = {
      def quietly(f: => Any): Unit = try f catch { case NonFatal(_) => }
      samples.foreach(s => quietly(s.close()))
      quietly(sidecar.close())
      (samples.map(_.paths).toSeq ++ Seq(sidecarPaths, statsPaths))
        .foreach(p => quietly(fs.delete(p._1, true)))
    }

    /** Hadoop rename returns false when the destination exists (an
      * earlier run or attempt): replace it, never keep stale data.
      */
    private def rename(p: (Path, Path)): Unit = {
      if (fs.exists(p._2)) fs.delete(p._2, true)
      require(fs.rename(p._1, p._2), s"rename ${p._1} -> ${p._2} failed")
    }

    /** K3/K4: `{key}.{ext}`, `{key}.txt` (with a caption column) and
      * `{key}.json` per success (writer.py:94-135, 246-293).
      */
    private def triple(r: InternalRow, payload: Array[Byte],
                       put: (String, Array[Byte]) => Unit): Unit = {
      val key = r.getUTF8String(1).toString
      put(s"$key.${cfg.payloadExt}", payload)
      if (saveCaption) put(s"$key.txt", utf8(r, 5))
      put(s"$key.json", utf8(r, 6))
    }

    /** K3: webdataset tar (layout per webdataset.github.io). */
    private def tar(p: (Path, Path)): Samples = new Samples(p) {
      private val out = new TarArchiveOutputStream(
        new BufferedOutputStream(fs.create(p._1, true), 1 << 20))
      out.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
      def add(r: InternalRow, payload: Array[Byte]): Unit = triple(r, payload, { (name, bytes) =>
        val e = new TarArchiveEntry(name)
        e.setSize(bytes.length)
        out.putArchiveEntry(e); out.write(bytes); out.closeArchiveEntry()
      })
      def close(): Unit = out.close()
    }

    /** K4: one file triple per sample under `{shard:%05d}/`. */
    private def files(p: (Path, Path)): Samples = new Samples(p) {
      fs.mkdirs(p._1)
      def add(r: InternalRow, payload: Array[Byte]): Unit = triple(r, payload, { (name, bytes) =>
        val o = fs.create(new Path(p._1, name), true)
        try o.write(bytes) finally o.close()
      })
      def close(): Unit = ()
    }

    /** K5: TFRecord of TF `Example` protos (writer.py:138-243): the
      * payload under the encode-format key, `key` as bytes, the caption
      * under `"txt"` when a caption column exists, and every metadata
      * column as its own typed feature (see [[TfRecordCodec.typedFeature]]).
      */
    private def tfrecord(p: (Path, Path)): Samples = new Samples(p) {
      private val out = new BufferedOutputStream(fs.create(p._1, true), 1 << 20)
      private val metaFields = sidecarSchema.fields.zipWithIndex.filter(_._1.name != "key")
      def add(r: InternalRow, payload: Array[Byte]): Unit = {
        val meta = toRow(r.getStruct(7, sidecarSchema.length)).asInstanceOf[Row]
        val feats =
          Seq("key" -> TfRecordCodec.bytesFeature(utf8(r, 1)),
              cfg.payloadExt -> TfRecordCodec.bytesFeature(payload)) ++
          (if (saveCaption) Seq("txt" -> TfRecordCodec.bytesFeature(utf8(r, 5))) else Nil) ++
          metaFields.map { case (f, i) => f.name -> TfRecordCodec.typedFeature(meta, i, f.dataType) }
        TfRecordCodec.writeRecord(out, TfRecordCodec.example(feats))
      }
      def close(): Unit = out.close()
    }
  }
}

/** Hand-rolled TF `Example` protobuf + TFRecord framing (T15/K5).
  * Wire format per the public protobuf spec and TFRecord layout:
  * `[len:uint64le][masked_crc32c(len):uint32le][data][masked_crc32c(data)]`.
  */
object TfRecordCodec {

  private def varint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def lenDelim(field: Int, bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    varint(out, (field << 3) | 2); varint(out, bytes.length); out.write(bytes)
    out.toByteArray
  }

  /** Feature { bytes_list = 1 { repeated bytes value = 1 } } */
  def bytesFeature(value: Array[Byte]): Array[Byte] =
    lenDelim(1, lenDelim(1, value))

  /** bytes_list with multiple values (the reference's list-of-str
    * meta columns, writer.py:229-243).
    */
  def bytesListFeature(values: Seq[Array[Byte]]): Array[Byte] =
    lenDelim(1, values.map(lenDelim(1, _)).foldLeft(Array.emptyByteArray)(_ ++ _))

  /** Spark-typed row value → TF feature, mirroring the reference's
    * value-type dispatch (writer.py:204-243): int-likes → int64_list,
    * float/double → float_list, arrays → the list feature of their
    * element type, everything else → bytes_list. A NULL of ANY type
    * becomes an empty bytes_list — the reference types by VALUE, so
    * `_feature(None)` is `bytes_list(b"")` even for int columns.
    */
  def typedFeature(r: Row, i: Int, dt: org.apache.spark.sql.types.DataType): Array[Byte] = {
    import org.apache.spark.sql.types._
    if (r.isNullAt(i)) bytesFeature(Array.emptyByteArray)
    else dt match {
      case BooleanType => int64Feature(Seq(if (r.getBoolean(i)) 1L else 0L))
      case ByteType    => int64Feature(Seq(r.getByte(i).toLong))
      case ShortType   => int64Feature(Seq(r.getShort(i).toLong))
      case IntegerType => int64Feature(Seq(r.getInt(i).toLong))
      case LongType    => int64Feature(Seq(r.getLong(i)))
      case FloatType   => floatFeature(Seq(r.getFloat(i)))
      case DoubleType  => floatFeature(Seq(r.getDouble(i).toFloat))
      case BinaryType  => bytesFeature(r.getAs[Array[Byte]](i))
      case ArrayType(et, _) =>
        val vs = r.getSeq[Any](i)
        // NULL elements inside typed lists: TF's Int64List/FloatList
        // cannot represent null (the reference CRASHES here — a None
        // inside a typed meta list raises in protobuf); map to 0
        // rather than killing the sink task
        et match {
          case ByteType | ShortType | IntegerType | LongType | BooleanType =>
            int64Feature(vs.map {
              case null => 0L
              case b: Boolean => if (b) 1L else 0L
              case n: Number => n.longValue()
            })
          case FloatType | DoubleType =>
            floatFeature(vs.map {
              case null => 0.0f
              case n: Number => n.floatValue()
            })
          case _ =>
            bytesListFeature(vs.map(v =>
              (if (v == null) "" else v.toString).getBytes("UTF-8")))
        }
      case _ => bytesFeature(r.get(i).toString.getBytes("UTF-8"))
    }
  }

  /** Feature { float_list = 2 { repeated float value = 1, packed } } */
  def floatFeature(values: Seq[Float]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(values.length * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    values.foreach(bb.putFloat)
    lenDelim(2, lenDelim(1, bb.array()))
  }

  /** Feature { int64_list = 3 { repeated int64 value = 1, packed } } */
  def int64Feature(values: Seq[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    values.foreach(varint(out, _))
    lenDelim(3, lenDelim(1, out.toByteArray))
  }

  /** Example { features = 1 { map<string,Feature> feature = 1 } } */
  def example(features: Seq[(String, Array[Byte])]): Array[Byte] = {
    val entries = features.map { case (name, feat) =>
      lenDelim(1, lenDelim(1, name.getBytes("UTF-8")) ++ lenDelim(2, feat))
    }
    lenDelim(1, entries.foldLeft(Array.emptyByteArray)(_ ++ _))
  }

  private[graft] def maskedCrc(bytes: Array[Byte]): Int = {
    val c = new CRC32C(); c.update(bytes)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  def writeRecord(out: OutputStream, data: Array[Byte]): Unit = {
    val lenBuf = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putLong(data.length.toLong).array()
    val word = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.write(lenBuf)
    out.write(word.clear().putInt(maskedCrc(lenBuf)).array())
    out.write(data)
    out.write(word.clear().putInt(maskedCrc(data)).array())
  }
}
