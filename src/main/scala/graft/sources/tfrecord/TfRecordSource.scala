package graft.sources.tfrecord

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.util.SerializableHadoopConf

/** TFRecord `Example` files as a READABLE Spark source — the
  * DataSourceV2 counterpart of tfrecord output of [[graft.sinks.Sinks]]
  * (K5): `spark.read.format("tfrecord").load(dir)` reads back what
  * the sink wrote, so tfrecord output is no longer write-only.
  * Framing and protobuf wire format per the same public specs the
  * writer implements; both masked CRC32Cs are VERIFIED per record,
  * so silent corruption surfaces as an error, not bad data.
  *
  * Schema: inferred from the first record of the first shard —
  * int64/float lists map to `bigint`/`float` (scalar when the sample
  * has one value, array otherwise); bytes features map to `binary`,
  * except the writer's well-known UTF-8 columns (`key`, `txt`,
  * `json`, `caption`, `url`, `error_message`, `status`) which map to
  * `string`. A user-supplied `.schema(...)` overrides inference and
  * may read any bytes feature as `string`.
  *
  * Scale shape: one input partition PER FILE (shards are the natural
  * parallelism unit; the framing is a stream, records don't split),
  * streamed record-by-record with one record buffered per task.
  * Column pruning is pushed down: pruned features are skipped at the
  * protobuf-field level, never materialized.
  */
class TfRecordSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "tfrecord"

  // a user .schema(...) is how bytes features are read as strings /
  // ragged lists as arrays — accept it instead of always inferring
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TfRecordSource.infer(options.get("path"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val path = properties.get("path")
    val tableSchema =
      if (schema != null && schema.nonEmpty) schema
      else TfRecordSource.infer(path)
    new TfRecordTable(path, tableSchema)
  }
}

object TfRecordSource {

  private[tfrecord] def sessionConf(): Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  /** The writer's known UTF-8 string features: inferred as `string`
    * so round-trips don't surface captions as byte blobs.
    */
  private val Utf8Columns =
    Set("key", "txt", "json", "caption", "url", "error_message", "status")

  private[tfrecord] def listFiles(path: String, conf: Configuration) = {
    require(path != null && path.nonEmpty,
      "tfrecord source needs a path: .load(\"/dir\"), .load(\"/dir/*.tfrecord\"), or .option(\"path\", ...)")
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // getFileStatus THROWS on glob patterns — probe existence first so
    // /dir/part-*.tfrecord reaches globStatus instead of dying here
    val stats =
      if (fs.exists(p)) {
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).filter(_.getPath.getName.endsWith(".tfrecord"))
        else Array(fs.getFileStatus(p))
      } else Option(fs.globStatus(p)).getOrElse(Array.empty)
    stats.sortBy(_.getPath.getName)
  }

  /** Infer from the first record of the first shard. */
  private[tfrecord] def infer(path: String): StructType = {
    val conf = sessionConf()
    val files = listFiles(path, conf)
    require(files.nonEmpty, s"no .tfrecord files under $path")
    val first = files.head.getPath
    val in = first.getFileSystem(conf).open(first)
    try {
      val data = TfExampleCodec.readRecord(in)
      require(data != null, s"$first is empty; cannot infer a schema")
      val feats = TfExampleCodec.parseExample(data, _ => true)
      require(feats.nonEmpty, s"first record of $first has no features")
      StructType(feats.toSeq.sortBy(_._1).map { case (name, feat) =>
        val dt = feat match {
          case TfExampleCodec.BytesF(_) =>
            if (Utf8Columns(name)) StringType else BinaryType
          case TfExampleCodec.FloatF(vs) =>
            if (vs.length == 1) FloatType else ArrayType(FloatType)
          case TfExampleCodec.LongF(vs) =>
            if (vs.length == 1) LongType else ArrayType(LongType)
        }
        StructField(name, dt)
      })
    } finally in.close()
  }
}

class TfRecordTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"tfrecord($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TfRecordScanBuilder(Option(path).getOrElse(options.get("path")), tableSchema)
}

class TfRecordScanBuilder(path: String, tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema
  override def pruneColumns(requiredSchema: StructType): Unit = { required = requiredSchema }
  override def build(): Scan = new TfRecordScan(path, required)
}

class TfRecordScan(path: String, required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private val conf = new SerializableHadoopConf(TfRecordSource.sessionConf())

  override def planInputPartitions(): Array[InputPartition] =
    TfRecordSource.listFiles(path, conf.value)
      .map(st => TfRecordPartition(st.getPath.toString): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    TfRecordReaderFactory(required, conf)
}

case class TfRecordPartition(filePath: String) extends InputPartition

case class TfRecordReaderFactory(required: StructType, conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TfRecordReader(partition.asInstanceOf[TfRecordPartition].filePath, required, conf.value)
}

/** Streams one shard file record-by-record, CRC-verifying each. */
class TfRecordReader(filePath: String, required: StructType, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val hPath = new Path(filePath)
  private val in = new java.io.BufferedInputStream(
    hPath.getFileSystem(conf).open(hPath), 1 << 20)
  private val wanted = required.fieldNames.toSet
  private var row: InternalRow = null

  private def convert(name: String, dt: DataType, feat: TfExampleCodec.Feat): Any = {
    import TfExampleCodec._
    def scalarOf[A](vs: IndexedSeq[A], what: String): A = {
      if (vs.length != 1) throw new java.io.IOException(
        s"feature '$name' in $filePath has ${vs.length} $what values but the schema " +
        s"says scalar $dt; read it as an array type (or fix the schema)")
      vs.head
    }
    (dt, feat) match {
      case (BinaryType, BytesF(vs)) => scalarOf(vs, "bytes")
      case (StringType, BytesF(vs)) =>
        UTF8String.fromString(new String(scalarOf(vs, "bytes"), "UTF-8"))
      case (FloatType, FloatF(vs))  => scalarOf(vs, "float")
      case (DoubleType, FloatF(vs)) => scalarOf(vs, "float").toDouble
      case (LongType, LongF(vs))    => scalarOf(vs, "int64")
      case (IntegerType, LongF(vs)) => scalarOf(vs, "int64").toInt
      case (BooleanType, LongF(vs)) => scalarOf(vs, "int64") != 0L
      case (ArrayType(BinaryType, _), BytesF(vs)) =>
        new GenericArrayData(vs.toArray[Any])
      case (ArrayType(StringType, _), BytesF(vs)) =>
        new GenericArrayData(vs.map(b =>
          UTF8String.fromString(new String(b, "UTF-8"))).toArray[Any])
      case (ArrayType(FloatType, _), FloatF(vs)) =>
        new GenericArrayData(vs.toArray[Any])
      case (ArrayType(DoubleType, _), FloatF(vs)) =>
        new GenericArrayData(vs.map(_.toDouble).toArray[Any])
      case (ArrayType(LongType, _), LongF(vs)) =>
        new GenericArrayData(vs.toArray[Any])
      case _ => throw new java.io.IOException(
        s"feature '$name' in $filePath is ${feat.getClass.getSimpleName}; " +
        s"cannot read as $dt")
    }
  }

  override def next(): Boolean = {
    val data = TfExampleCodec.readRecord(in)
    if (data == null) { row = null; return false }
    val feats = TfExampleCodec.parseExample(data, wanted.contains)
    row = InternalRow.fromSeq(required.fields.toIndexedSeq.map { f =>
      feats.get(f.name).map(convert(f.name, f.dataType, _)).orNull
    })
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** Decoder half of [[graft.sinks.TfRecordCodec]]: TFRecord framing
  * (`[len:uint64le][masked_crc32c(len)][data][masked_crc32c(data)]`)
  * and the `Example` protobuf subset the writer emits — plus the
  * unpacked repeated encodings other TFRecord writers may use.
  */
object TfExampleCodec {

  sealed trait Feat
  final case class BytesF(vs: IndexedSeq[Array[Byte]]) extends Feat
  final case class FloatF(vs: IndexedSeq[Float]) extends Feat
  final case class LongF(vs: IndexedSeq[Long]) extends Feat

  /** Next framed record, CRC-verified; null at clean EOF. */
  def readRecord(in: java.io.InputStream): Array[Byte] = {
    val lenBuf = new Array[Byte](8)
    val first = in.read(lenBuf, 0, 8)
    if (first == -1) return null
    var got = first
    while (got < 8) {
      val n = in.read(lenBuf, got, 8 - got)
      if (n == -1) throw new java.io.IOException("truncated tfrecord length header")
      got += n
    }
    val lenCrc = readInt(in)
    if (lenCrc != graft.sinks.TfRecordCodec.maskedCrc(lenBuf))
      throw new java.io.IOException("tfrecord length CRC mismatch — corrupt file")
    val len = java.nio.ByteBuffer.wrap(lenBuf)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    if (len < 0 || len > Int.MaxValue - 8)
      throw new java.io.IOException(s"tfrecord record of $len bytes not supported")
    val data = readFully(in, len.toInt)
    val dataCrc = readInt(in)
    if (dataCrc != graft.sinks.TfRecordCodec.maskedCrc(data))
      throw new java.io.IOException("tfrecord data CRC mismatch — corrupt file")
    data
  }

  private def readFully(in: java.io.InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var got = 0
    while (got < n) {
      val r = in.read(buf, got, n - got)
      if (r == -1) throw new java.io.IOException("truncated tfrecord record")
      got += r
    }
    buf
  }

  private def readInt(in: java.io.InputStream): Int = {
    val b = readFully(in, 4)
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
  }

  /** Mutable cursor over a protobuf byte span. */
  private final class Cursor(val buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var r = 0L; var s = 0
      while (true) {
        if (pos >= end) throw new java.io.IOException("truncated varint in Example")
        val b = buf(pos); pos += 1
        r |= (b & 0x7FL) << s
        if ((b & 0x80) == 0) return r
        s += 7
      }
      r // unreachable
    }
    /** (fieldNumber, wireType) */
    def tag(): (Int, Int) = { val v = varint(); ((v >>> 3).toInt, (v & 7).toInt) }
    /** Start of a length-delimited span; advances past it. Length
      * checked as a LONG — a varint in (2^31, 2^32] must not wrap
      * through toInt into a small positive that mis-frames the span.
      */
    def span(): Cursor = {
      val l = varint()
      if (l < 0 || l > (end - pos).toLong)
        throw new java.io.IOException("bad length in Example")
      val li = l.toInt
      val c = new Cursor(buf, pos, pos + li); pos += li; c
    }
    def bytes(): Array[Byte] = { val c = span(); java.util.Arrays.copyOfRange(buf, c.pos, c.end) }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => span()
      case 5 => pos += 4
      case w => throw new java.io.IOException(s"unsupported wire type $w in Example")
    }
  }

  private def parseBytesList(c: Cursor): BytesF = {
    val out = Vector.newBuilder[Array[Byte]]
    while (c.hasMore) {
      val (f, w) = c.tag()
      if (f == 1 && w == 2) out += c.bytes() else c.skip(w)
    }
    BytesF(out.result())
  }

  private def parseFloatList(c: Cursor): FloatF = {
    val out = Vector.newBuilder[Float]
    while (c.hasMore) {
      val (f, w) = c.tag()
      if (f == 1 && w == 2) { // packed
        val s = c.span()
        val bb = java.nio.ByteBuffer.wrap(s.buf, s.pos, s.end - s.pos)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        while (bb.remaining() >= 4) out += bb.getFloat
      } else if (f == 1 && w == 5) { // unpacked
        if (c.pos + 4 > c.end)
          throw new java.io.IOException("truncated fixed32 in FloatList")
        val bb = java.nio.ByteBuffer.wrap(c.buf, c.pos, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        out += bb.getFloat; c.pos += 4
      } else c.skip(w)
    }
    FloatF(out.result())
  }

  private def parseInt64List(c: Cursor): LongF = {
    val out = Vector.newBuilder[Long]
    while (c.hasMore) {
      val (f, w) = c.tag()
      if (f == 1 && w == 2) { // packed
        val s = c.span()
        while (s.hasMore) out += s.varint()
      } else if (f == 1 && w == 0) { // unpacked
        out += c.varint()
      } else c.skip(w)
    }
    LongF(out.result())
  }

  private def parseFeature(c: Cursor): Feat = {
    var feat: Feat = BytesF(Vector.empty) // empty Feature ≡ empty bytes_list
    while (c.hasMore) {
      val (f, w) = c.tag()
      (f, w) match {
        case (1, 2) => feat = parseBytesList(c.span())
        case (2, 2) => feat = parseFloatList(c.span())
        case (3, 2) => feat = parseInt64List(c.span())
        case _      => c.skip(w)
      }
    }
    feat
  }

  /** Example { features=1 { map entries: key=1, value=2 (Feature) } };
    * features whose name fails `want` are skipped unparsed.
    */
  def parseExample(data: Array[Byte], want: String => Boolean): Map[String, Feat] = {
    val out = Map.newBuilder[String, Feat]
    val top = new Cursor(data, 0, data.length)
    while (top.hasMore) {
      val (f, w) = top.tag()
      if (f == 1 && w == 2) { // Features
        val fc = top.span()
        while (fc.hasMore) {
          val (ef, ew) = fc.tag()
          if (ef == 1 && ew == 2) { // one map entry
            val entry = fc.span()
            var name: String = null
            var featSpan: Cursor = null
            while (entry.hasMore) {
              val (kf, kw) = entry.tag()
              (kf, kw) match {
                case (1, 2) => name = new String(entry.bytes(), "UTF-8")
                case (2, 2) => featSpan = entry.span()
                case _      => entry.skip(kw)
              }
            }
            if (name != null && featSpan != null && want(name))
              out += name -> parseFeature(featSpan)
          } else fc.skip(ew)
        }
      } else top.skip(w)
    }
    out.result()
  }
}
