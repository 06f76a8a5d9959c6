package graft.sources.wds

import java.util.{Map => JMap}

import scala.collection.mutable

import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.util.SerializableHadoopConf

/** Webdataset (tar-of-samples) as a READABLE Spark source — the
  * DataSourceV2 counterpart of webdataset output of [[graft.sinks.Sinks]]
  * (layout per webdataset.github.io: consecutive `{key}.jpg`,
  * `{key}.txt`, `{key}.json` entries per sample, one shard per tar).
  *
  * Usage: `spark.read.format("webdataset").load("/path/to/shards")`
  * → `(shard string, key string, jpg binary, txt string, json string)`.
  *
  * Scale shape: one input partition PER TAR FILE (a shard is the
  * natural parallelism unit; tars don't split), streamed entry-by-
  * entry — one open file and one sample buffered per task. Column
  * pruning is pushed down: payload bytes of pruned columns are
  * skipped, not read (`SupportsPushDownRequiredColumns`).
  */
class WebdatasetSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "webdataset"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WebdatasetSource.schemaFor(WebdatasetSource.payloadExt(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    // properties is the case-preserving map — read the option the same
    // case-insensitive way inferSchema does (.option("PAYLOAD_EXT",…)
    // must not silently fall back to jpg), and honor the schema Spark
    // hands us (inferSchema's result or a user-provided .schema(...)).
    val ext = WebdatasetSource.payloadExt(new CaseInsensitiveStringMap(properties))
    val tableSchema =
      if (schema != null && schema.nonEmpty) schema
      else WebdatasetSource.schemaFor(ext)
    new WdsTable(properties.get("path"), ext, tableSchema)
  }
}

object WebdatasetSource {
  /** Option naming the payload entry extension (and its column). */
  val PayloadExtOption = "payload_ext"

  def payloadExt(options: CaseInsensitiveStringMap): String =
    Option(options.get(PayloadExtOption)).getOrElse("jpg")

  /** Schema parameterized by the payload column: `{ext} binary`. */
  def schemaFor(payloadExt: String): StructType = StructType(Seq(
    StructField("shard", StringType), StructField("key", StringType),
    StructField(payloadExt, BinaryType), StructField("txt", StringType),
    StructField("json", StringType)))

  /** The session's Hadoop conf (spark.hadoop.* included) captured on
    * the driver — a bare `new Configuration()` would drop object-store
    * credentials/endpoints configured through Spark.
    */
  private[wds] def sessionConf(): Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
}

class WdsTable(path: String, payloadExt: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"webdataset($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WdsScanBuilder(Option(path).getOrElse(options.get("path")), payloadExt, tableSchema)
}

class WdsScanBuilder(path: String, payloadExt: String, tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema
  override def pruneColumns(requiredSchema: StructType): Unit = { required = requiredSchema }
  override def build(): Scan = new WdsScan(path, required, payloadExt)
}

class WdsScan(path: String, required: StructType, payloadExt: String) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private val conf = new SerializableHadoopConf(WebdatasetSource.sessionConf())

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf.value)
    // getFileStatus THROWS on glob patterns — probe existence first so
    // /dir/0000*.tar reaches globStatus instead of dying here
    val stats =
      if (fs.exists(p)) {
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).filter(_.getPath.getName.endsWith(".tar"))
        else Array(fs.getFileStatus(p))
      } else Option(fs.globStatus(p)).getOrElse(Array.empty)
    stats.sortBy(_.getPath.getName)
      .map(st => WdsPartition(st.getPath.toString): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    WdsReaderFactory(required, payloadExt, conf)
}

case class WdsPartition(tarPath: String) extends InputPartition

case class WdsReaderFactory(required: StructType, payloadExt: String,
                            conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WdsReader(partition.asInstanceOf[WdsPartition].tarPath, required, payloadExt, conf.value)
}

/** Streams one tar, grouping consecutive same-key entries into rows. */
class WdsReader(tarPath: String, required: StructType, payloadExt: String,
                conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val hPath = new Path(tarPath)
  private val in = new TarArchiveInputStream(
    hPath.getFileSystem(conf).open(hPath))
  private val shardName = {
    val n = hPath.getName
    n.substring(0, n.length - 4)
  }
  private val fieldIdx = required.fieldNames.zipWithIndex.toMap
  private val wantPayload = fieldIdx.contains(payloadExt)
  private val wantTxt = fieldIdx.contains("txt")
  private val wantJson = fieldIdx.contains("json")

  private var currentKey: String = null
  private var parts: mutable.Map[String, Array[Byte]] = mutable.Map.empty
  private var row: InternalRow = null
  private var done = false

  private def emit(): InternalRow = {
    val values = required.fieldNames.map {
      case "shard" => UTF8String.fromString(shardName)
      case "key" => UTF8String.fromString(currentKey)
      case "txt" => parts.get("txt").map(b => UTF8String.fromString(new String(b, "UTF-8"))).orNull
      case "json" => parts.get("json").map(b => UTF8String.fromString(new String(b, "UTF-8"))).orNull
      case e if e == payloadExt => parts.get(payloadExt).orNull
      case _ => null
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  private def wanted(ext: String): Boolean = ext match {
    case "txt" => wantTxt
    case "json" => wantJson
    case e => wantPayload && e == payloadExt
  }

  override def next(): Boolean = {
    if (done) return false
    row = null
    while (row == null) {
      val entry = in.getNextEntry
      if (entry == null) {
        done = true
        if (currentKey != null) { row = emit(); currentKey = null }
        return row != null
      }
      if (!entry.isDirectory) {
        val name = entry.getName
        val dot = name.lastIndexOf('.')
        val (key, ext) = if (dot < 0) (name, "") else (name.substring(0, dot), name.substring(dot + 1))
        if (currentKey != null && key != currentKey) {
          row = emit()
          parts = mutable.Map.empty
        }
        currentKey = key
        if (wanted(ext)) {
          // guard the Int cast: a >= 2 GiB tar member would overflow to a
          // negative/truncated count and yield corrupt short payloads
          if (entry.getSize > Int.MaxValue - 8)
            throw new java.io.IOException(
              s"webdataset member $name is ${entry.getSize} bytes; " +
              "members >= 2 GiB are not supported (byte[] payload limit)")
          val bytes = in.readNBytes(entry.getSize.toInt)
          parts(ext) = bytes
        }
        // skipping unread bytes is implicit: TarArchiveInputStream
        // repositions on getNextEntry
      }
    }
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
