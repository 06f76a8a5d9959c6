package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order- and engine-neutral digest of a query result, so a collected
  * Spark result can be compared with a golden computed from DuckDB
  * output. `graftbench/bench/digest.py` implements the same encoding;
  * both sides must change together.
  *
  *  - columns are sorted by name, rows by their UTF-8 encoding;
  *  - an integral number (any integer type, or a float/double/decimal
  *    holding an integer below 2^53) encodes as `i:<decimal>`, any
  *    other float as `f:<16 hex digits of the IEEE-754 double bits>`;
  *  - timestamps are UTC microseconds, dates epoch days, binary hex.
  *
  * The digest is the SHA-256 of the header (sorted column names)
  * followed by the sorted row encodings, one per line.
  */
object Digest {
  private val Exact = 9007199254740992.0 // 2^53

  def number(d: Double): String =
    if (d.isNaN) "f:nan"
    else if (!d.isInfinite && d == math.rint(d) && math.abs(d) < Exact) "i:" + d.toLong
    else "f:" + f"${java.lang.Double.doubleToLongBits(d)}%016x"

  def cell(v: Any): String = v match {
    case null => "n"
    case b: Boolean => if (b) "b:1" else "b:0"
    case x: Byte => "i:" + x
    case x: Short => "i:" + x
    case x: Int => "i:" + x
    case x: Long => "i:" + x
    case x: java.math.BigInteger => "i:" + x
    case x: Float => number(x.toDouble)
    case x: Double => number(x)
    case x: java.math.BigDecimal => number(x.doubleValue)
    case x: BigDecimal => number(x.toDouble)
    case s: String => "s:" + s
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      "t:" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case i: java.time.Instant => "t:" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case l: java.time.LocalDateTime =>
      "t:" + (l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000)
    case d: java.sql.Date => "d:" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d:" + d.toEpochDay
    case a: Array[Byte] => "x:" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => "?:" + other.toString
  }

  /** Canonical encodings of the rows (unsorted) and the sorted header. */
  def encode(schema: StructType, rows: Array[Row]): (String, Array[String]) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val header = order.map(schema.fieldNames(_)).mkString("\u0001")
    (header, rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")))
  }

  def digest(header: String, encodedRows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes(UTF_8))
    val bytes = encodedRows.map(_.getBytes(UTF_8)).sortWith { (a, b) =>
      java.util.Arrays.compareUnsigned(a, b) < 0
    }
    bytes.foreach { b => md.update('\n'.toByte); md.update(b) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** (digest, row count, total encoded bytes) of a collected result. */
  def of(schema: StructType, rows: Array[Row]): (String, Long, Long) = {
    val (header, enc) = encode(schema, rows)
    (digest(header, enc.toSeq), rows.length.toLong, enc.map(_.getBytes(UTF_8).length.toLong).sum)
  }
}
