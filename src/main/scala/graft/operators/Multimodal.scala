package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Resizer

/** Multimodal column operators over image payloads: the payload is an
  * opaque `binary` column and the operator adds a typed metadata
  * struct, decoded for real with ImageIO (format sniffed by the
  * [[Resizer]]). img2dataset handles images only, so this is the
  * whole multimodal tier; `mm_image_meta` reads it.
  */
object Multimodal {

  /** image metadata struct derived by REAL decode. */
  case class ImageMeta(width: Option[Int], height: Option[Int], format: Option[String],
                       n_bytes: Option[Int], decode_error: Option[String])

  /** Decode image metadata with ImageIO; pure function → typed UDF. */
  def withImageMeta(df: DataFrame, binaryCol: String, out: String = "image_meta"): DataFrame = {
    val f = udf((bytes: Array[Byte]) => {
      if (bytes == null) ImageMeta(None, None, None, None, Some("no payload"))
      else try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null)
          ImageMeta(None, None, Resizer.sniffFormat(bytes), Some(bytes.length), Some("decode failed"))
        else
          ImageMeta(Some(img.getWidth), Some(img.getHeight),
            Resizer.sniffFormat(bytes), Some(bytes.length), None)
      } catch {
        case e: Throwable => ImageMeta(None, None, None, Some(bytes.length), Some(e.getMessage))
      }
    })
    df.withColumn(out, f(col(binaryCol)))
  }
}
