package graft

import graft.operators.{Multimodal, Resizer}

/** Multimodal column plumbing: the image metadata struct from a real
  * decode.
  */
class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  private def jpg(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    Resizer.encode(img, "jpg", 90)
  }

  test("image meta: real decode fills dims + format; junk tagged") {
    val df = Seq((1L, jpg(64, 48)), (2L, "not an image".getBytes)).toDF("id", "payload")
    val rows = Multimodal.withImageMeta(df, "payload")
      .select("id", "image_meta.*").orderBy("id").collect()
    assert(rows(0).getInt(1) == 64 && rows(0).getInt(2) == 48)
    assert(rows(0).getString(3) == "jpg" && rows(0).isNullAt(5))
    assert(rows(1).getString(5) == "decode failed")
  }
}
