package graft.operators

import java.awt.image.BufferedImage

/** Bounding-box gaussian blur (T10) — reference `blurrer.py:20-92`.
  *
  * Semantics mirrored: bboxes are normalized `[x0, y0, x1, y1]`
  * (blurrer.py:9-15); each box is dilated by 10% of its diagonal;
  * blur σ = 0.1 × the max dilated-box diagonal; blurred pixels are
  * composited back only inside the (dilated) boxes. Pixel-exact parity
  * with OpenCV's GaussianBlur is not a goal (different border modes /
  * kernel truncation); the contract is "pixels inside boxes changed,
  * pixels outside untouched", which the spec tests assert.
  *
  * Deterministic pure kernel — [[Resizer]] calls [[blurImage]] on the
  * task thread, on the image it already decoded.
  */
object Blurrer {

  /** Separable gaussian blur over the whole image. */
  private def gaussianBlur(img: BufferedImage, sigma: Double): BufferedImage = {
    val radius = math.max(1, math.ceil(3 * sigma).toInt)
    val kernel = Array.tabulate(2 * radius + 1) { i =>
      val x = i - radius
      math.exp(-(x * x) / (2 * sigma * sigma))
    }
    val ksum = kernel.sum
    val w = img.getWidth; val h = img.getHeight
    val src = img.getRGB(0, 0, w, h, null, 0, w)
    val tmp = new Array[Int](src.length)
    val dst = new Array[Int](src.length)
    // horizontal pass
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var r = 0.0; var g = 0.0; var b = 0.0
        var k = -radius
        while (k <= radius) {
          val xx = math.min(w - 1, math.max(0, x + k))
          val p = src(y * w + xx); val kw = kernel(k + radius)
          r += ((p >> 16) & 0xFF) * kw; g += ((p >> 8) & 0xFF) * kw; b += (p & 0xFF) * kw
          k += 1
        }
        tmp(y * w + x) = (((r / ksum).round.toInt & 0xFF) << 16) |
                         (((g / ksum).round.toInt & 0xFF) << 8) |
                         ((b / ksum).round.toInt & 0xFF) | 0xFF000000
        x += 1
      }
      y += 1
    }
    // vertical pass
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var r = 0.0; var g = 0.0; var b = 0.0
        var k = -radius
        while (k <= radius) {
          val yy = math.min(h - 1, math.max(0, y + k))
          val p = tmp(yy * w + x); val kw = kernel(k + radius)
          r += ((p >> 16) & 0xFF) * kw; g += ((p >> 8) & 0xFF) * kw; b += (p & 0xFF) * kw
          k += 1
        }
        dst(y * w + x) = (((r / ksum).round.toInt & 0xFF) << 16) |
                         (((g / ksum).round.toInt & 0xFF) << 8) |
                         ((b / ksum).round.toInt & 0xFF) | 0xFF000000
        x += 1
      }
      y += 1
    }
    val out = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    out.setRGB(0, 0, w, h, dst, 0, w)
    out
  }

  /** Blur the regions of a DECODED image covered by normalized bboxes
    * — called inside the resize kernel so the image is decoded exactly
    * once and no intermediate lossy generation is produced.
    */
  def blurImage(img: BufferedImage, bboxes: Seq[Seq[Double]]): BufferedImage = {
    if (img == null || bboxes == null || bboxes.isEmpty) return img
    // NO catch-and-return-original here: blur is a REDACTION step —
    // swallowing a failure (malformed bbox, allocation error) would
    // silently ship the UNREDACTED image as a success row. A thrown
    // error propagates to resizeBytes' NonFatal handler, which tags
    // the row failed and withholds the payload.
    val w = img.getWidth; val h = img.getHeight
    // Dilate each box by 10% of its diagonal (blurrer.py:34-44).
    val dilated = bboxes.map { b =>
      val (x0, y0, x1, y1) = (b(0) * w, b(1) * h, b(2) * w, b(3) * h)
      val diag = math.hypot(x1 - x0, y1 - y0)
      val d = 0.1 * diag
      (math.max(0, (x0 - d).toInt), math.max(0, (y0 - d).toInt),
       math.min(w - 1, (x1 + d).toInt), math.min(h - 1, (y1 + d).toInt), diag + 2 * d)
    }
    val sigma = math.max(1.0, 0.1 * dilated.map(_._5).max)
    val blurred = gaussianBlur(img, sigma)
    val out = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    val g = out.createGraphics(); g.drawImage(img, 0, 0, null); g.dispose()
    dilated.foreach { case (x0, y0, x1, y1, _) =>
      var y = y0
      while (y <= y1) {
        var x = x0
        while (x <= x1) { out.setRGB(x, y, blurred.getRGB(x, y)); x += 1 }
        y += 1
      }
    }
    out
  }
}
