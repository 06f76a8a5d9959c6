package graft

import java.awt.image.BufferedImage

import graft.config.DownloadConfig
import graft.operators.{Blurrer, ExifExtractor, Resizer}

/** Size-contract matrix ported from the reference's resizer oracle
  * (`tests/fixtures.py:116-151` via `tests/test_resizer.py:33-65`):
  * for each (mode × only_if_bigger) × the 7 corpus dimensions, the
  * output dimensions must satisfy the mode's contract.
  */
class ResizerSpec extends SparkSpec {

  private val sizes = Seq(
    (123, 456), (208, 495), (321, 421), (389, 535), (416, 264), (456, 123), (524, 316))

  private def makeJpg(w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    g.setColor(java.awt.Color.ORANGE); g.fillRect(0, 0, w, h); g.dispose()
    Resizer.encode(img, "jpg", 95)
  }

  private def dims(bytes: Array[Byte]): (Int, Int) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    (img.getWidth, img.getHeight)
  }

  for (mode <- Seq("no", "border", "keep_ratio", "keep_ratio_largest", "center_crop");
       onlyIfBigger <- Seq(false, true)) {
    test(s"size contract: mode=$mode onlyIfBigger=$onlyIfBigger") {
      val ts = 256
      val cfg = DownloadConfig(resizeMode = mode, imageSize = ts,
        resizeOnlyIfBigger = onlyIfBigger)
      for ((w, h) <- sizes) {
        val r = Resizer.resizeBytes(makeJpg(w, h), cfg)
        assert(r.error.isEmpty, s"unexpected error for ${w}x$h: ${r.error}")
        assert(r.originalWidth.contains(w) && r.originalHeight.contains(h))
        val (ow, oh) = (r.width.get, r.height.get)
        val (dw, dh) = dims(r.payload)
        assert((dw, dh) == (ow, oh), "reported dims match actual payload dims")
        mode match {
          case "no" => assert((ow, oh) == (w, h))
          case "border" =>
            if (onlyIfBigger && math.max(w, h) <= ts) assert((ow, oh) == (w, h))
            else assert((ow, oh) == (ts, ts))
          case "keep_ratio" =>
            if (onlyIfBigger && math.min(w, h) <= ts) assert((ow, oh) == (w, h))
            else {
              assert(math.min(ow, oh) == ts)
              val ar = w.toDouble / h; val oar = ow.toDouble / oh
              assert(math.abs(ar - oar) / ar < 0.02, "aspect ratio preserved")
            }
          case "keep_ratio_largest" =>
            if (onlyIfBigger && math.max(w, h) <= ts) assert((ow, oh) == (w, h))
            else assert(math.max(ow, oh) == ts)
          case "center_crop" =>
            if (onlyIfBigger && math.min(w, h) <= ts) assert((ow, oh) == (w, h))
            else assert((ow, oh) == (ts, ts))
        }
      }
    }
  }

  test("interpolation knobs: every reference name accepted for both directions (main.py:80-81)") {
    // a textured source so different kernels produce different pixels
    def textured(w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if ((x / 3 + y / 3) % 2 == 0) 0xFFFFFF else 0x000000)
      Resizer.encode(img, "png", 95)
    }
    val bytes = textured(100, 80)
    for (name <- DownloadConfig.ValidInterpolations) {
      val up = Resizer.resizeBytes(bytes, DownloadConfig(resizeMode = "keep_ratio",
        imageSize = 160, encodeFormat = "png", upscaleInterpolation = name).validate())
      assert(up.error.isEmpty && (up.width.get, up.height.get) == (200, 160), s"up=$name")
      val down = Resizer.resizeBytes(bytes, DownloadConfig(resizeMode = "keep_ratio",
        imageSize = 40, encodeFormat = "png", downscaleInterpolation = name).validate())
      assert(down.error.isEmpty && (down.width.get, down.height.get) == (50, 40), s"down=$name")
    }
    // case-insensitive like cv2's lookup (resizer.py:63)
    assert(DownloadConfig(upscaleInterpolation = "LANCZOS4").validate()
      .upscaleInterpolation == "LANCZOS4")
    // invalid names rejected at validate() with the reference's message
    val e = intercept[IllegalArgumentException](
      DownloadConfig(downscaleInterpolation = "hamming").validate())
    assert(e.getMessage.contains("Invalid option"))
  }

  test("interpolation knobs: the hint is actually applied (nearest != cubic pixels)") {
    def textured(w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if ((x / 3 + y / 3) % 2 == 0) 0xFFFFFF else 0x000000)
      Resizer.encode(img, "png", 95)
    }
    val bytes = textured(100, 80)
    def pngAt(up: String): Array[Byte] =
      Resizer.resizeBytes(bytes, DownloadConfig(resizeMode = "keep_ratio",
        imageSize = 160, encodeFormat = "png", upscaleInterpolation = up)).payload
    // png is deterministic: different kernels must yield different bytes
    assert(!java.util.Arrays.equals(pngAt("nearest"), pngAt("cubic")),
      "nearest vs cubic upscale produced identical pixels — hint not applied")
    // and the aliases map to the SAME kernel → identical bytes
    assert(java.util.Arrays.equals(pngAt("lanczos"), pngAt("bicubic")),
      "lanczos alias maps to the bicubic kernel")
  }

  test("F3/F4/F5 filters tag with original dims") {
    val bytes = makeJpg(100, 300)
    val small = Resizer.resizeBytes(bytes, DownloadConfig(minImageSize = 150))
    assert(small.error.contains("image too small") && small.originalWidth.contains(100))
    val area = Resizer.resizeBytes(bytes, DownloadConfig(maxImageArea = 10000))
    assert(area.error.contains("image area too large"))
    val ar = Resizer.resizeBytes(bytes, DownloadConfig(maxAspectRatio = 2.0))
    assert(ar.error.contains("aspect ratio too large"))
  }

  test("T9 passthrough and T8 skip_reencode") {
    val bytes = makeJpg(300, 200)
    val pass = Resizer.resizeBytes(bytes, DownloadConfig(disableAllReencoding = true))
    assert(pass.payload eq bytes)
    val skip = Resizer.resizeBytes(bytes,
      DownloadConfig(resizeMode = "no", skipReencode = true, encodeFormat = "jpg"))
    assert(skip.payload eq bytes, "unchanged jpg with skipReencode returns original bytes")
  }

  test("corrupt payload tagged as decode failure") {
    val r = Resizer.resizeBytes(Array[Byte](1, 2, 3, 4), DownloadConfig())
    assert(r.error.contains("image decode failed"))
  }

  test("bbox blur changes pixels inside box, preserves outside") {
    val w = 200; val h = 100
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, if ((x / 10 + y / 10) % 2 == 0) 0xFFFFFF else 0x000000)
    g.dispose()
    val blurred = Resizer.encode(Blurrer.blurImage(img, Seq(Seq(0.1, 0.1, 0.4, 0.6))), "png", 95)
    val out = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blurred))
    // center of box is blurred (checkerboard → gray-ish mix)
    val inBox = out.getRGB(50, 30)
    val r1 = (inBox >> 16) & 0xFF
    assert(r1 > 30 && r1 < 225, s"inside-box pixel should be blurred, got $r1")
    // far corner untouched
    assert((out.getRGB(190, 90) & 0xFFFFFF) == (img.getRGB(190, 90) & 0xFFFFFF))
  }

  test("webp: VP8L encode/decode round-trips pixels exactly") {
    val rng = new scala.util.Random(7)
    // exercise all huffman paths: gradient (full codes), flat color
    // (1-symbol simple), two-tone (2-symbol), random (near-flat
    // histograms → uniform-length perturbation), 1x1 edge
    val cases = Seq[(Int, Int, (Int, Int) => Int)](
      (61, 47, (x, y) => 0xFF000000 | ((x * 4 % 256) << 16) | ((y * 5 % 256) << 8) | ((x + y) % 256)),
      (16, 16, (_, _) => 0xFF123456),
      (33, 9, (x, _) => if (x % 2 == 0) 0xFF000000 else 0xFFFFFFFF),
      (64, 64, (_, _) => 0xFF000000 | rng.nextInt(1 << 24)),
      (1, 1, (_, _) => 0xFFABCDEF))
    for (((w, h, f), ci) <- cases.zipWithIndex) {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
      val bytes = graft.operators.WebpCodec.encodeLossless(img)
      assert(Resizer.sniffFormat(bytes).contains("webp-lossless"), s"case $ci container magic")
      val back = graft.operators.WebpCodec.decodeLossless(bytes)
      assert(back.getWidth == w && back.getHeight == h, s"case $ci dims")
      for (y <- 0 until h; x <- 0 until w)
        assert(back.getRGB(x, y) == img.getRGB(x, y), s"case $ci pixel ($x,$y)")
    }
  }

  test("webp-lossless: resizeBytes matches the png pipeline pixel-for-pixel") {
    val cfgW = DownloadConfig(resizeMode = "border", imageSize = 64, encodeFormat = "webp-lossless")
    val cfgP = DownloadConfig(resizeMode = "border", imageSize = 64, encodeFormat = "png")
    val in = makeJpg(123, 45)
    val rw = Resizer.resizeBytes(in, cfgW)
    val rp = Resizer.resizeBytes(in, cfgP)
    assert(rw.error.isEmpty, rw.error.toString)
    assert(rw.width.contains(64) && rw.height.contains(64))
    assert(Resizer.sniffFormat(rw.payload).contains("webp-lossless"))
    val wImg = graft.operators.WebpCodec.decodeLossless(rw.payload)
    val pImg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rp.payload))
    for (y <- 0 until 64; x <- 0 until 64)
      assert((wImg.getRGB(x, y) & 0xFFFFFF) == (pImg.getRGB(x, y) & 0xFFFFFF), s"pixel ($x,$y)")
    // webp payloads decode back through resizeBytes (VP8L fallback path)
    val again = Resizer.resizeBytes(rw.payload, cfgP)
    assert(again.error.isEmpty && again.originalWidth.contains(64))
  }

  test("webp (lossy): resizeBytes encodes VP8 that round-trips closely to the png pipeline") {
    val cfgW = DownloadConfig(resizeMode = "border", imageSize = 64, encodeFormat = "webp")
    val cfgP = DownloadConfig(resizeMode = "border", imageSize = 64, encodeFormat = "png")
    val in = makeJpg(123, 45)
    val rw = Resizer.resizeBytes(in, cfgW)
    val rp = Resizer.resizeBytes(in, cfgP)
    assert(rw.error.isEmpty, rw.error.toString)
    assert(Resizer.sniffFormat(rw.payload).contains("webp"))
    val wImg = graft.operators.Vp8Codec.decodeLossy(rw.payload)
    val pImg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rp.payload))
    var se = 0.0
    for (y <- 0 until 64; x <- 0 until 64; s <- Seq(16, 8, 0)) {
      val d = ((wImg.getRGB(x, y) >> s) & 0xFF) - ((pImg.getRGB(x, y) >> s) & 0xFF)
      se += d * d
    }
    val psnr = 10 * math.log10(255.0 * 255.0 * 64 * 64 * 3 / se)
    // the orange/white border edge lands on an odd row, so one chroma
    // row averages the two colors — a ~±45 U error on those two pixel
    // rows is inherent 4:2:0 subsampling (any webp encoder does this),
    // which caps this particular image near 28 dB
    assert(psnr > 26, s"lossy webp at q95 should track the png pipeline closely, PSNR $psnr")
    // lossy webp payloads decode back through resizeBytes (VP8 fallback)
    val again = Resizer.resizeBytes(rw.payload, cfgP)
    assert(again.error.isEmpty && again.originalWidth.contains(64))
  }

  test("webp: 30 random images round-trip exactly (property sweep)") {
    val rng = new scala.util.Random(20260812)
    for (i <- 0 until 30) {
      val w = 1 + rng.nextInt(40)
      val h = 1 + rng.nextInt(40)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
      // mix structured and random content, with and without alpha
      val mode = i % 3
      for (y <- 0 until h; x <- 0 until w) {
        val p = mode match {
          case 0 => 0xFF000000 | rng.nextInt(1 << 24)             // opaque random
          case 1 => (rng.nextInt(256) << 24) | rng.nextInt(1 << 24) // random alpha
          case _ => 0xFF000000 | ((x * 7 % 256) << 16) | ((y * 11 % 256) << 8) | ((x ^ y) % 256)
        }
        img.setRGB(x, y, p)
      }
      val bytes = graft.operators.WebpCodec.encodeLossless(img)
      val back = graft.operators.WebpCodec.decodeLossless(bytes)
      assert(back.getWidth == w && back.getHeight == h, s"iter $i dims")
      for (y <- 0 until h; x <- 0 until w)
        assert(back.getRGB(x, y) == img.getRGB(x, y), s"iter $i (${w}x$h mode $mode) pixel ($x,$y)")
    }
  }

  test("webp: encodeLossless byte-level golden (encoder output pinned)") {
    // Regression pin: any change to bit order, canonical-code
    // assignment, or header layout shows up as a byte diff here —
    // the cross-decoder compatibility risk class the round-2 advice
    // flagged (a conventions drift would round-trip internally but
    // break real decoders; this golden at least makes any drift loud).
    val img = new BufferedImage(4, 2, BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if ((x + y) % 2 == 0) 0xFF204060 else 0xFF80A0C0)
    val got = graft.operators.WebpCodec.encodeLossless(img)
    // Hand-checkable prefix: RIFF container + VP8L header for a 4x2
    // opaque image (signature 0x2F, width-1=3 in 14 bits, height-1=1
    // in 14 bits, alpha=0, version=0).
    assert(got.take(12).toSeq ==
      ("RIFF".getBytes.toSeq ++ Seq[Byte]((got.length - 8).toByte, 0, 0, 0) ++ "WEBP".getBytes.toSeq))
    assert(got.slice(12, 16).toSeq == "VP8L".getBytes.toSeq)
    assert((got(20) & 0xFF) == 0x2F, "VP8L signature byte")
    // width-1 = 3: low 8 bits of the 14-bit field land in byte 21
    assert((got(21) & 0xFF) == 0x03, "width bits")
    // full-stream golden captured from this encoder (regression pin)
    val golden = java.util.Base64.getDecoder.decode(goldenB64)
    assert(got.toSeq == golden.toSeq,
      s"encoder bytes drifted:\n got=${java.util.Base64.getEncoder.encodeToString(got)}")
    // and the pinned bytes still decode pixel-exactly
    val back = graft.operators.WebpCodec.decodeLossless(golden)
    for (y <- 0 until 2; x <- 0 until 4)
      assert(back.getRGB(x, y) == img.getRGB(x, y))
  }
  // captured once from the current encoder; see the golden test above
  private val goldenB64: String = sys.env.getOrElse("GRAFT_WEBP_GOLDEN", GoldenWebp.b64)

  test("webp: transforms + LZ77 + cache deliver real compression (round-trip exact)") {
    def mk(f: (Int, Int) => Int): BufferedImage = {
      val im = new BufferedImage(128, 128, BufferedImage.TYPE_INT_ARGB)
      for (y <- 0 until 128; x <- 0 until 128) im.setRGB(x, y, f(x, y))
      im
    }
    val rng = new scala.util.Random(42)
    // (image, size bound, label): bounds are ~2x the measured sizes so
    // only a real regression (e.g. losing a transform) trips them
    val cases = Seq(
      (mk((x, y) => 0xFF000000 | ((x * 2) << 16) | ((x + y) << 8) | (y * 2)),
        1500, "smooth gradient — predictor transform"),
      (mk((_, _) => 0xFF3070B0), 300, "flat color — LZ77"),
      (mk((x, y) => if ((x / 4 + y / 4) % 2 == 0) 0xFF204060 else 0xFF80A0C0),
        500, "repeating checker — LZ77 + cache"))
    for ((im, bound, label) <- cases) {
      val enc = graft.operators.WebpCodec.encodeLossless(im)
      assert(enc.length < bound, s"$label: ${enc.length} >= $bound bytes")
      val back = graft.operators.WebpCodec.decodeLossless(enc)
      for (y <- 0 until 128; x <- 0 until 128)
        assert(back.getRGB(x, y) == im.getRGB(x, y), s"$label pixel ($x,$y)")
    }
    // photo-like content (gradient + noise): smaller than ImageIO PNG
    // of the same pixels, the honest apples-to-apples lossless baseline
    val photo = mk { (x, y) =>
      def ch(base: Int) = math.max(0, math.min(255, base + rng.nextInt(9) - 4))
      0xFF000000 | (ch(x * 2) << 16) | (ch(x + y) << 8) | ch(y * 2)
    }
    val encP = graft.operators.WebpCodec.encodeLossless(photo)
    val png = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(photo, "png", png)
    assert(encP.length < png.size(),
      s"photo-like webp ${encP.length} should beat PNG ${png.size()}")
    val backP = graft.operators.WebpCodec.decodeLossless(encP)
    for (y <- 0 until 128; x <- 0 until 128)
      assert(backP.getRGB(x, y) == photo.getRGB(x, y))
  }

  test("webp: truncated VP8L stream fails with a descriptive error, not AIOOBE") {
    val img = new BufferedImage(8, 8, BufferedImage.TYPE_INT_ARGB)
    val rng = new scala.util.Random(3)
    for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, 0xFF000000 | rng.nextInt(1 << 24))
    val full = graft.operators.WebpCodec.encodeLossless(img)
    val truncated = full.take(full.length - 4)
    val e = intercept[IllegalStateException] {
      graft.operators.WebpCodec.decodeLossless(truncated)
    }
    assert(e.getMessage.contains("truncated"), s"got: ${e.getMessage}")
  }

  test("webp outside the VP8L subset degrades to 'image decode failed'") {
    val junk = "RIFF".getBytes ++ Array[Byte](40, 0, 0, 0) ++ "WEBP".getBytes ++
      "VP8L".getBytes ++ Array[Byte](16, 0, 0, 0) ++ Array.fill[Byte](16)(0x55)
    val r = Resizer.resizeBytes(junk, DownloadConfig())
    assert(r.error.contains("image decode failed"), s"got ${r.error}")
  }

  test("EXIF: parses crafted APP1 segment; {} when absent") {
    assert(ExifExtractor.parseToJson(makeJpg(10, 10)) == "{}")
    // hand-build a minimal EXIF jpeg: SOI + APP1(Exif, IFD0 with Make="T")
    val tiff = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    tiff.putShort(1)                  // 1 entry
    tiff.putShort(0x010F)             // Make
    tiff.putShort(2)                  // ASCII
    tiff.putInt(2)                    // count ("T\0")
    tiff.put('T'.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    tiff.putInt(0)                    // next IFD
    val tiffBytes = java.util.Arrays.copyOf(tiff.array(), tiff.position())
    val app1Body = "Exif".getBytes("ISO-8859-1") ++ Array[Byte](0, 0) ++ tiffBytes
    val seg = Array[Byte](0xFF.toByte, 0xE1.toByte,
      (((app1Body.length + 2) >> 8) & 0xFF).toByte, ((app1Body.length + 2) & 0xFF).toByte) ++ app1Body
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte) ++ seg ++
      Array[Byte](0xFF.toByte, 0xDA.toByte, 0, 2)
    val json = ExifExtractor.parseToJson(jpeg)
    assert(json == """{"Make": "T"}""", s"got $json")
  }

  test("EXIF: GPS IFD with rational arrays (PIL GPSTAGS key parity)") {
    // TIFF layout: IFD0 {Make="T", GPSInfoIFDPointer -> GPS IFD},
    // GPS IFD {GPSLatitudeRef="N", GPSLatitude=rational[3]}
    val tiff = java.nio.ByteBuffer.allocate(128).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    tiff.putShort(2)                    // IFD0: 2 entries
    tiff.putShort(0x010F).putShort(2).putInt(2)
      .put('T'.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    tiff.putShort(0x8825.toShort).putShort(4).putInt(1).putInt(38) // GPS IFD at 38
    tiff.putInt(0)                      // next IFD
    assert(tiff.position() == 38)
    tiff.putShort(2)                    // GPS IFD: 2 entries
    tiff.putShort(0x0001).putShort(2).putInt(2)
      .put('N'.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    tiff.putShort(0x0002).putShort(5).putInt(3).putInt(68) // rationals at 68
    tiff.putInt(0)
    assert(tiff.position() == 68)
    tiff.putInt(40).putInt(1).putInt(26).putInt(1).putInt(3000).putInt(100)
    val tiffBytes = java.util.Arrays.copyOf(tiff.array(), tiff.position())
    val app1Body = "Exif".getBytes("ISO-8859-1") ++ Array[Byte](0, 0) ++ tiffBytes
    val seg = Array[Byte](0xFF.toByte, 0xE1.toByte,
      (((app1Body.length + 2) >> 8) & 0xFF).toByte, ((app1Body.length + 2) & 0xFF).toByte) ++ app1Body
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte) ++ seg ++
      Array[Byte](0xFF.toByte, 0xDA.toByte, 0, 2)
    val json = ExifExtractor.parseToJson(jpeg)
    assert(json == """{"Make": "T", "GPSLatitudeRef": "N", "GPSLatitude": "40/1,26/1,3000/100"}""",
      s"got $json")
  }

  private def jpegOf(tiff: java.nio.ByteBuffer): Array[Byte] = {
    val tiffBytes = java.util.Arrays.copyOf(tiff.array(), tiff.position())
    val app1Body = "Exif".getBytes("ISO-8859-1") ++ Array[Byte](0, 0) ++ tiffBytes
    val seg = Array[Byte](0xFF.toByte, 0xE1.toByte,
      (((app1Body.length + 2) >> 8) & 0xFF).toByte, ((app1Body.length + 2) & 0xFF).toByte) ++ app1Body
    Array[Byte](0xFF.toByte, 0xD8.toByte) ++ seg ++ Array[Byte](0xFF.toByte, 0xDA.toByte, 0, 2)
  }

  test("EXIF: Canon MakerNote parsed as a bare sub-IFD (Make-dispatched)") {
    // IFD0 {Make="Canon", ExifIFDPointer} -> Exif IFD {MakerNote} ->
    // bare IFD (offsets relative to the main TIFF) {OwnerName="Alice"}
    val tiff = java.nio.ByteBuffer.allocate(128).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    tiff.putShort(2)
    tiff.putShort(0x010F).putShort(2).putInt(6).putInt(38)           // Make -> 38
    tiff.putShort(0x8769.toShort).putShort(4).putInt(1).putInt(44)   // Exif IFD -> 44
    tiff.putInt(0)
    assert(tiff.position() == 38)
    tiff.put("Canon".getBytes("ISO-8859-1")).put(0.toByte)           // 38..43
    tiff.putShort(1)                                                 // Exif IFD @44
    tiff.putShort(0x927C.toShort).putShort(7).putInt(24).putInt(62)  // MakerNote -> 62
    tiff.putInt(0)
    assert(tiff.position() == 62)
    tiff.putShort(1)                                                 // maker IFD @62
    tiff.putShort(0x0009).putShort(2).putInt(6).putInt(80)           // OwnerName -> 80
    tiff.putInt(0)
    assert(tiff.position() == 80)
    tiff.put("Alice".getBytes("ISO-8859-1")).put(0.toByte)
    val json = ExifExtractor.parseToJson(jpegOf(tiff))
    assert(json == """{"Make": "Canon", "MakerNote.OwnerName": "Alice"}""", s"got $json")
  }

  test("EXIF: Nikon type-3 MakerNote parsed via its embedded TIFF header") {
    // Exif IFD {MakerNote = "Nikon\0" + version + SELF-CONTAINED TIFF
    // whose IFD offsets are relative to the embedded header}
    val tiff = java.nio.ByteBuffer.allocate(128).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    tiff.putShort(1)
    tiff.putShort(0x8769.toShort).putShort(4).putInt(1).putInt(26)   // Exif IFD -> 26
    tiff.putInt(0)
    assert(tiff.position() == 26)
    tiff.putShort(1)
    tiff.putShort(0x927C.toShort).putShort(7).putInt(36).putInt(44)  // MakerNote -> 44
    tiff.putInt(0)
    assert(tiff.position() == 44)
    tiff.put("Nikon".getBytes("ISO-8859-1")).put(0.toByte)
    tiff.put(2.toByte).put(16.toByte).put(0.toByte).put(0.toByte)    // version 2.10
    assert(tiff.position() == 54)
    tiff.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)      // embedded TIFF
    tiff.putShort(1)
    tiff.putShort(0x0002).putShort(3).putInt(2).putShort(0).putShort(400) // ISO shorts inline
    tiff.putInt(0)
    assert(tiff.position() == 80)
    val json = ExifExtractor.parseToJson(jpegOf(tiff))
    assert(json == """{"MakerNote.ISO": "0,400"}""", s"got $json")
  }

  test("EXIF: unrecognized MakerNote keeps the byte-dump fallback") {
    val tiff = java.nio.ByteBuffer.allocate(96).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    tiff.putShort(1)
    tiff.putShort(0x8769.toShort).putShort(4).putInt(1).putInt(26)
    tiff.putInt(0)
    assert(tiff.position() == 26)
    tiff.putShort(1)
    tiff.putShort(0x927C.toShort).putShort(7).putInt(3).putInt(0)
    // 3 bytes fit inline at the value slot: overwrite them
    tiff.position(tiff.position() - 4)
    tiff.put(9.toByte).put(8.toByte).put(7.toByte).put(0.toByte)
    tiff.putInt(0)
    val json = ExifExtractor.parseToJson(jpegOf(tiff))
    assert(json == """{"MakerNote": "9,8,7"}""", s"got $json")
  }
}
