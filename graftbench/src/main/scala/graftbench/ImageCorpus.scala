package graftbench

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicLong
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import javax.imageio.stream.MemoryCacheImageOutputStream

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Seeded image corpus and URL list for the pipeline workloads.
  *
  * Each URL names one corpus image and one planted outcome:
  *  - `ok`: the image is served (expected `success`);
  *  - `missing`: 404 (expected `failed_to_download`);
  *  - `robots`: served with a disallowing X-Robots-Tag (expected
  *    `failed_to_download`);
  *  - `corrupt`: 200 with bytes no decoder accepts (expected
  *    `failed_to_resize`).
  */
final case class UrlSpec(path: String, caption: String, kind: String, image: Int)

final class ImageCorpus(val images: Array[Array[Byte]], val urls: Array[UrlSpec],
                        val corrupt: Array[Byte]) {
  def body(u: UrlSpec): Array[Byte] = if (u.kind == "corrupt") corrupt else images(u.image)

  def expectedStatus(u: UrlSpec): String = u.kind match {
    case "ok" => "success"
    case "corrupt" => "failed_to_resize"
    case _ => "failed_to_download"
  }
}

object ImageCorpus {
  /** Sizes: `minSide`..`maxSide` per side. `shares` = (missing,
    * robots, corrupt) fractions of the URL list. */
  def generate(seed: Long, nImages: Int, nUrls: Int, minSide: Int, maxSide: Int,
               noise: Int, quality: Float, shares: (Double, Double, Double)): ImageCorpus = {
    val rnd = new scala.util.Random(seed)
    val images = Array.fill(nImages) {
      val w = minSide + rnd.nextInt(maxSide - minSide + 1)
      val h = minSide + rnd.nextInt(maxSide - minSide + 1)
      jpeg(render(w, h, rnd, noise), quality)
    }
    val (fMissing, fRobots, fCorrupt) = shares
    val nMissing = math.round(nUrls * fMissing).toInt
    val nRobots = math.round(nUrls * fRobots).toInt
    val nCorrupt = math.round(nUrls * fCorrupt).toInt
    val kinds = rnd.shuffle(
      Seq.fill(nMissing)("missing") ++ Seq.fill(nRobots)("robots") ++
        Seq.fill(nCorrupt)("corrupt") ++
        Seq.fill(nUrls - nMissing - nRobots - nCorrupt)("ok")).toArray
    val words = Array("red", "small", "photo", "of", "a", "cat", "dog", "tree", "city",
      "night", "blue", "river", "old", "car", "house", "with", "the", "sky")
    val urls = Array.tabulate(nUrls) { i =>
      val caption = Seq.fill(3 + rnd.nextInt(6))(words(rnd.nextInt(words.length))).mkString(" ")
      val kind = kinds(i)
      val dir = if (kind == "robots") "robots" else if (kind == "missing") "missing" else "img"
      UrlSpec(s"/$dir/$i.jpg", caption, kind, rnd.nextInt(nImages))
    }
    val corrupt = Array.fill(2048)(rnd.nextInt(256).toByte)
    corrupt(0) = 'x'.toByte // never a JPEG/PNG/GIF/BMP/WEBP magic number
    new ImageCorpus(images, urls, corrupt)
  }

  /** Gradient with blocks and per-pixel noise; `noise` sets the
    * amplitude, which is what drives JPEG size at a given area. */
  private def render(w: Int, h: Int, rnd: scala.util.Random, noise: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val (r0, g0, b0) = (rnd.nextInt(200), rnd.nextInt(200), rnd.nextInt(200))
    val blocks = Seq.fill(6)((rnd.nextInt(w), rnd.nextInt(h), 1 + rnd.nextInt(w / 2 + 1),
      1 + rnd.nextInt(h / 2 + 1), rnd.nextInt(0xffffff)))
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var rgb = ((r0 + 55 * x / w) << 16) | ((g0 + 55 * y / h) << 8) | (b0 + 55 * (x + y) / (w + h))
        blocks.foreach { case (bx, by, bw, bh, c) =>
          if (x >= bx && x < bx + bw && y >= by && y < by + bh) rgb = c
        }
        if (noise > 0) {
          val n = rnd.nextInt(2 * noise + 1) - noise
          def ch(s: Int) = math.max(0, math.min(255, ((rgb >> s) & 0xff) + n)) << s
          rgb = ch(16) | ch(8) | ch(0)
        }
        row(x) = rgb
        x += 1
      }
      img.setRGB(0, y, w, 1, row, 0, w)
      y += 1
    }
    img
  }

  private def jpeg(img: BufferedImage, quality: Float): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val ios = new MemoryCacheImageOutputStream(out)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, null), param)
    ios.flush(); writer.dispose()
    out.toByteArray
  }
}

/** Loopback HTTP server for a corpus, with at most `threads` handler
  * threads. Counts requests and body bytes sent. */
final class CorpusServer(corpus: ImageCorpus, threads: Int) {
  // Without TCP_NODELAY the response headers and body leave as two
  // segments and the second waits for the client's delayed ACK, which
  // adds ~40 ms to every loopback fetch.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  val requests = new AtomicLong
  val bytesSent = new AtomicLong
  private val byPath = corpus.urls.map(u => u.path -> u).toMap
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads, r => {
    val t = new Thread(r, "graftbench-http"); t.setDaemon(true); t
  })
  server.createContext("/", (x: HttpExchange) => {
    requests.incrementAndGet()
    try {
      byPath.get(x.getRequestURI.getPath) match {
        case Some(u) if u.kind != "missing" =>
          val body = corpus.body(u)
          if (u.kind == "robots")
            x.getResponseHeaders.add("X-Robots-Tag", "noai, noimageai, noindex, noimageindex")
          x.getResponseHeaders.add("Content-Type", "image/jpeg")
          x.sendResponseHeaders(200, body.length)
          x.getResponseBody.write(body)
          bytesSent.addAndGet(body.length)
        case _ => x.sendResponseHeaders(404, -1)
      }
    } finally x.close()
  })
  server.setExecutor(pool)
  server.start()

  def url(u: UrlSpec): String = s"http://127.0.0.1:${server.getAddress.getPort}${u.path}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
