package graft.core

import java.awt.color.ColorSpace
import java.awt.image.BufferedImage
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.{Adler32, CRC32, Deflater}
import javax.imageio.ImageIO

/** PNG encode/decode of RGBA pixel buffers — the engine's tile sink
  * format (reference sink: graphics.c:192-218).
  *
  * [[encode]] writes gray+alpha (colour type 4) when every pixel has
  * r = g = b, and RGBA (colour type 6) otherwise; both are lossless.
  * Its cost follows the rows that differ: a long run of identical
  * uniform rows (every pixel of the row the same, as in almost every
  * row of a sparse tile) is spliced in from cached raw-deflate blocks,
  * and only the other rows are packed and deflated. */
object Png {
  ImageIO.setUseCache(false) // no file-backed stream cache (decode path)

  private val Signature = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n')
  private val Level = 3
  // A run of identical uniform rows is spliced in from cached segments
  // only when its scanlines hold at least this many bytes: a shorter run
  // costs more as a segment boundary (a deflater reset and a block
  // header) than it costs to deflate with the rows around it.
  private val SpliceMinBytes = 2048L
  private val AdlerBase = 65521L

  /** Raw-deflate bytes of `rawLen` input bytes: non-final blocks from a
    * freshly reset deflater, ended by a full flush, so the segment is
    * byte-aligned and references nothing before it. `adler` is the
    * Adler-32 of its input. */
  private final class Segment(val bytes: Array[Byte], val adler: Int, val rawLen: Int)

  /** `rows` identical rows of one pixel, as filter-0 scanlines of
    * `width` pixels in colour type `colorType`. */
  private final case class RunKey(colorType: Int, width: Int, pixel: Int, rows: Int)

  // Per JVM, soft-bounded by the bytes it holds: past the bound it is
  // emptied and refills with the keys still in use. Segment bytes are a
  // pure function of the key, so the cache state never shows in output.
  private val runCache = new ConcurrentHashMap[RunKey, Segment]()
  private val runCacheBytes = new AtomicLong()
  private val RunCacheBytesCap = 8L << 20

  /** Growable byte array; `n` bytes are in use. */
  private final class Buf(initial: Int) {
    var a = new Array[Byte](initial)
    var n = 0
    def room(k: Int): Unit =
      if (a.length - n < k) a = java.util.Arrays.copyOf(a, math.max(2 * a.length, n + k))
    def put(b: Int): Unit = { room(1); a(n) = b.toByte; n += 1 }
    def put(src: Array[Byte]): Unit = {
      room(src.length); System.arraycopy(src, 0, a, n, src.length); n += src.length
    }
    def putInt(v: Int): Unit = { room(4); setInt(n, v); n += 4 }
    def setInt(at: Int, v: Int): Unit = {
      a(at) = (v >>> 24).toByte; a(at + 1) = (v >>> 16).toByte
      a(at + 2) = (v >>> 8).toByte; a(at + 3) = v.toByte
    }
    def putAscii(s: String): Unit = s.foreach(c => put(c.toInt))
  }

  /** Per-thread encoder state: the render reducer encodes one tile at a
    * time on each executor thread. */
  private final class State {
    val deflater = new Deflater(Level, true) // raw deflate: no zlib wrapper
    val adler = new Adler32
    val crc = new CRC32
    val out = new Buf(1 << 16)
    var rows = new Array[Byte](0)
    def rowBuf(len: Int): Array[Byte] = {
      if (rows.length < len) rows = new Array[Byte](math.max(len, 2 * rows.length))
      rows
    }
  }
  private val state = ThreadLocal.withInitial[State](() => new State)

  /** rgba: 4 bytes per pixel, row-major -> PNG bytes, colour type 4
    * when every pixel is gray, else 6; bit depth 8, filter 0 on every
    * row. Hand-rolled rather than ImageIO, whose encoder uses a
    * file-backed cache and registry locks that serialize executor
    * threads; this one is thread-safe.
    *
    * IDAT is a zlib stream assembled from byte-aligned raw-deflate
    * segments: each maximal run of identical uniform rows of at least
    * SpliceMinBytes is spliced from cached segments: in gray+alpha the
    * segments for 2^k rows along the binary decomposition of the run
    * length, in RGBA one segment for the whole run (each segment is a
    * deflate block with its own code tables, which at 4 bytes a pixel
    * cost more than the extra cache keys); each run of the other
    * rows is deflated on its own. The Adler-32 trailer is combined from
    * the segments' checksums. The output is a pure function of
    * (rgba, width, height). */
  def encode(rgba: Array[Byte], width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0 && rgba.length >= 4L * width * height,
      s"Png.encode: ${rgba.length} bytes cannot hold $width x $height RGBA pixels")
    val stride = 4 * width
    // one scan: which rows are uniform, and is every pixel gray?
    val uniform = new Array[Boolean](height)
    var gray = true
    var y = 0
    while (y < height) {
      val s = y * stride
      uniform(y) = java.util.Arrays.equals(rgba, s, s + stride - 4, rgba, s + 4, s + stride)
      if (gray) gray = isGray(rgba, s, if (uniform(y)) s + 4 else s + stride)
      y += 1
    }
    val colorType = if (gray) 4 else 6
    val line = 1 + width * (if (gray) 2 else 4)

    val t = state.get()
    val out = t.out
    out.n = 0
    out.put(Signature)
    val ihdr = out.n
    out.putInt(13)
    out.putAscii("IHDR")
    out.putInt(width)
    out.putInt(height)
    out.put(8) // bit depth
    out.put(colorType)
    out.put(0); out.put(0); out.put(0) // deflate, filter set 0, no interlace
    crcOver(t, ihdr)

    val idat = out.n
    out.putInt(0) // length, patched below
    out.putAscii("IDAT")
    out.put(0x78); out.put(0x5E) // zlib header: deflate, 32K window, level 2-5
    def runEnd(r: Int): Int = { // end of the run of rows identical to uniform row r
      var e = r + 1
      if (uniform(r)) {
        val px = pixelAt(rgba, r * stride)
        while (e < height && uniform(e) && pixelAt(rgba, e * stride) == px) e += 1
      }
      e
    }
    def spliced(r: Int, e: Int): Boolean = uniform(r) && (e - r).toLong * line >= SpliceMinBytes
    var adler = 1
    y = 0
    while (y < height) {
      var e = runEnd(y)
      if (spliced(y, e)) {
        val px = pixelAt(rgba, y * stride)
        def splice(rows: Int): Unit = {
          val seg = uniformRows(t, colorType, width, line, px, rows)
          adler = adlerCombine(adler, seg.adler, seg.rawLen)
        }
        val n = e - y
        if (gray) {
          var k = 31 - Integer.numberOfLeadingZeros(n)
          while (k >= 0) {
            if ((n >>> k & 1) != 0) splice(1 << k)
            k -= 1
          }
        } else splice(n)
      } else {
        var more = true
        while (more && e < height) {
          val f = runEnd(e)
          if (spliced(e, f)) more = false else e = f
        }
        val len = (e - y) * line
        val raw = t.rowBuf(len)
        var o = 0
        var r = y
        while (r < e) {
          raw(o) = 0 // filter: none
          if (gray) {
            var i = r * stride
            var j = o + 1
            while (j < o + line) { raw(j) = rgba(i); raw(j + 1) = rgba(i + 3); i += 4; j += 2 }
          } else System.arraycopy(rgba, r * stride, raw, o + 1, stride)
          o += line
          r += 1
        }
        deflateSegment(t, raw, len)
        adler = adlerCombine(adler, adlerOf(t, raw, len), len)
      }
      y = e
    }
    out.put(0x03); out.put(0x00) // final empty fixed-Huffman block
    out.putInt(adler)
    out.setInt(idat, out.n - idat - 8)
    crcOver(t, idat)

    val iend = out.n
    out.putInt(0)
    out.putAscii("IEND")
    crcOver(t, iend)
    java.util.Arrays.copyOf(out.a, out.n)
  }

  /** Are pixels rgba[from, until) all r = g = b? */
  private def isGray(rgba: Array[Byte], from: Int, until: Int): Boolean = {
    var i = from
    while (i < until && rgba(i) == rgba(i + 1) && rgba(i) == rgba(i + 2)) i += 4
    i >= until
  }

  private def pixelAt(rgba: Array[Byte], i: Int): Int =
    (rgba(i) & 0xFF) << 24 | (rgba(i + 1) & 0xFF) << 16 | (rgba(i + 2) & 0xFF) << 8 | (rgba(i + 3) & 0xFF)

  /** Appends the chunk CRC over out[start + 4, n): type and data. */
  private def crcOver(t: State, start: Int): Unit = {
    t.crc.reset()
    t.crc.update(t.out.a, start + 4, t.out.n - start - 4)
    t.out.putInt(t.crc.getValue.toInt)
  }

  private def adlerOf(t: State, raw: Array[Byte], len: Int): Int = {
    t.adler.reset()
    t.adler.update(raw, 0, len)
    t.adler.getValue.toInt
  }

  /** Adler-32 of A ++ B from adler(A), adler(B) and |B| (zlib's
    * adler32_combine). */
  private def adlerCombine(a1: Int, a2: Int, len2: Int): Int = {
    val rem = len2 % AdlerBase
    val lo1 = (a1 & 0xFFFF).toLong
    val lo = (lo1 + (a2 & 0xFFFF) + AdlerBase - 1) % AdlerBase
    val hi = (rem * lo1 % AdlerBase + (a1 >>> 16) + (a2 >>> 16) + AdlerBase - rem) % AdlerBase
    (hi << 16 | lo).toInt
  }

  /** Deflates raw[0, len) onto t.out as one [[Segment]]'s bytes. */
  private def deflateSegment(t: State, raw: Array[Byte], len: Int): Unit = {
    val d = t.deflater
    val out = t.out
    d.reset()
    d.setInput(raw, 0, len)
    var full = true
    while (full) { // a full output buffer means more flush output is pending
      out.room(math.max(256, len >>> 3))
      val free = out.a.length - out.n
      out.n += d.deflate(out.a, out.n, free, Deflater.FULL_FLUSH)
      full = out.a.length == out.n
    }
  }

  /** Appends the segment for `rows` uniform rows of pixel `px` onto t.out
    * and returns it: from the cache, else deflated in place and cached. */
  private def uniformRows(t: State, colorType: Int, width: Int, line: Int, px: Int, rows: Int): Segment = {
    val key = RunKey(colorType, width, px, rows)
    val hit = runCache.get(key)
    if (hit != null) { t.out.put(hit.bytes); return hit }
    val pixel =
      if (colorType == 4) Array((px >>> 24).toByte, px.toByte)
      else Array((px >>> 24).toByte, (px >>> 16).toByte, (px >>> 8).toByte, px.toByte)
    val len = line * rows
    val raw = t.rowBuf(len)
    raw(0) = 0 // filter: none
    var j = 1
    while (j < line) { System.arraycopy(pixel, 0, raw, j, pixel.length); j += pixel.length }
    var filled = line
    while (filled < len) {
      val c = math.min(filled, len - filled)
      System.arraycopy(raw, 0, raw, filled, c)
      filled += c
    }
    val start = t.out.n
    deflateSegment(t, raw, len)
    val seg = new Segment(java.util.Arrays.copyOfRange(t.out.a, start, t.out.n), adlerOf(t, raw, len), len)
    if (runCacheBytes.get() + seg.bytes.length > RunCacheBytesCap) {
      runCache.clear()
      runCacheBytes.set(0)
    }
    if (runCache.putIfAbsent(key, seg) == null) runCacheBytes.addAndGet(seg.bytes.length)
    seg
  }

  /** Empties the uniform-row segment cache; encode output never
    * depends on it. */
  private[graft] def clearRunCache(): Unit = { runCache.clear(); runCacheBytes.set(0) }

  /** PNG bytes -> (rgba, width, height). */
  def decode(png: Array[Byte]): (Array[Byte], Int, Int) = {
    val img = ImageIO.read(new java.io.ByteArrayInputStream(png))
    // ImageIO.read signals "unrecognized format" with null, not a throw
    require(img != null, s"Png.decode: not a decodable image (${png.length} bytes)")
    val w = img.getWidth
    val h = img.getHeight
    val rgba = new Array[Byte](w * h * 4)
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      argbRow(img, y, row)
      var x = 0
      while (x < w) {
        val v = row(x)
        val o = 4 * (y * w + x)
        rgba(o) = (v >> 16).toByte
        rgba(o + 1) = (v >> 8).toByte
        rgba(o + 2) = v.toByte
        rgba(o + 3) = (v >>> 24).toByte
        x += 1
      }
      y += 1
    }
    (rgba, w, h)
  }

  /** Row y of `img` as packed ARGB ints. ImageIO reads 8-bit gray and
    * gray+alpha into a LINEAR gray colour space, where getRGB would
    * brighten every sample (64 -> 137); those rows come from raster
    * band 0 (r = g = b) and band 1 (alpha, if present) instead. */
  private[graft] def argbRow(img: BufferedImage, y: Int, row: Array[Int]): Unit = {
    val w = img.getWidth
    val cm = img.getColorModel
    if (cm.getColorSpace.getType == ColorSpace.TYPE_GRAY && cm.getComponentSize(0) == 8) {
      val bands = img.getRaster.getNumBands
      val s = img.getRaster.getPixels(0, y, w, 1, null: Array[Int])
      var x = 0
      while (x < w) {
        val g = s(x * bands)
        val a = if (cm.hasAlpha) s(x * bands + 1) else 0xFF
        row(x) = a << 24 | g << 16 | g << 8 | g
        x += 1
      }
    } else img.getRGB(0, y, w, 1, row, 0, w)
  }

  /** PSNR between two RGBA buffers (dB); Double.PositiveInfinity if equal. */
  def psnr(a: Array[Byte], b: Array[Byte]): Double = {
    require(a.length == b.length, s"buffer size mismatch ${a.length} vs ${b.length}")
    var se = 0.0
    var i = 0
    while (i < a.length) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      se += d.toDouble * d
      i += 1
    }
    if (se == 0) Double.PositiveInfinity
    else 10 * math.log10(255.0 * 255.0 / (se / a.length))
  }
}
