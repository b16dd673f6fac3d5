package graft.core

import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer}
import java.awt.Transparency
import java.util.zip.{CRC32, Inflater}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Png.encode checked against an independent chunk parser and the
  * JDK's zlib: CRCs, the Adler-32 trailer, the filter-0 scanlines, the
  * colour type, and byte-identical output whatever the state of the
  * uniform-row segment cache or the encoding thread. */
class PngSpec extends AnyFunSuite {

  /** A width x height RGBA buffer built from random runs: runs of
    * uniform rows (a few shared pixels, so neighbouring runs can merge)
    * and runs of rows of random pixels. Gray buffers keep r = g = b. */
  private case class Img(rgba: Array[Byte], w: Int, h: Int) {
    override def toString = s"Img(${w}x$h)"
  }

  private val img: Gen[Img] = for {
    w <- Gen.choose(1, 300)
    h <- Gen.choose(1, 300)
    gray <- Gen.oneOf(true, false)
    seed <- Gen.choose(Long.MinValue, Long.MaxValue)
  } yield {
    val r = new scala.util.Random(seed)
    val palette = Array.fill(3)(r.nextInt())
    def pixel(v: Int, into: Array[Byte], at: Int): Unit = {
      into(at) = (v >>> 24).toByte
      into(at + 1) = (if (gray) v >>> 24 else v >>> 16).toByte
      into(at + 2) = (if (gray) v >>> 24 else v >>> 8).toByte
      into(at + 3) = v.toByte
    }
    val rgba = new Array[Byte](w * h * 4)
    var y = 0
    while (y < h) {
      val run = math.min(h - y, 1 + r.nextInt(math.max(1, if (r.nextBoolean()) h / 4 else h)))
      val uniform = r.nextInt(4) != 0
      val px = if (r.nextBoolean()) palette(r.nextInt(palette.length)) else r.nextInt()
      for (yy <- y until y + run; x <- 0 until w)
        pixel(if (uniform) px else r.nextInt(), rgba, 4 * (yy * w + x))
      y += run
    }
    Img(rgba, w, h)
  }

  /** (IHDR data, concatenated IDAT data), every chunk CRC checked. */
  private def chunks(png: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n')
    assert(png.take(8).sameElements(sig), "PNG signature")
    val in = java.nio.ByteBuffer.wrap(png)
    in.position(8)
    var ihdr: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream
    var types = Vector.empty[String]
    while (in.hasRemaining) {
      val len = in.getInt
      val start = in.position()
      val body = new Array[Byte](4 + len)
      in.get(body)
      val crc = new CRC32
      crc.update(body)
      assert(in.getInt == crc.getValue.toInt, s"chunk CRC at $start")
      val typ = new String(body, 0, 4, "US-ASCII")
      types :+= typ
      if (typ == "IHDR") ihdr = body.drop(4)
      if (typ == "IDAT") idat.write(body, 4, len)
    }
    assert(types.head == "IHDR" && types.last == "IEND" && types.count(_ == "IEND") == 1,
      s"chunk order $types")
    (ihdr, idat.toByteArray)
  }

  private def allGray(x: Img): Boolean =
    x.rgba.grouped(4).forall(p => p(0) == p(1) && p(1) == p(2))

  /** Filter-0 scanlines of x in the given colour type. */
  private def scanlines(x: Img, colorType: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    for (y <- 0 until x.h) {
      out.write(0)
      for (i <- 0 until x.w; o = 4 * (y * x.w + i))
        if (colorType == 4) { out.write(x.rgba(o)); out.write(x.rgba(o + 3)) }
        else out.write(x.rgba, o, 4)
    }
    out.toByteArray
  }

  /** Inflates a zlib stream (the Inflater checks its Adler-32) and
    * fails on trailing or missing bytes. */
  private def inflate(z: Array[Byte], expectedLen: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(z)
    val out = new Array[Byte](expectedLen + 1)
    var n = 0
    while (!inf.finished() && n < out.length) {
      val k = inf.inflate(out, n, out.length - n)
      assert(k > 0 || !inf.needsInput, "zlib stream ended early")
      n += k
    }
    assert(inf.finished() && inf.getRemaining == 0, "zlib stream not finished at its end")
    java.util.Arrays.copyOf(out, n)
  }

  private def encodeOnThread(x: Img): Array[Byte] = {
    var out: Array[Byte] = null
    val t = new Thread(() => out = Png.encode(x.rgba, x.w, x.h))
    t.start(); t.join()
    out
  }

  test("encode: CRCs, Adler-32, scanlines, colour type and cache/thread-independent bytes") {
    val prop = Prop.forAllNoShrink(img) { x =>
      Png.clearRunCache()
      val cold = Png.encode(x.rgba, x.w, x.h)
      val warm = Png.encode(x.rgba, x.w, x.h)
      val other = encodeOnThread(x)
      val (ihdr, idat) = chunks(cold)
      val hdr = java.nio.ByteBuffer.wrap(ihdr)
      val (w, h, depth, colorType) = (hdr.getInt, hdr.getInt, hdr.get, hdr.get)
      val expected = scanlines(x, colorType)
      val (back, bw, bh) = Png.decode(cold)
      Prop(w == x.w && h == x.h && depth == 8) :| s"IHDR $w x $h depth $depth" &&
        Prop(colorType == (if (allGray(x)) 4 else 6)) :| s"colour type $colorType" &&
        Prop(inflate(idat, expected.length).sameElements(expected)) :| "IDAT scanlines" &&
        Prop(bw == x.w && bh == x.h && back.sameElements(x.rgba)) :| "decode(encode(x)) != x" &&
        Prop(warm.sameElements(cold)) :| "warm cache changed the bytes" &&
        Prop(other.sameElements(cold)) :| "another thread changed the bytes"
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(150)
      .withInitialSeed(Seed(20261019L)).withWorkers(1)
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("encode: a blank tile is gray+alpha") {
    val ts = 256
    val rgba = ToneMap(new Canvas(ts, ts), RenderParams())
    val png = Png.encode(rgba, ts, ts)
    assert(png(25) == 4, s"colour type ${png(25)}")
    assert(Png.decode(png)._1.sameElements(rgba))
  }

  test("encode: an RGBA uniform run is one deflate segment, whatever its length") {
    // row 0 random, rows 1-255 one orange pixel: one packed segment and
    // one spliced segment, each ended by a full flush (00 00 FF FF)
    val ts = 256
    val rgba = new Array[Byte](4 * ts * ts)
    new scala.util.Random(7).nextBytes(rgba)
    for (i <- 4 * ts until rgba.length by 4) {
      rgba(i) = 0xFF.toByte; rgba(i + 1) = 0x80.toByte; rgba(i + 2) = 0; rgba(i + 3) = 0x60
    }
    val png = Png.encode(rgba, ts, ts)
    assert(png(25) == 6, s"colour type ${png(25)}")
    val idat = chunks(png)._2
    val flushes = idat.indices.count(i => i + 3 < idat.length &&
      idat(i) == 0 && idat(i + 1) == 0 && idat(i + 2) == 0xFF.toByte && idat(i + 3) == 0xFF.toByte)
    assert(flushes == 2, s"$flushes segments")
    assert(Png.decode(png)._1.sameElements(rgba))
  }

  test("decode: gray and gray+alpha PNGs written by ImageIO give their exact samples") {
    val w = 256; val h = 3
    for (alpha <- Seq(false, true)) {
      val cm = new ComponentColorModel(ColorSpace.getInstance(ColorSpace.CS_GRAY), alpha, false,
        if (alpha) Transparency.TRANSLUCENT else Transparency.OPAQUE, DataBuffer.TYPE_BYTE)
      val raster = cm.createCompatibleWritableRaster(w, h)
      for (y <- 0 until h; x <- 0 until w) {
        raster.setSample(x, y, 0, (x + 7 * y) & 0xFF)
        if (alpha) raster.setSample(x, y, 1, (255 - x + y) & 0xFF)
      }
      val bytes = new java.io.ByteArrayOutputStream
      assert(javax.imageio.ImageIO.write(new BufferedImage(cm, raster, false, null), "png", bytes))
      val (rgba, dw, dh) = Png.decode(bytes.toByteArray)
      assert(dw == w && dh == h)
      for (y <- 0 until h; x <- 0 until w) {
        val o = 4 * (y * w + x)
        val g = (x + 7 * y) & 0xFF
        val a = if (alpha) (255 - x + y) & 0xFF else 255
        assert(rgba.slice(o, o + 4).map(_ & 0xFF).toSeq == Seq(g, g, g, a),
          s"alpha=$alpha pixel ($x, $y)")
      }
    }
  }
}
