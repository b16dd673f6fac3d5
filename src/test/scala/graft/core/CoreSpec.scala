package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests over seeded random samples (the offline cache has
  * no scalatest<->scalacheck bridge, so deterministic seeded loops). */
class CoreSpec extends AnyFunSuite {
  private val N = 2000
  private def forAllSamples(f: scala.util.Random => Unit): Unit = {
    val r = new scala.util.Random(42)
    var i = 0
    while (i < N) { f(r); i += 1 }
  }

  test("spread/compact are inverse") {
    forAllSamples { r =>
      val v = r.nextInt()
      assert(Cell.compact(Cell.spread(v)) == v)
    }
  }

  test("interleave matches bit-by-bit reference semantics (util.c:64-85)") {
    forAllSamples { r =>
      val x = r.nextInt(); val y = r.nextInt()
      var expected = 0L
      var i = 31
      while (i >= 0) {
        val xb = ((x >>> i) & 1).toLong
        val yb = ((y >>> i) & 1).toLong
        expected = (expected << 2) | (yb << 1) | xb
        i -= 1
      }
      assert(Cell.interleave(x, y) == expected)
    }
  }

  test("encode/decode roundtrip") {
    forAllSamples { r =>
      val x = r.nextInt(); val y = r.nextInt()
      val c = Cell.encode(x, y)
      assert(Cell.decodeX(c) == (x.toLong & 0xFFFFFFFFL))
      assert(Cell.decodeY(c) == (y.toLong & 0xFFFFFFFFL))
    }
  }

  test("signed cell order equals unsigned Z-order (memcmp order)") {
    forAllSamples { r =>
      val x1 = r.nextInt(); val y1 = r.nextInt()
      val x2 = r.nextInt(); val y2 = r.nextInt()
      val c1 = Cell.encode(x1, y1)
      val c2 = Cell.encode(x2, y2)
      val b1 = BitPack.pack(Array(x1), Array(y1), 0, 0, 64, 0, 0)
      val b2 = BitPack.pack(Array(x2), Array(y2), 0, 0, 64, 0, 0)
      assert(java.lang.Long.compare(c1, c2).sign == BitPack.compare(b1, b2).sign)
    }
  }

  test("tileRange covers exactly the tile's cells") {
    forAllSamples { r =>
      val z = 1 + r.nextInt(31)
      val x32 = r.nextInt(); val y32 = r.nextInt()
      val tx = ((x32.toLong & 0xFFFFFFFFL) >>> (32 - z)).toInt
      val ty = ((y32.toLong & 0xFFFFFFFFL) >>> (32 - z)).toInt
      val c = Cell.encode(x32, y32)
      val lo = Cell.tileRangeLo(z, tx, ty)
      val hi = Cell.tileRangeHi(z, tx, ty)
      assert(lo <= c && c <= hi)
      assert(Cell.tileX(c, z) == tx && Cell.tileY(c, z) == ty)
      val txn = if (tx + 1 < (1L << z)) tx + 1 else tx - 1
      val c2 = Cell.encode(txn << (32 - z), y32)
      assert(c2 < lo || c2 > hi)
    }
  }

  test("tileKey roundtrip") {
    forAllSamples { r =>
      val z = r.nextInt(29)
      val n = if (z == 0) 1 else (1 << z)
      val x = r.nextInt(n); val y = r.nextInt(n)
      val k = Cell.tileKey(z, x, y)
      assert(Cell.tileKeyZ(k) == z && Cell.tileKeyX(k) == x && Cell.tileKeyY(k) == y)
    }
  }

  test("mercator projection is in range and round-trips") {
    forAllSamples { r =>
      val lat = r.nextDouble() * 170.1022 - 85.0511
      val lon = r.nextDouble() * 359.998 - 179.999
      val x = Mercator.lonToX32(lon)
      val y = Mercator.latToY32(lat)
      assert(x >= 0 && x < 4294967296L)
      assert(y >= 0 && y <= 4294967296L)
      val lat2 = Mercator.tileToLat(y, 32)
      val lon2 = Mercator.tileToLon(x, 32)
      assert(math.abs(lon2 - lon) < 1e-6)
      assert(math.abs(lat2 - lat) < 1e-6)
    }
  }

  test("clip output lies inside the rectangle; degenerate cases handled") {
    forAllSamples { r =>
      val x0 = r.nextDouble() * 20 - 10; val y0 = r.nextDouble() * 20 - 10
      val x1 = r.nextDouble() * 20 - 10; val y1 = r.nextDouble() * 20 - 10
      val res = Clip.clip(x0, y0, x1, y1, 0, 0, 1, 1)
      if (res != null) {
        assert(res.forall(v => v >= -1e-9 && v <= 1 + 1e-9))
      }
    }
    assert(Clip.clip(0.2, 0.2, 0.8, 0.8, 0, 0, 1, 1).toSeq == Seq(0.2, 0.2, 0.8, 0.8))
    assert(Clip.clip(-5, -5, -4, -4, 0, 0, 1, 1) == null)
  }

  test("bytesFor matches reference formula (util.c:160-164)") {
    assert(BitPack.bytesFor(48, 0, 1, 0) == 6)
    assert(BitPack.bytesFor(48, 8, 1, 0) == 7)
    assert(BitPack.bytesFor(48, 0, 2, 10) == (48 + 28 + 7) / 8)
  }

  test("BitPack pack/unpack roundtrip for polylines") {
    val mapbits = 48
    val metabits = 8
    val mask = -1 << (32 - mapbits / 2)
    forAllSamples { r =>
      val n = 1 + r.nextInt(6)
      val bx = r.nextInt(); val by = r.nextInt()
      val xt = Array.tabulate(n)(i => (bx + i * 3000) & mask)
      val yt = Array.tabulate(n)(i => (by + i * 5000) & mask)
      val meta = r.nextInt(256).toLong
      val common = if (n > 1) BitPack.commonLevels(xt, yt, mapbits) else 0
      val buf = BitPack.pack(xt, yt, meta, metabits, mapbits, metabits, common)
      assert(buf.length == BitPack.bytesFor(mapbits, metabits, n, common))
      val (ux, uy, um) = BitPack.unpack(buf, mapbits, metabits, common, n)
      assert(ux.toSeq == xt.toSeq)
      assert(uy.toSeq == yt.toSeq)
      assert(um == meta)
    }
  }

  test("Wu line conserves brightness for in-canvas lines") {
    val g = new Canvas(64, 64)
    Raster.wuLine(5.3, 7.2, 40.9, 30.1, g, 1.0, -1)
    val total = g.image.sum
    val dx = 40.9 - 5.3
    assert(math.abs(total - dx) < 1.5, s"total=$total dx=$dx")
  }

  test("canvas merge is elementwise add") {
    val a = new Canvas(8, 8)
    val b = new Canvas(8, 8)
    a.putPixel(1, 1, 2.0, 0.25)
    b.putPixel(1, 1, 3.0, 0.75)
    b.putPixel(2, 2, 1.0, -1)
    a.merge(b)
    assert(math.abs(a.image(9) - 5.0) < 1e-12)
    assert(math.abs(a.image(18) - 1.0) < 1e-12)
  }

  test("brush kernel is normalized to its area") {
    for (brush <- Seq(2.0, 5.0, 17.3); gaussian <- Seq(false, true)) {
      val (w, weights) = Raster.brushKernel(brush, gaussian)
      assert(w > 0)
      assert(math.abs(weights.sum / 81.0 - brush) < 1e-9)
    }
  }

  test("coverRanges: cell in bbox <=> cell in some range (superset + exactness inside)") {
    forAllSamples { r =>
      val x1 = r.nextLong(1L << 32); val x2 = r.nextLong(1L << 32)
      val y1 = r.nextLong(1L << 32); val y2 = r.nextLong(1L << 32)
      val (xmin, xmax) = (math.min(x1, x2), math.max(x1, x2))
      val (ymin, ymax) = (math.min(y1, y2), math.max(y1, y2))
      val ranges = Cell.coverRanges(xmin, xmax, ymin, ymax, 32)
      assert(ranges.nonEmpty && ranges.size <= 64)
      // disjoint + sorted
      ranges.sliding(2).foreach {
        case Seq((_, h1), (l2, _)) => assert(h1 < l2)
        case _ =>
      }
      // any point inside the bbox must be covered
      val px = xmin + (if (xmax > xmin) math.abs(r.nextLong()) % (xmax - xmin + 1) else 0)
      val py = ymin + (if (ymax > ymin) math.abs(r.nextLong()) % (ymax - ymin + 1) else 0)
      val c = Cell.encode(px, py)
      assert(ranges.exists { case (lo, hi) => c >= lo && c <= hi }, s"uncovered ($px,$py)")
    }
  }

  test("GlibcRand reproduces the host glibc rand() stream bit-for-bit") {
    // captured from gcc-compiled srand/rand on this host (glibc TYPE_3)
    val expected = Map(
      12345L -> Seq(383100999, 858300821, 357768173, 455528251, 133005921, 116285904, 591987137, 102557902),
      0L -> Seq(1804289383, 846930886, 1681692777, 1714636915, 1957747793, 424238335, 719885386, 1649760492),
      4294967295L -> Seq(254925627, 1205188300, 366127624, 1401405153, 76053476, 1604170158, 1302235366, 362229243))
    expected.foreach { case (seed, vals) =>
      val g = new GlibcRand(seed)
      vals.foreach(v => assert(g.next() == v, s"seed $seed"))
    }
  }

  test("png encode/decode roundtrip and psnr") {
    val w = 16; val h = 16
    val rgba = Array.tabulate[Byte](w * h * 4)(i => ((i * 37) & 0xFF).toByte)
    val png = Png.encode(rgba, w, h)
    val (back, w2, h2) = Png.decode(png)
    assert(w2 == w && h2 == h)
    assert(Png.psnr(rgba, back).isPosInfinity) // PNG is lossless
  }

  test("png decode rejects undecodable bytes with a message, not NPE") {
    val e = intercept[IllegalArgumentException](Png.decode(Array[Byte](1, 2, 3)))
    assert(e.getMessage.contains("not a decodable image"))
  }

  test("metaHue: closed-form wrap equals the reference loop; degenerate ramps terminate") {
    def loopRef(p: RenderParams, meta: Long): Double = {
      // the reference's literal ±1 loops (render.c:218-227), for parity checking
      var hue = ((meta.toDouble - p.colorMeta1) / (p.colorMeta2 - p.colorMeta1) *
        (p.colorHue2 - p.colorHue1) + p.colorHue1) / 360
      if (hue < -2) -1
      else { while (hue < 0) hue += 1; while (hue > 1) hue -= 1; hue }
    }
    val p = RenderParams(colorRampActive = true,
      colorMeta1 = 100, colorHue1 = 0, colorMeta2 = 200, colorHue2 = 720)
    for (meta <- Seq(0L, 50L, 100L, 150L, 200L, 250L, 300L, 1000L, 123456L)) {
      val got = p.metaHue(meta)
      val want = loopRef(p, meta)
      assert(java.lang.Double.compare(got, want) == 0, s"meta=$meta: $got vs $want")
    }
    // colorMeta1 == colorMeta2 -> hue = ±Infinity: the reference loop
    // hangs forever; we return the no-hue sentinel
    val degen = RenderParams(colorRampActive = true,
      colorMeta1 = 100, colorHue1 = 0, colorMeta2 = 100, colorHue2 = 240)
    assert(degen.metaHue(0L) == -1.0)   // -Inf < -2
    assert(degen.metaHue(200L) == -1.0) // +Inf -> 2^53 guard
    // NaN ramp (meta == meta1 == meta2) passes through like the reference
    assert(degen.metaHue(100L).isNaN)
  }
}
