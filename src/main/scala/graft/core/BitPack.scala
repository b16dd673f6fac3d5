package graft.core

/**
 * Codec for the reference's fixed-width packed binary record format:
 * Morton-interleaved coordinate bits (first vertex full resolution,
 * later vertices with the shared `common` quadtree levels elided),
 * followed by metadata bits. Byte-for-byte compatible with the files
 * the reference engine writes (encode.c:139-151, util.c:64-164).
 *
 * Used for golden-file tests against the compiled reference binaries;
 * the Spark engine itself stores cell ids in Parquet columns.
 */
object BitPack {
  /** Record width in bytes (util.c:160-164). */
  def bytesFor(mapbits: Int, metabits: Int, components: Int, zLookup: Int): Int = {
    val bits = mapbits + metabits + (mapbits - 2 * zLookup) * (components - 1)
    (bits + 7) / 8
  }

  /** Number of leading quadtree levels shared by all vertices
    * (encode.c:114-133). 0 for single points. */
  def commonLevels(xs: Array[Int], ys: Array[Int], mapbits: Int): Int = {
    val n = xs.length
    if (n <= 1) return 0
    var common = 0
    while (common < mapbits / 2) {
      val bit = 1 << (31 - common)
      val x0 = xs(0) & bit
      val y0 = ys(0) & bit
      var i = 1
      while (i < n) {
        if ((xs(i) & bit) != x0 || (ys(i) & bit) != y0) return common
        i += 1
      }
      common += 1
    }
    common
  }

  private def putBits2(buf: Array[Byte], off0: Int, x32: Int, y32: Int, mapbits: Int, skip: Int): Int = {
    // xy2buf (util.c:64-85): bits from x,y high-first; y bit before x bit.
    var ob = off0
    var i = 31 - skip
    val lo = 31 - mapbits / 2
    while (i > lo) {
      val xb = (x32 >>> i) & 1
      val yb = (y32 >>> i) & 1
      val shift = 7 - (ob & 7)
      buf(ob >> 3) = (buf(ob >> 3) | ((yb << shift) | (xb << (shift - 1)))).toByte
      ob += 2
      i -= 1
    }
    ob
  }

  private def putMeta(buf: Array[Byte], off0: Int, bits: Int, data: Long, max: Int): Int = {
    var ob = off0
    var i = bits - 1
    while (i >= 0 && ob < max) {
      val b = ((data >>> i) & 1).toInt
      buf(ob >> 3) = (buf(ob >> 3) | (b << (7 - (ob & 7)))).toByte
      ob += 1
      i -= 1
    }
    ob
  }

  /** Pack one feature into the reference record format. `common` must be
    * commonLevels(xs,ys,mapbits) for polylines, 0 for points. */
  def pack(xs: Array[Int], ys: Array[Int], meta: Long, metaBitsUsed: Int,
           mapbits: Int, metabits: Int, common: Int): Array[Byte] = {
    val n = xs.length
    val bytes = bytesFor(mapbits, metabits, n, common)
    val buf = new Array[Byte](bytes)
    var off = putBits2(buf, 0, xs(0), ys(0), mapbits, 0)
    var i = 1
    while (i < n) {
      off = putBits2(buf, off, xs(i), ys(i), mapbits, common)
      i += 1
    }
    putMeta(buf, off, metaBitsUsed, meta, bytes * 8)
    buf
  }

  /** Decode record -> (xs, ys, meta); inverse of pack (util.c:105-148). */
  def unpack(buf: Array[Byte], mapbits: Int, metabits: Int, skip: Int, n: Int): (Array[Int], Array[Int], Long) = {
    val xs = new Array[Int](n)
    val ys = new Array[Int](n)
    var off = 0
    var xx = 0; var yy = 0
    def bit(): Int = {
      val b = (buf(off >> 3) >> (7 - (off & 7))) & 1
      off += 1
      b
    }
    var i = 31
    while (i > 31 - skip) {
      val y0 = bit(); val x0 = bit()
      xx |= x0 << i; yy |= y0 << i
      i -= 1
    }
    var j = 0
    while (j < n) {
      var xj = xx; var yj = yy
      var i2 = 31 - skip
      while (i2 > 31 - mapbits / 2) {
        val y0 = bit(); val x0 = bit()
        xj |= x0 << i2; yj |= y0 << i2
        i2 -= 1
      }
      xs(j) = xj; ys(j) = yj
      j += 1
    }
    var meta = 0L
    var k = metabits - 1
    while (k >= 0) {
      meta |= bit().toLong << k
      k -= 1
    }
    (xs, ys, meta)
  }

  /** Unsigned lexicographic comparison over whole records (util.c:6-9). */
  def compare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    0
  }
}
