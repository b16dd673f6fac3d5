package graft.core

/**
 * 64-bit Morton/Z-order cell ids over zoom-32 web-mercator world
 * coordinates — the engine's H3/S2-style cell scheme.
 *
 * Bit layout matches the reference's packed quadtree keys
 * (util.c:64-85: at each level the y bit precedes the x bit,
 * high-bit-first), so a zoom-z tile is exactly one contiguous range of
 * 2z-bit prefixes and lexicographic order on keys equals quadtree order.
 *
 * Java `Long` is signed, so the raw 64-bit Morton code (whose top bit is
 * y's bit 31, i.e. the southern hemisphere) would sort wrong. All public
 * cell ids are therefore XOR'd with Long.MinValue ("sign-flipped") so
 * natural signed ordering == unsigned Z-order. This keeps range
 * predicates (`cell BETWEEN lo AND hi`), range partitioning, and Parquet
 * min/max pruning correct with plain LongType columns.
 */
object Cell {
  /** Spread the 32 bits of v into the even bit positions of a Long. */
  def spread(v: Int): Long = {
    var x = v.toLong & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Inverse of spread: gather even bits of x into an Int. */
  def compact(v: Long): Int = {
    var x = v & 0x5555555555555555L
    x = (x | (x >>> 1)) & 0x3333333333333333L
    x = (x | (x >>> 2)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >>> 4)) & 0x00FF00FF00FF00FFL
    x = (x | (x >>> 8)) & 0x0000FFFF0000FFFFL
    x = (x | (x >>> 16)) & 0x00000000FFFFFFFFL
    x.toInt
  }

  /** Raw Morton interleave: y bit i -> bit 2i+1, x bit i -> bit 2i
    * (y-before-x at every level, matching util.c:78-81). */
  def interleave(x32: Int, y32: Int): Long =
    (spread(y32) << 1) | spread(x32)

  /** Order-comparable cell id for world coords (x32,y32). */
  def encode(x32: Int, y32: Int): Long =
    interleave(x32, y32) ^ Long.MinValue

  def encode(x32: Long, y32: Long): Long = encode(x32.toInt, y32.toInt)

  /** World x of a cell id, as unsigned in [0,2^32) widened to Long. */
  def decodeX(cell: Long): Long =
    compact(cell ^ Long.MinValue).toLong & 0xFFFFFFFFL

  def decodeY(cell: Long): Long =
    compact((cell ^ Long.MinValue) >>> 1).toLong & 0xFFFFFFFFL

  /** Keep only the top `mapbits` bits (2 per quadtree level), zeroing the
    * rest — the reference's resolution truncation (mapbits = 2*(zoom+8)).
    * Works directly on flipped ids because the mask keeps bit 63. */
  def truncate(cell: Long, mapbits: Int): Long =
    if (mapbits >= 64) cell else cell & (-1L << (64 - mapbits))

  /** Inclusive cell-id range covering tile (z, tx, ty); z in [0,32].
    * Matches zxy2bufs (util.c:88-102): start = prefix + zeros,
    * end = prefix + ones. */
  def tileRangeLo(z: Int, tx: Int, ty: Int): Long =
    if (z == 0) Long.MinValue
    else encode(tx << (32 - z), ty << (32 - z))

  def tileRangeHi(z: Int, tx: Int, ty: Int): Long =
    if (z == 0) Long.MaxValue
    else tileRangeLo(z, tx, ty) | ((1L << (64 - 2 * z)) - 1)

  /** Tile x at zoom z containing this cell (x >> (32-z), enumerate.c:58-61). */
  def tileX(cell: Long, z: Int): Int =
    if (z == 0) 0 else (decodeX(cell) >>> (32 - z)).toInt

  def tileY(cell: Long, z: Int): Int =
    if (z == 0) 0 else (decodeY(cell) >>> (32 - z)).toInt

  /** Single Long key for a (z,x,y) tile: z in the top byte-ish bits plus
    * the Morton code of the tile coords. Used as a compact groupBy key. */
  /** Packed (z, tile-Morton) grouping key: 6 bits of zoom + 58 Morton
    * bits => 2*29 tile bits. z > 29 CANNOT be represented (its Morton
    * code needs > 58 bits and the silent mask would collide tiles half
    * a world apart, merging their canvases); callers render deeper
    * zooms per-tile (Cli single-tile path), never through grouped
    * pyramids. */
  def tileKey(z: Int, tx: Int, ty: Int): Long = {
    require(z <= 29, s"tileKey cannot pack z=$z (> 29): 2*$z Morton bits exceed the 58-bit field")
    (z.toLong << 58) | ((spread(ty) << 1 | spread(tx)) & ((1L << 58) - 1))
  }

  def tileKeyZ(key: Long): Int = (key >>> 58).toInt
  def tileKeyX(key: Long): Int = compact(key & 0x0155555555555555L)
  def tileKeyY(key: Long): Int = compact((key >>> 1) & 0x0155555555555555L)

  /**
   * Cover an inclusive world-coordinate bbox with at most ~maxRanges
   * contiguous cell-id ranges (quadtree decomposition). Turns bbox
   * predicates into BETWEEN range unions that Parquet min/max statistics
   * can prune — the Z-order equivalent of an R-tree window query.
   * The union of ranges is a superset of the bbox (callers re-filter
   * exactly); ranges are sorted and disjoint.
   */
  def coverRanges(xmin: Long, xmax: Long, ymin: Long, ymax: Long,
                  maxRanges: Int = 32): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // budget-limited DFS over quadtree nodes (z, tx, ty)
    def node(z: Int, tx: Long, ty: Long, budget: Int): Int = {
      val span = if (z == 0) 4294967296L else 1L << (32 - z)
      val nx0 = tx * span; val nx1 = nx0 + span - 1
      val ny0 = ty * span; val ny1 = ny0 + span - 1
      if (nx1 < xmin || nx0 > xmax || ny1 < ymin || ny0 > ymax) return budget
      if (nx0 >= xmin && nx1 <= xmax && ny0 >= ymin && ny1 <= ymax) {
        out += ((tileRangeLo(z, tx.toInt, ty.toInt), tileRangeHi(z, tx.toInt, ty.toInt)))
        return budget
      }
      if (budget <= 4 || z == 32) {
        // out of budget: emit the whole node (superset)
        out += ((tileRangeLo(z, tx.toInt, ty.toInt), tileRangeHi(z, tx.toInt, ty.toInt)))
        return budget
      }
      var b = budget - 4
      // children in Z order: (y,x) bit order matches the cell layout
      b = node(z + 1, tx * 2, ty * 2, b)
      b = node(z + 1, tx * 2 + 1, ty * 2, b)
      b = node(z + 1, tx * 2, ty * 2 + 1, b)
      b = node(z + 1, tx * 2 + 1, ty * 2 + 1, b)
      b
    }
    node(0, 0, 0, maxRanges * 4)
    coalesceRanges(out.toSeq)
  }

  /** Inclusive (lo, hi) cell ranges sorted and fused wherever they
    * overlap or touch: the result is sorted, disjoint and non-adjacent,
    * and covers exactly the input's cells. */
  def coalesceRanges(ranges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    ranges.sorted.foreach { case (lo, hi) =>
      // adjacent-or-overlapping; the MaxValue guard keeps `+ 1` from
      // wrapping when a range ends at the top of the cell space
      if (merged.nonEmpty &&
          (merged.last._2 == Long.MaxValue || lo <= merged.last._2 + 1))
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, hi))
      else merged += ((lo, hi))
    }
    merged.toSeq
  }

  /** Ring of tiles within Chebyshev distance r of (tx,ty) at zoom z,
    * including the center; x wraps around the antimeridian, y clamps.
    * This is the kRing primitive used by overzoom brush spill
    * (render.c:947-967) and kNN expansion. */
  def kRing(z: Int, tx: Int, ty: Int, r: Int): Seq[(Int, Int)] = {
    val n = 1L << z
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var dy = -r
    while (dy <= r) {
      val y = ty + dy
      if (y >= 0 && y < n) {
        var dx = -r
        while (dx <= r) {
          val x = (((tx + dx).toLong % n + n) % n).toInt
          out += ((x, y))
          dx += 1
        }
      }
      dy += 1
    }
    out.distinct.toSeq
  }
}
