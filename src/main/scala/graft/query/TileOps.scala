package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cell

/**
 * Relational tile queries over a point table with integer world-coord
 * columns `x32`,`y32` (and/or a `cell` column): the reference's
 * enumerate/bbox/sibling operators (enumerate.c:54-162) re-expressed as
 * Catalyst-friendly DataFrame plans — no UDFs, everything stays in
 * whole-stage codegen and pushes down to Parquet.
 */
object TileOps {
  /** Per-tile rollup over zoom levels [minZ, maxZ]: count + exact
    * integer centroid sums (enumerate.c:137-140). TWO-LEVEL: the corpus
    * aggregates ONCE at the finest zoom (count + coord sums per maxZ
    * tile), then the zoom hierarchy rolls up from that aggregate —
    * coarser tiles are exact sums of their maxZ descendants (integer
    * addition is associative; tx@z = tx@maxZ >> (maxZ - z)). The former
    * single-level form exploded every input row maxZ-minZ+1 times
    * before the partial aggregate — (zooms)x the Generate rows and
    * hash-probe work per pass for identical output. The zoom explode
    * now runs over the tile-count-sized aggregate instead. */
  def enumerateRollup(points: DataFrame, minZ: Int, maxZ: Int): DataFrame = {
    require(minZ <= maxZ, s"enumerateRollup needs minZ <= maxZ (got $minZ > $maxZ)")
    points
      .select(col("x32"), col("y32"))
      .groupBy(
        expr(s"x32 >> (32 - $maxZ)").as("btx"),
        expr(s"y32 >> (32 - $maxZ)").as("bty"))
      .agg(
        count(lit(1)).as("bcnt"),
        // DECIMAL(38) accumulation: a z=0 tile sums EVERY row's 32-bit
        // coord — at 10^12 rows that is ~2^71, past BIGINT, and Spark
        // 4's default ANSI mode would kill the job mid-aggregation
        // (the oracle sums in HUGEINT and casts the same way)
        sum(col("x32").cast("decimal(38,0)")).as("bxsum"),
        sum(col("y32").cast("decimal(38,0)")).as("bysum"))
      .withColumn("z", explode(sequence(lit(minZ), lit(maxZ))))
      .select(
        col("z"),
        expr(s"btx >> ($maxZ - z)").as("tx"),
        expr(s"bty >> ($maxZ - z)").as("ty"),
        col("bcnt"), col("bxsum"), col("bysum"))
      .groupBy("z", "tx", "ty")
      .agg(
        sum(col("bcnt")).as("cnt"),
        sum(col("bxsum")).as("xsum"),
        sum(col("bysum")).as("ysum"))
  }

  /** Feature-level rollup incl. the clipped segment-length stat of
    * `enumerate -d` (enumerate.c:142-159): features keyed by FIRST
    * vertex (the reference's documented limitation), per-zoom length
    * normalized by tile span; segments longer than 6400 world units
    * (~200ft) are excluded as GPS jumps. */
  def enumerateRollupFeatures(features: org.apache.spark.sql.Dataset[graft.core.Feature],
                              minZ: Int, maxZ: Int): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    features.flatMap { f =>
      val x0 = Cell.decodeX(f.vertices(0))
      val y0 = Cell.decodeY(f.vertices(0))
      // short-segment lengths, kept separate so the per-zoom total
      // replays the reference's EXACT FP sequence — enumerate.c:155
      // accumulates sqrt(...)/max PER SEGMENT; summing raw lengths and
      // dividing once differs by ulps and can flip a %f 6-decimal digit
      val segs = new Array[Double](math.max(f.vertices.length - 1, 0))
      var k = 1
      while (k < f.vertices.length) {
        val dx = (Cell.decodeX(f.vertices(k)) - Cell.decodeX(f.vertices(k - 1))).toDouble
        val dy = (Cell.decodeY(f.vertices(k)) - Cell.decodeY(f.vertices(k - 1))).toDouble
        segs(k - 1) = math.sqrt(dx * dx + dy * dy)
        k += 1
      }
      (minZ to maxZ).iterator.map { z =>
        val max = (1L << (32 - z)).toDouble
        var dist = 0.0
        var i = 0
        while (i < segs.length) {
          if (segs(i) < 6400) dist += segs(i) / max
          i += 1
        }
        (z, (x0 >>> (32 - z)).toInt, (y0 >>> (32 - z)).toInt, dist)
      }
    }.toDF("z", "tx", "ty", "len")
      .groupBy("z", "tx", "ty")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"),
        org.apache.spark.sql.functions.sum("len").as("len"))
  }

  /** Z-order tile range scan: cell BETWEEN lo AND hi — the engine's core
    * spatial filter (reference: binary search over the sorted file,
    * util.c:12-31 + render.c:111-119). Pushes to Parquet min/max. */
  def tileRangeScan(points: DataFrame, z: Int, tx: Int, ty: Int): DataFrame =
    points.filter(col("cell").between(Cell.tileRangeLo(z, tx, ty), Cell.tileRangeHi(z, tx, ty)))

  /** THE cell-range predicate: `cell` lies in one of the inclusive
    * (lo, hi) ranges. Ranges are sorted and coalesced first
    * (Cell.coalesceRanges), the BETWEENs combine as a BALANCED OR tree
    * (a left-deep reduce over thousands of ranges overflows the
    * analyzer stack), and no ranges is lit(false). Each BETWEEN pushes
    * to Parquet min/max pruning on the cell-sorted tables. */
  def cellInRanges(ranges: Seq[(Long, Long)]): Column = {
    def orTree(rs: IndexedSeq[(Long, Long)]): Column =
      if (rs.length == 1) col("cell").between(rs.head._1, rs.head._2)
      else orTree(rs.take(rs.length / 2)) || orTree(rs.drop(rs.length / 2))
    val merged = Cell.coalesceRanges(ranges).toIndexedSeq
    if (merged.isEmpty) lit(false) else orTree(merged)
  }

  /** bbox filter in world coordinates (enumerate -b, enumerate.c:127-135;
    * bounds inclusive both ends). */
  def bboxFilter(points: DataFrame, left: Long, top: Long, right: Long, bottom: Long): DataFrame =
    points.filter(col("x32") >= left && col("x32") <= right &&
      col("y32") >= top && col("y32") <= bottom)

  /** bbox filter via Z-order range decomposition on the `cell` column:
    * the BETWEEN union pushes to Parquet min/max pruning on the sorted
    * table (the x/y predicates alone cannot prune Z-ordered files);
    * the exact bbox re-filter runs on the surviving rows. */
  def bboxRangeScan(points: DataFrame, left: Long, top: Long, right: Long, bottom: Long,
                    maxRanges: Int = 32): DataFrame = {
    // degenerate/inverted bbox (e.g. left > right): no covering ranges
    // -> empty result, matching bboxFilter on the same input
    points.filter(cellInRanges(Cell.coverRanges(left, right, top, bottom, maxRanges)))
      .filter(col("x32") >= left && col("x32") <= right &&
        col("y32") >= top && col("y32") <= bottom)
  }

  /** Sibling completion (enumerate -s, enumerate.c:86-118): for every
    * non-empty tile at zoom z, emit the empty tiles of its parent quad. */
  def missingSiblings(points: DataFrame, z: Int): DataFrame = {
    require(z >= 1,
      s"missingSiblings needs z >= 1 (got $z): the single z=0 world tile has no parent quad, " +
        "and the unconditional quad expansion would emit out-of-range phantom tiles")
    val present = points
      .select(expr(s"x32 >> (32 - $z)").as("tx"), expr(s"y32 >> (32 - $z)").as("ty"))
      .distinct()
    val quad = present
      .select((col("tx") / 2).cast("long").as("px"), (col("ty") / 2).cast("long").as("py"))
      .distinct()
    val all = quad
      .withColumn("qx", explode(sequence(lit(0), lit(1))))
      .withColumn("qy", explode(sequence(lit(0), lit(1))))
      .select((col("px") * 2 + col("qx")).as("tx"), (col("py") * 2 + col("qy")).as("ty"))
    all.join(present, Seq("tx", "ty"), "left_anti")
  }
}
