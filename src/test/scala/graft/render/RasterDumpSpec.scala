package graft.render

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Cell, Mercator, RenderParams}

/** The raster-text dump (`render-raster`) checked without the reference
  * binaries, on generated points in one z13 tile (default params: one
  * pixel per point, no de-gridding below z16) and its 8 neighbours. A
  * pixel splat prints its drawPixel anchor, half a pixel up-left of the
  * point; a brush prints its center; neighbour (spill) records print
  * only once an own record drew a brush. */
class RasterDumpSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val z = 13
  private val mapbits = 48
  private val ts = 256
  private val scale = 1L << (32 - z)
  private val tx = (Mercator.lonToX32(-74.0) >>> (32 - z)).toInt
  private val ty = (Mercator.latToY32(40.7) >>> (32 - z)).toInt

  /** `n` distinct cells inside tile (x, y), at the encode resolution. */
  private def cellsIn(x: Int, y: Int, n: Int, r: scala.util.Random): Seq[Long] =
    Seq.fill(n)(Cell.truncate(Cell.encode(x * scale + r.nextInt(scale.toInt),
      y * scale + r.nextInt(scale.toInt)), mapbits)).distinct

  private def neighbours(r: scala.util.Random, n: Int): Seq[Long] =
    for {
      dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0
      c <- cellsIn(tx + dx, ty + dy, n, r)
    } yield c

  private def df(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("cell", "meta")
  }

  /** A dump line in tile-pixel coordinates of (tx, ty). */
  private def pixelOf(line: String): (Double, Double) = {
    val Array(lat, lon) = line.split(",").map(_.toDouble)
    ((Mercator.lonToX32(lon) - tx * scale).toDouble / scale * ts,
      (Mercator.latToY32(lat) - ty * scale).toDouble / scale * ts)
  }

  /** Where a point's draw call is anchored: its projected position, half
    * a pixel up-left for a pixel splat (bb <= 1). */
  private def anchor(cell: Long, brush: Boolean): (Double, Double) = {
    val off = if (brush) 0.0 else .5
    (Mercator.worldToTileFracX(Cell.decodeX(cell), z, tx) * ts - off,
      Mercator.worldToTileFracY(Cell.decodeY(cell), z, ty) * ts - off)
  }

  // 6-decimal lat/lon is ~0.005 px at z13; truncation adds < 0.001 px
  private def near(a: (Double, Double), b: (Double, Double)): Boolean =
    math.abs(a._1 - b._1) < 0.05 && math.abs(a._2 - b._2) < 0.05

  /** Own records print first, in (cell, meta) order. */
  private def assertOwn(lines: Seq[String], own: Seq[(Long, Long)], brushOf: Long => Boolean): Unit = {
    own.sorted.zip(lines).foreach { case ((cell, meta), line) =>
      val (got, proj, want) = (pixelOf(line), anchor(cell, brush = true), anchor(cell, brushOf(meta)))
      assert(math.abs(got._1 - proj._1) <= 1 && math.abs(got._2 - proj._2) <= 1,
        s"cell $cell printed at $got, more than a pixel from $proj")
      assert(near(got, want), s"cell $cell meta $meta printed at $got, drawn at $want")
    }
  }

  test("rasterDebugDump: one line per point, each at its pixel-splat anchor") {
    val r = new scala.util.Random(13)
    val own = cellsIn(tx, ty, 300, r).map(c => (c, r.nextInt(256).toLong))
    val pts = own ++ neighbours(r, 30).map(c => (c, r.nextInt(256).toLong))
    val lines = Render.rasterDebugDump(df(pts), z, tx, ty, mapbits, RenderParams())
    assert(lines.size == own.size)
    assertOwn(lines, own, _ => false)
  }

  test("rasterDebugDump on a metabrush tile: spill records print only after an own brush") {
    val r = new scala.util.Random(17)
    val p = RenderParams(metabrush = true)
    val ownCells = cellsIn(tx, ty, 200, r)
    val spill = neighbours(r, 20).map(c => (c, r.nextInt(2).toLong))
    // metas 0/1: every own brush is <= 1 pixel, so nothing sets `further`
    val quiet = ownCells.map(c => (c, r.nextInt(2).toLong))
    val qLines = Render.rasterDebugDump(df(quiet ++ spill), z, tx, ty, mapbits, p)
    assert(qLines.size == quiet.size, s"${qLines.size - quiet.size} spill lines without an own brush")
    assertOwn(qLines, quiet, _ => false)
    // one own record with meta 9 draws a 9-pixel brush and sets `further`
    val loud = quiet.updated(quiet.size / 2, (quiet(quiet.size / 2)._1, 9L))
    val lLines = Render.rasterDebugDump(df(loud ++ spill), z, tx, ty, mapbits, p)
    assert(lLines.size == loud.size + spill.size)
    assertOwn(lLines.take(loud.size), loud, _ > 1)
    val want = spill.map { case (c, _) => anchor(c, brush = false) }
    val got = lLines.drop(loud.size).map(pixelOf)
    got.foreach(g => assert(want.exists(near(g, _)), s"spill line at $g matches no neighbour point"))
    assert(got.map(g => want.indexWhere(near(g, _))).distinct.size == spill.size)
  }
}
