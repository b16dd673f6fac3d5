package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.core._
import graft.encode.Feature
import graft.render.Render

/** Golden tests for polyline rendering: the Spark pyramid line join +
  * Wu rasterizer vs the compiled reference `render` on the same lines. */
class GoldenLineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val mapbits = 48

  /** deterministic polylines around a city area + some long lines */
  lazy val corpus: Seq[(Seq[(Double, Double)], Long)] = {
    val r = new scala.util.Random(777)
    def r6(v: Double): Double = f"$v%.6f".toDouble
    val short = (0 until 1500).map { _ =>
      val lat = 40.6 + r.nextDouble() * 0.2
      val lon = -74.1 + r.nextDouble() * 0.2
      val n = 2 + r.nextInt(4)
      val pts = (0 until n).map { _ =>
        (r6(lat + (r.nextDouble() - .5) * 0.02), r6(lon + (r.nextDouble() - .5) * 0.02))
      }
      (pts, r.nextInt(256).toLong)
    }
    val long = (0 until 100).map { _ =>
      val lat = r.nextDouble() * 120 - 60
      val lon = r.nextDouble() * 300 - 150
      val pts = Seq(
        (r6(lat), r6(lon)),
        (r6(lat + (r.nextDouble() - .5) * 8), r6(lon + (r.nextDouble() - .5) * 8)))
      (pts, r.nextInt(256).toLong)
    }
    short ++ long
  }

  lazy val refDir: String = {
    val txt = corpus.map { case (pts, m) =>
      pts.map { case (la, lo) => f"$la%.6f,$lo%.6f" }.mkString(" ") + s" :$m"
    }.mkString("\n") + "\n"
    Files.writeString(Paths.get("/tmp/golden_lines.txt"), txt)
    val dir = "/tmp/goldenl.dm"
    import scala.sys.process._
    s"rm -rf $dir".!
    val (rc, _) = RefBinaries.run("encode", Seq("-o", dir, "-z16", "-m8", "/tmp/golden_lines.txt"))
    assert(rc == 0)
    dir
  }

  lazy val featuresDs = {
    import spark.implicits._
    val feats = corpus
      .filter(_._1.forall { case (la, lo) => Mercator.valid(la, lo) })
      .map { case (pts, m) =>
        val cells = pts.map { case (la, lo) =>
          Cell.truncate(Cell.encode(Mercator.lonToX32(lo).toInt, Mercator.latToY32(la).toInt), mapbits)
        }.toArray
        Feature(cells(0), cells, m)
      }
    spark.createDataset(feats)
  }

  def compareTile(z: Int, x: Int, y: Int, flags: Seq[String] = Nil,
                  params: RenderParams = RenderParams()): (Double, Int, Int) = {
    refDir // force encode
    val (rc, png) = RefBinaries.run("render", flags ++ Seq(refDir, z.toString, x.toString, y.toString))
    assert(rc == 0)
    val (refRgba, _, _) = Png.decode(png)
    val tiles = Render.renderTiles(None, Some(featuresDs), z, mapbits, params,
      requireOwn = false, only = Some((tx, ty) => tx == x && ty == y)).collect()
    val ours = tiles.find(t => t.x == x && t.y == y)
    // a tile no feature touches is pure background (the reference still
    // emits a PNG; our pipeline emits nothing — equivalent output)
    val ourPng = ours.map(_.png).getOrElse {
      Png.encode(ToneMap(new Canvas(params.tilesize, params.tilesize), params), params.tilesize, params.tilesize)
    }
    val (ourRgba, _, _) = Png.decode(ourPng)
    def support(b: Array[Byte]) = b.grouped(4).count(px => px(0) != 0 || px(1) != 0 || px(2) != 0)
    (Png.psnr(refRgba, ourRgba), support(refRgba), support(ourRgba))
  }

  def denseTile(z: Int): (Int, Int) = {
    val c = Cell.encode(Mercator.lonToX32(-74.0).toInt, Mercator.latToY32(40.7).toInt)
    (Cell.tileX(c, z), Cell.tileY(c, z))
  }

  for (z <- Seq(8, 12, 14, 16, 18)) {
    test(s"z$z line tile matches reference (PSNR >= 40, support)") {
      val (x, y) = denseTile(z)
      val (psnr, refSup, ourSup) = compareTile(z, x, y)
      assert(math.abs(refSup - ourSup) <= math.max(16, refSup / 200), s"support ref=$refSup ours=$ourSup")
      assert(psnr >= 40.0, s"psnr=$psnr refSup=$refSup ourSup=$ourSup")
    }
  }

  for ((name, flags, params) <- Seq(
    ("thick lines (-L 3)", Seq("-L", "3"), RenderParams(lineThick = 3)),
    ("line ramp (-l 1.3)", Seq("-l", "1.3"), RenderParams(lineRamp = 1.3)),
    ("GPS attenuation (-g)", Seq("-g"), RenderParams(gps = true)),
    ("gps params (-g -O 14:800:1.4)", Seq("-g", "-O", "14:800:1.4"),
      RenderParams(gps = true, gpsBase = 14, gpsDist = 800, gpsRamp = 1.4)))) {
    test(s"line param variant: $name matches reference") {
      val (x, y) = denseTile(14)
      val (psnr, refSup, ourSup) = compareTile(14, x, y, flags, params)
      assert(math.abs(refSup - ourSup) <= math.max(16, refSup / 200), s"support ref=$refSup ours=$ourSup")
      assert(psnr >= 40.0, s"psnr=$psnr refSup=$refSup")
    }
  }

  // points from the line corpus's first vertices, unranked and ranked
  lazy val plainPts = {
    import spark.implicits._
    featuresDs.map(f => (f.cell, f.meta)).toDF("cell", "meta")
  }
  lazy val rankedPts = Render.withGlobalRank(plainPts)

  /** Independent tile-key set of a point render: a row owns tile(cell, z)
    * iff it is step-sampled at z (rank % step == 0), or, in cloud mode,
    * the receiving tile's cloud spans more than 1/16 pixel, where the
    * reference swaps step into innerstep (render.c:175-182). */
  def expectedKeys(pts: org.apache.spark.sql.DataFrame, zooms: Seq[Int],
                   p: RenderParams): Set[(Int, Int, Int)] = {
    val hasRank = pts.columns.contains("rank")
    pts.collect().toSeq.flatMap { r =>
      val cell = r.getAs[Long]("cell")
      val rank = if (hasRank) r.getAs[Long]("rank") else 0L
      zooms.flatMap { z =>
        val step = p.pointParams(z)._1
        val ty = Cell.tileY(cell, z)
        val swaps = p.circle > 0 && step > 1 && p.cloudSize(z, 0, ty) * p.tilesize > .0625
        if (rank % step == 0 || swaps) Some((z, Cell.tileX(cell, z), ty)) else None
      }
    }.toSet
  }

  // (case, points, with lines, zooms, params)
  lazy val pyramidCases = Seq(
    ("mixed points + lines, z14-16 (step 1, unranked)",
      plainPts, true, 14 to 16, RenderParams()),
    ("ranked points, z0-8 (every zoom step-sampled)",
      rankedPts, false, 0 to 8, RenderParams()),
    ("metabrush (spill ring always emitted), z10-14",
      rankedPts, false, 10 to 14, RenderParams(metabrush = true)),
    ("cloud mode (circle > 0), z9-13",
      rankedPts, false, 9 to 13, RenderParams(circle = 500)),
    ("points without a meta column, z10-15",
      rankedPts.select("cell", "rank"), false, 10 to 15, RenderParams()))

  // one pass per pyramidCases input, the mixed points + lines case first
  test("renderPyramidAll (mixed, one shuffle) is byte-identical to per-zoom renders") {
    for ((name, pts, withLines, zooms, p) <- pyramidCases) {
      val lines = if (withLines) Some(featuresDs) else None
      val onePass = Render.renderPyramidAll(Some(pts), lines, zooms, mapbits, p)
        .collect().map(t => ((t.z, t.x, t.y), t.png)).toMap
      val perZoom = zooms.map(z => Render.renderTiles(Some(pts), lines, z, mapbits, p))
        .reduce(_ union _)
        .collect().map(t => ((t.z, t.x, t.y), t.png)).toMap
      assert(onePass.nonEmpty, name)
      assert(onePass.keySet == perZoom.keySet, s"$name: tile sets differ: " +
        s"${onePass.keySet.diff(perZoom.keySet).take(3)} / ${perZoom.keySet.diff(onePass.keySet).take(3)}")
      val bad = perZoom.collect { case (k, png) if !java.util.Arrays.equals(png, onePass(k)) => k }
      assert(bad.isEmpty, s"$name: diffs at ${bad.take(5)}")
      // every line's first vertex is also a point here, so lines add no
      // tile of their own to the point rule
      val expected = expectedKeys(pts, zooms, p)
      assert(onePass.keySet == expected, s"$name: rendered vs independent tile keys: " +
        s"${onePass.keySet.diff(expected).take(3)} / ${expected.diff(onePass.keySet).take(3)}")
    }
  }

  test("an unranked point input fails at analysis on every render entry point at a step > 1 zoom") {
    val z = 10 // step 8 under the default dot base
    assert(RenderParams().pointParams(z)._1 > 1)
    val p = RenderParams()
    val renders: Seq[(String, () => Any)] = Seq(
      "renderTiles" -> (() => Render.renderTiles(Some(plainPts), None, z, mapbits, p).collect()),
      "renderPyramid" -> (() => Render.renderPyramid(plainPts, Seq(z), mapbits, p).collect()),
      "renderPyramid (z10 + step-1 z14)" -> (() => Render.renderPyramid(plainPts, Seq(z, 14), mapbits, p).collect()),
      "renderPyramidAll" -> (() => Render.renderPyramidAll(Some(plainPts), Some(featuresDs), Seq(z), mapbits, p).collect()),
      "renderPyramidSalted" -> (() => Render.renderPyramidSalted(plainPts, Seq(z), mapbits, p).collect()))
    for ((name, run) <- renders) {
      val e = intercept[org.apache.spark.sql.AnalysisException](run())
      assert(e.getMessage.contains("rank"), s"$name: ${e.getMessage}")
    }
  }

  test("cloud mode: an unranked point input fails at analysis at a step > 1 zoom too") {
    val p = RenderParams(circle = 500)
    for (run <- Seq(() => Render.renderTiles(Some(plainPts), None, 10, mapbits, p),
                    () => Render.renderPyramid(plainPts, Seq(10, 14), mapbits, p))) {
      val e = intercept[org.apache.spark.sql.AnalysisException](run().collect())
      assert(e.getMessage.contains("rank"), e.getMessage)
    }
    // a step-1 zoom needs no rank
    assert(Render.renderTiles(Some(plainPts), None, 14, mapbits, p).count() > 0)
  }

  test("line dump rows (render -d) match reference incl. clip predicate") {
    refDir
    val (x, y) = denseTile(13)
    val (rc, out) = RefBinaries.run("render", Seq("-d", refDir, "13", x.toString, y.toString))
    assert(rc == 0)
    val refRows = new String(out).linesIterator.map { line =>
      val hex = line.split("// ")(1).trim.split(" ")
      hex.grouped(2).map(p => (java.lang.Long.parseLong(p(0), 16), java.lang.Long.parseLong(p(1), 16))).toSeq
    }.toSeq.sortBy(_.toString)

    // our dump: features whose first-vertex prefix matches (pyramid rule,
    // dump mode scans all z_lookups, render.c:976 `dump ||`) and that
    // pass the tile clip test (render.c:244-262)
    val lo = 0; // dump membership: prefix condition at min(z, c)
    val z = 13
    val ourRows = featuresDs.collect().toSeq.flatMap { f =>
      val xs = f.vertices.map(Cell.decodeX)
      val ys = f.vertices.map(Cell.decodeY)
      val c0 = math.min(BitPack.commonLevels(xs.map(_.toInt), ys.map(_.toInt), mapbits), mapbits / 2)
      val m = math.min(z, c0)
      val keyOk = (m == 0) ||
        ((xs(0) >>> (32 - m)) == (x.toLong >>> (z - m)) && (ys(0) >>> (32 - m)) == (y.toLong >>> (z - m)))
      if (!keyOk) None
      else {
        val xd = xs.map(Mercator.worldToTileFracX(_, z, x))
        val yd = ys.map(Mercator.worldToTileFracY(_, z, y))
        val should = (1 until xs.length).exists { k =>
          Clip.accepts(xd(k - 1), yd(k - 1), xd(k), yd(k), 0, 0, 1, 1)
        }
        if (should) Some(xs.zip(ys).toSeq) else None
      }
    }.sortBy(_.toString)
    assert(refRows.size == ourRows.size, s"ref=${refRows.size} ours=${ourRows.size}")
    assert(refRows == ourRows)
    assert(refRows.nonEmpty)
  }
}
