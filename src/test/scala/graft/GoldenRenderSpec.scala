package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.core._
import graft.render.Render

/** Golden tests: the Spark render pipeline vs the compiled reference
  * binaries on the same corpus (north_rule: identical tile assignments
  * and join output rows; pixels PSNR >= 40 dB). */
class GoldenRenderSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val mapbits = 48 // encode zoom 16
  val metabits = 8

  /** deterministic corpus: dense cluster + global scatter (lat,lon,meta).
    * Values are pre-rounded to the 6 decimals written to the text file,
    * so both engines parse the identical doubles. */
  lazy val corpus: Seq[(Double, Double, Long)] = {
    val r = new scala.util.Random(1234)
    def r6(v: Double): Double = f"$v%.6f".toDouble
    val dense = (0 until 4000).map { _ =>
      (r6(40.6 + r.nextDouble() * 0.2), r6(-74.1 + r.nextDouble() * 0.2), r.nextInt(256).toLong)
    }
    val scatter = (0 until 4000).map { _ =>
      (r6(r.nextDouble() * 170.0 - 85.0), r6(r.nextDouble() * 359.9 - 179.95), r.nextInt(256).toLong)
    }
    dense ++ scatter
  }

  lazy val refDir: String = {
    val txt = corpus.map { case (lat, lon, m) => f"$lat%.6f,$lon%.6f :$m" }.mkString("\n") + "\n"
    Files.writeString(Paths.get("/tmp/golden_pts.txt"), txt)
    val dir = "/tmp/golden.dm"
    import scala.sys.process._
    s"rm -rf $dir".!
    RefBinaries.run("encode", Seq("-o", dir, "-z16", "-m8", "/tmp/golden_pts.txt"))
    dir
  }

  /** our cell/meta table in (cell,meta)-sorted order with global rank */
  lazy val cellRows: Seq[(Long, Long)] = corpus
    .filter { case (lat, lon, _) => Mercator.valid(lat, lon) }
    .map { case (lat, lon, m) =>
      val c = Cell.encode(Mercator.lonToX32(lon).toInt, Mercator.latToY32(lat).toInt)
      (Cell.truncate(c, mapbits), m)
    }
    .sortBy(identity)

  def pointsDf = {
    import spark.implicits._
    cellRows.zipWithIndex
      .map { case ((c, m), i) => (c, m, i.toLong) }
      .toDF("cell", "meta", "rank")
  }

  def refTile(z: Int, x: Int, y: Int, flags: Seq[String] = Nil): Array[Byte] = {
    val (rc, png) = RefBinaries.run("render", flags ++ Seq(refDir, z.toString, x.toString, y.toString))
    assert(rc == 0)
    png
  }

  def ourTile(z: Int, x: Int, y: Int, params: RenderParams = RenderParams()): Option[Array[Byte]] = {
    val tiles = Render.renderTiles(Some(pointsDf), None, z, mapbits, params).collect()
    tiles.find(t => t.x == x && t.y == y).map(_.png)
  }

  def comparePixels(z: Int, x: Int, y: Int, flags: Seq[String] = Nil,
                    params: RenderParams = RenderParams()): (Double, Int, Int) = {
    val (refRgba, _, _) = Png.decode(refTile(z, x, y, flags))
    val ours = ourTile(z, x, y, params)
    assert(ours.isDefined, s"no tile rendered at $z/$x/$y")
    val (ourRgba, _, _) = Png.decode(ours.get)
    val psnr = Png.psnr(refRgba, ourRgba)
    // support = pixels with any non-background color (bg = 0,0,0); the
    // 254/255 alpha boundary flips on 1-ulp libm differences, so alpha
    // is excluded and support tolerance is handled by callers
    def support(b: Array[Byte]) = b.grouped(4).count(px => px(0) != 0 || px(1) != 0 || px(2) != 0)
    (psnr, support(refRgba), support(ourRgba))
  }

  /** tile containing the dense cluster at zoom z */
  def denseTile(z: Int): (Int, Int) = {
    val c = Cell.encode(Mercator.lonToX32(-74.0).toInt, Mercator.latToY32(40.7).toInt)
    (Cell.tileX(c, z), Cell.tileY(c, z))
  }

  test("z13 pixel path: tile pixels match reference (PSNR >= 40, same support)") {
    val (x, y) = denseTile(13)
    val (psnr, refSup, ourSup) = comparePixels(13, x, y)
    assert(math.abs(refSup - ourSup) <= math.max(16, refSup / 500), s"support mismatch ref=$refSup ours=$ourSup")
    assert(psnr >= 40.0, s"psnr=$psnr")
  }

  test("z15 brush path (overzoom spill): pixels match reference") {
    val (x, y) = denseTile(15)
    val (psnr, refSup, ourSup) = comparePixels(15, x, y)
    assert(math.abs(refSup - ourSup) <= math.max(16, refSup / 500), s"support mismatch ref=$refSup ours=$ourSup")
    assert(psnr >= 40.0, s"psnr=$psnr")
  }

  test("z17 overzoom noise path: pixels match reference") {
    val (x, y) = denseTile(17)
    val (psnr, refSup, ourSup) = comparePixels(17, x, y)
    assert(math.abs(refSup - ourSup) <= math.max(16, refSup / 500), s"support mismatch ref=$refSup ours=$ourSup")
    assert(psnr >= 40.0, s"psnr=$psnr")
  }

  test("z10 step-sampling path: pixels match reference") {
    val (x, y) = denseTile(10)
    val (psnr, refSup, ourSup) = comparePixels(10, x, y)
    assert(math.abs(refSup - ourSup) <= math.max(16, refSup / 500), s"support mismatch ref=$refSup ours=$ourSup")
    assert(psnr >= 40.0, s"psnr=$psnr")
  }

  for ((name, flags, params) <- Seq(
    ("no antialias (-a, Bresenham)", Seq("-a"), RenderParams(antialias = false)),
    ("color ramp (-C 0:0:255:360 hue map)", Seq("-C", "0:0:255:360"),
      RenderParams(colorRampActive = true, colorMeta1 = 0, colorHue1 = 0, colorMeta2 = 255, colorHue2 = 360)),
    ("gamma 1.0 + white bg (-G 1 -w)", Seq("-G", "1", "-w"),
      RenderParams(gamma = 1.0, bg = 0xFFFFFF, invert = true)),
    ("mask mode (-m)", Seq("-m"), RenderParams(mask = true)),
    ("meta ceiling (-x l100 / maxmeta=100)", Seq("-x", "l100"), RenderParams(maxmeta = 100)),
    ("custom colors (-c 3366cc -S ffcc00 -t 128)", Seq("-c", "3366cc", "-S", "ffcc00", "-t", "128"),
      RenderParams(color = 0x3366cc, color2 = 0xffcc00, transparency = 128)),
    ("brightness model (-B 10:0.1:1.3)", Seq("-B", "10:0.1:1.3"),
      RenderParams(dotBase = 10, dotBright = 0.1, dotRamp = 1.3)),
    ("mercator compensation (-M 40)", Seq("-M", "40"), RenderParams(mercatorLat = 40)),
    ("dot-drop exponent (-e 1.5)", Seq("-e", "1.5"), RenderParams(exponent = 1.5)),
    ("meta brightness (-x b with ramp)", Seq("-x", "b", "-C", "0:0:255:360"),
      RenderParams(metabright = true, colorRampActive = true, colorMeta1 = 0, colorHue1 = 0, colorMeta2 = 255, colorHue2 = 360)),
    ("CIE uniform color (-x u with ramp)", Seq("-x", "u", "-C", "0:0:255:360"),
      RenderParams(cie = true, colorRampActive = true, colorMeta1 = 0, colorHue1 = 0, colorMeta2 = 255, colorHue2 = 360)),
    ("color cap (-x s0.5 with ramp)", Seq("-x", "s0.5", "-C", "0:0:255:360"),
      RenderParams(colorCap = 0.5, colorRampActive = true, colorMeta1 = 0, colorHue1 = 0, colorMeta2 = 255, colorHue2 = 360)),
    ("no saturate (-s)", Seq("-s"), RenderParams(saturate = false)),
    ("meta brush (-x r at z15)", Seq("-x", "r"), RenderParams(metabrush = true)),
    ("tile size 512 (-T 512)", Seq("-T", "512"), RenderParams(tilesize = 512)),
    ("custom background (-b 113355)", Seq("-b", "113355"), RenderParams(bg = 0x113355)),
    ("point size 4 (-p 4)", Seq("-p", "4"), RenderParams(pointSize = 4)),
    ("point size 0.5 (-p 0.5)", Seq("-p", "0.5"), RenderParams(pointSize = 0.5)),
    ("cloud mode (-x c5000f, glibc rand parity)", Seq("-x", "c5000f"), RenderParams(circle = 5000)),
    ("gaussian brush (-p g2)", Seq("-p", "g2"), RenderParams(pointSize = 2, gaussian = true)),
    ("gaussian brush (-p g6)", Seq("-p", "g6"), RenderParams(pointSize = 6, gaussian = true)))) {
    test(s"tone-map variant: $name matches reference") {
      val (x, y) = denseTile(14)
      val (psnr, refSup, ourSup) = comparePixels(14, x, y, flags, params)
      assert(math.abs(refSup - ourSup) <= math.max(16, refSup / 200), s"support ref=$refSup ours=$ourSup")
      assert(psnr >= 40.0, s"psnr=$psnr refSup=$refSup")
    }
  }

  test("cloud mode at z10 (step/innerstep swap + cross-record dot budget) matches reference") {
    val (x, y) = denseTile(10)
    val (psnr, refSup, ourSup) = comparePixels(10, x, y, Seq("-x", "c5000f"), RenderParams(circle = 5000))
    assert(math.abs(refSup - ourSup) <= math.max(16, refSup / 200), s"support ref=$refSup ours=$ourSup")
    assert(psnr >= 40.0, s"psnr=$psnr")
  }

  test("giant cloud (-x c, ring > 64 tiles at polar latitude) reaches far receivers") {
    // a degenerate cloud whose receiver ring exceeds the former 64-tile
    // emission cap: at lat 84.3 / z13, circle=110000f gives ~69 tiles of
    // cloud radius. The receiver 66 tiles east must still draw its dots.
    // 16-bit metas make the dot budget (todo += meta) big enough that the
    // far tile's slice of the uniform scatter is populated.
    val rnd = new scala.util.Random(77)
    def r6(v: Double): Double = f"$v%.6f".toDouble
    val pts = (0 until 30).map { _ =>
      (r6(84.30 + rnd.nextDouble() * 0.02), r6(-40.0 + rnd.nextDouble() * 0.5),
        (50000 + rnd.nextInt(15000)).toLong)
    }
    val txt = pts.map { case (lat, lon, m) => f"$lat%.6f,$lon%.6f :$m" }.mkString("\n") + "\n"
    Files.writeString(Paths.get("/tmp/polar_pts.txt"), txt)
    import scala.sys.process._
    "rm -rf /tmp/polar.dm".!
    assert(RefBinaries.run("encode", Seq("-o", "/tmp/polar.dm", "-z16", "-m16", "/tmp/polar_pts.txt"))._1 == 0)
    val params = RenderParams(circle = 110000)
    val z = 13
    val c0 = Cell.encode(Mercator.lonToX32(pts.head._2).toInt, Mercator.latToY32(pts.head._1).toInt)
    val (ptx, pty) = (Cell.tileX(c0, z), Cell.tileY(c0, z))
    val ringHere = (params.cloudSize(z, 0, pty) + 1).toInt
    assert(ringHere > 64, s"ring=$ringHere not extreme enough for the test")
    val (tx, ty) = (ptx + 66, pty)
    val (rc, refPng) = RefBinaries.run("render",
      Seq("-x", "c110000f", "/tmp/polar.dm", z.toString, tx.toString, ty.toString))
    assert(rc == 0)
    import spark.implicits._
    val cells = pts.filter { case (lat, lon, _) => Mercator.valid(lat, lon) }
      .map { case (lat, lon, m) =>
        (Cell.truncate(Cell.encode(Mercator.lonToX32(lon).toInt, Mercator.latToY32(lat).toInt), mapbits), m)
      }.sortBy(identity)
    val df = cells.zipWithIndex.map { case ((c, m), i) => (c, m, i.toLong) }.toDF("cell", "meta", "rank")
    val our = Render.renderTiles(Some(df), None, z, mapbits, params,
      requireOwn = false, only = Some((x, y) => x == tx && y == ty))
      .collect().find(t => t.x == tx && t.y == ty)
    assert(our.isDefined, "far receiver rendered no tile — ring truncated")
    val (refRgba, _, _) = Png.decode(refPng)
    val (ourRgba, _, _) = Png.decode(our.get.png)
    def support(b: Array[Byte]) = b.grouped(4).count(px => px(0) != 0 || px(1) != 0 || px(2) != 0)
    val (rs, os) = (support(refRgba), support(ourRgba))
    assert(rs > 0, "reference drew nothing at the far receiver — setup wrong")
    assert(math.abs(rs - os) <= math.max(16, rs / 200), s"support ref=$rs ours=$os")
    val psnr = Png.psnr(refRgba, ourRgba)
    assert(psnr >= 40.0, s"psnr=$psnr")
  }

  test("multi-dataset overlay (render -f): two encoded halves == union render") {
    // encode the corpus as two half datasets; reference overlays them in
    // one render (-f), we render the unioned point table — canvas
    // accumulation is commutative so only FP sum order differs (PSNR)
    val (ca, cb) = corpus.splitAt(corpus.size / 2)
    import scala.sys.process._
    for ((half, tag) <- Seq((ca, "a"), (cb, "b"))) {
      val txt = half.map { case (lat, lon, m) => f"$lat%.6f,$lon%.6f :$m" }.mkString("\n") + "\n"
      Files.writeString(Paths.get(s"/tmp/golden_half_$tag.txt"), txt)
      s"rm -rf /tmp/golden_half_$tag.dm".!
      assert(RefBinaries.run("encode",
        Seq("-o", s"/tmp/golden_half_$tag.dm", "-z16", "-m8", s"/tmp/golden_half_$tag.txt"))._1 == 0)
    }
    val (x, y) = denseTile(13)
    val (rc, refPng) = RefBinaries.run("render",
      Seq("-f", "/tmp/golden_half_b.dm", "/tmp/golden_half_a.dm", "13", x.toString, y.toString))
    assert(rc == 0)
    val (refRgba, _, _) = Png.decode(refPng)
    val ours = ourTile(13, x, y) // pointsDf IS the union of both halves
    assert(ours.isDefined)
    val (ourRgba, _, _) = Png.decode(ours.get)
    def support(b: Array[Byte]) = b.grouped(4).count(px => px(0) != 0 || px(1) != 0 || px(2) != 0)
    val (refSup, ourSup) = (support(refRgba), support(ourRgba))
    assert(math.abs(refSup - ourSup) <= math.max(16, refSup / 500), s"support ref=$refSup ours=$ourSup")
    val psnr = Png.psnr(refRgba, ourRgba)
    assert(psnr >= 40.0, s"psnr=$psnr")
  }

  test("leaflet retina (-r): tile rendered from parent zoom at 2x density") {
    val (x, y) = denseTile(14)
    val (rc, refPng) = RefBinaries.run("render", Seq("-r", refDir, "14", x.toString, y.toString))
    assert(rc == 0)
    val (refRgba, rw, rh) = Png.decode(refPng)
    assert(rw == 256 && rh == 256)
    val ours = Render.renderRetinaTiles(Some(pointsDf), None, 14, mapbits, RenderParams())
      .collect().find(t => t.x == x && t.y == y)
    assert(ours.isDefined, s"no retina tile at 14/$x/$y")
    val (ourRgba, _, _) = Png.decode(ours.get.png)
    def support(b: Array[Byte]) = b.grouped(4).count(px => px(0) != 0 || px(1) != 0 || px(2) != 0)
    val (refSup, ourSup) = (support(refRgba), support(ourRgba))
    assert(math.abs(refSup - ourSup) <= math.max(16, refSup / 200), s"support ref=$refSup ours=$ourSup")
    val psnr = Png.psnr(refRgba, ourRgba)
    assert(psnr >= 40.0, s"psnr=$psnr")
  }

  for ((name, flags, params) <- Seq(
    ("defaults", Nil, RenderParams()),
    ("colors -c 3366cc -S ffcc00", Seq("-c", "3366cc", "-S", "ffcc00"),
      RenderParams(color = 0x3366cc, color2 = 0xffcc00)),
    ("point size -p 3 white bg -w", Seq("-p", "3", "-w"),
      RenderParams(pointSize = 3, bg = 0xFFFFFF, invert = true)),
    ("brightness -B 10:0.1:1.3 -G 1 -t 128", Seq("-B", "10:0.1:1.3", "-G", "1", "-t", "128"),
      RenderParams(dotBase = 10, dotBright = 0.1, dotRamp = 1.3, gamma = 1.0, transparency = 128)))) {
    test(s"render -v stylesheet ($name) is byte-identical to reference") {
      val (rc, out) = RefBinaries.run("render", flags :+ "-v")
      assert(rc == 0)
      val ours = graft.sinks.Sinks.mapnikStylesheet(params)
      assert(new String(out) == ours,
        s"stylesheet differs; first diff at ${new String(out).zip(ours).indexWhere(t => t._1 != t._2)}")
    }
  }

  test("tileset metadata.json matches reference prep() byte format") {
    val (x, y) = denseTile(12)
    import scala.sys.process._
    "rm -rf /tmp/refmeta_out".!
    val (rc, _) = RefBinaries.run("render", Seq("-o", "/tmp/refmeta_out", refDir, "12", x.toString, y.toString))
    assert(rc == 0)
    val ref = Files.readString(Paths.get("/tmp/refmeta_out/metadata.json"))
    val ourDir = "/tmp/refmeta_ours"
    graft.sinks.Sinks.writeTilesetMetadata(ourDir, refDir, 12, 12)
    val ours = Files.readString(Paths.get(ourDir, "metadata.json"))
    // the "name" field embeds each writer's own output dir; compare the rest
    def strip(s: String) = s.linesIterator.filterNot(_.startsWith("\"name\":")).mkString("\n")
    assert(strip(ref) == strip(ours), s"metadata differs:\nREF:\n$ref\nOURS:\n$ours")
  }

  test("assemble mode (-A): stitched bbox image matches reference placement") {
    // bbox around the dense cluster, intentionally NOT tile-aligned so
    // the fractional-offset truncation path is exercised
    // "--" stops getopt from parsing the negative longitudes as flags
    val args = Seq("-A", "--", refDir, "12", "40.62", "-74.13", "40.83", "-73.87")
    val (rc, refPng) = RefBinaries.run("render", args)
    assert(rc == 0)
    val (refRgba, rw, rh) = Png.decode(refPng)
    val (ourRgba, ow, oh) = graft.sinks.Sinks.assemble(Some(pointsDf), None, 12,
      40.62, -74.13, 40.83, -73.87, mapbits, RenderParams())
    assert((ow, oh) == (rw, rh), s"dims ours=${(ow, oh)} ref=${(rw, rh)}")
    def support(b: Array[Byte]) = b.grouped(4).count(px => px(0) != 0 || px(1) != 0 || px(2) != 0)
    val (refSup, ourSup) = (support(refRgba), support(ourRgba))
    assert(math.abs(refSup - ourSup) <= math.max(32, refSup / 200), s"support ref=$refSup ours=$ourSup")
    val psnr = Png.psnr(refRgba, ourRgba)
    assert(psnr >= 40.0, s"psnr=$psnr")
  }

  test("S9 raster-text backend: draw positions match render-raster (brush path)") {
    val (x, y) = denseTile(15) // brush > 1px: exercises further + neighbor probes
    val (rc, out) = RefBinaries.run("render-raster", Seq(refDir, "15", x.toString, y.toString))
    assert(rc == 0)
    val refLines = new String(out).linesIterator.filter(_.nonEmpty).toSeq.sorted
    val ours = Render.rasterDebugDump(pointsDf, 15, x, y, mapbits, RenderParams()).sorted
    assert(refLines.size == ours.size, s"ref=${refLines.size} ours=${ours.size}")
    val diffs = refLines.zip(ours).filter { case (a, b) => a != b }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
    assert(refLines.nonEmpty)
  }

  test("S9 raster-text backend: pixel path at z13 matches render-raster") {
    val (x, y) = denseTile(13)
    val (rc, out) = RefBinaries.run("render-raster", Seq(refDir, "13", x.toString, y.toString))
    assert(rc == 0)
    val refLines = new String(out).linesIterator.filter(_.nonEmpty).toSeq.sorted
    val ours = Render.rasterDebugDump(pointsDf, 13, x, y, mapbits, RenderParams()).sorted
    assert(refLines == ours, s"ref=${refLines.size} ours=${ours.size} firstDiff=${refLines.zip(ours).find(t => t._1 != t._2)}")
  }

  test("render -d join rows: tile membership identical to reference") {
    val (x, y) = denseTile(12)
    val (rc, out) = RefBinaries.run("render", Seq("-d", refDir, "12", x.toString, y.toString))
    assert(rc == 0)
    // dump rows end with "// xxxxxxxx yyyyyyyy" hex world coords
    val refRows = new String(out).linesIterator.map { line =>
      val hex = line.split("// ")(1).trim.split(" ")
      val xs = java.lang.Long.parseLong(hex(0), 16)
      val ys = java.lang.Long.parseLong(hex(1), 16)
      val meta = line.split(" ").find(_.contains(":")).map(_.split(":")(1).toLong).getOrElse(0L)
      (xs, ys, meta)
    }.toSeq.sorted
    val lo = Cell.tileRangeLo(12, x, y)
    val hi = Cell.tileRangeHi(12, x, y)
    val ourRows = cellRows.filter { case (c, _) => c >= lo && c <= hi }
      .map { case (c, m) => (Cell.decodeX(c), Cell.decodeY(c), m) }
      .sorted
    assert(refRows.size == ourRows.size,
      s"row count ref=${refRows.size} ours=${ourRows.size}; refHead=${refRows.take(3)} ourHead=${ourRows.take(3)}")
    val diffs = refRows.zip(ourRows).filter { case (a, b) => a != b }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
    assert(refRows.nonEmpty)
  }
}
