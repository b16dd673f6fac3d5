package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.core.Png

/** Drop-in CLI + binary-format READ interop, golden vs the reference
  * binaries: datasets built by the C tools load into the engine and the
  * CLI reproduces each reference command's output.
  *
  * Four tests check graft alone and use the reference only to encode
  * their input: `Cli convert`, `Cli tileset`, `Cli render -A -d / -A -D`
  * and `Cli merge refuses mismatched encodings`. Where the reference tree
  * is missing they read input encoded by graft's own `Cli encode` with
  * the same flags (see `inputA`), and the `-A` test leaves out its
  * reference-crash check. */
class CliSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def writeCorpus(path: String, seed: Int, n: Int): Unit = {
    val r = new scala.util.Random(seed)
    def r6(v: Double) = f"$v%.6f".toDouble
    val sb = new StringBuilder
    (0 until n).foreach { _ =>
      sb ++= f"${r6(r.nextDouble() * 170 - 85)}%.6f,${r6(r.nextDouble() * 359.9 - 179.95)}%.6f :${r.nextInt(256)}\n"
    }
    Files.writeString(Paths.get(path), sb.toString)
  }

  def cmpDirs(a: String, b: String): Unit = {
    import scala.jdk.CollectionConverters._
    val fa = Files.list(Paths.get(a)).iterator().asScala.map(_.getFileName.toString).toSet
    val fb = Files.list(Paths.get(b)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(fa == fb, s"file sets differ: ${fa.diff(fb)} / ${fb.diff(fa)}")
    fa.foreach { f =>
      assert(java.util.Arrays.equals(
        Files.readAllBytes(Paths.get(a, f)), Files.readAllBytes(Paths.get(b, f))), s"file $f differs")
    }
  }

  lazy val setup: (String, String) = {
    spark // force session before Cli reuses it
    import scala.sys.process._
    writeCorpus("/tmp/cli_a.txt", 41, 1200)
    writeCorpus("/tmp/cli_b.txt", 41, 800) // prefix overlap for -u
    "rm -rf /tmp/cli_a.dm /tmp/cli_b.dm".!
    assert(RefBinaries.run("encode", Seq("-o", "/tmp/cli_a.dm", "-z16", "-m8", "/tmp/cli_a.txt"))._1 == 0)
    assert(RefBinaries.run("encode", Seq("-o", "/tmp/cli_b.dm", "-z16", "-m8", "/tmp/cli_b.txt"))._1 == 0)
    ("/tmp/cli_a.dm", "/tmp/cli_b.dm")
  }

  /** Corpus A as a .dm for the tests that check graft alone: `setup`'s
    * reference-encoded dataset where the tree is present, else graft's own
    * encoding of the same corpus, at a path `setup`'s `rm -rf` never
    * touches. Corpus B's text is written too: the merge-refusal test
    * encodes it at z14. */
  lazy val inputA: String =
    if (RefBinaries.treePresent) setup._1
    else {
      spark
      import scala.sys.process._
      writeCorpus("/tmp/cli_a.txt", 41, 1200)
      writeCorpus("/tmp/cli_b.txt", 41, 800)
      "rm -rf /tmp/cli_in_a.dm".!
      Cli.main(Array("encode", "-o", "/tmp/cli_in_a.dm", "-z16", "-m8", "/tmp/cli_a.txt"))
      "/tmp/cli_in_a.dm"
    }

  test("DatamapsSource reads reference-encoded datasets byte-faithfully") {
    val (dmA, _) = setup
    import spark.implicits._
    val fromDm = graft.sources.DatamapsSource.read(spark, dmA)
      .collect().map(f => (f.vertices.toSeq, f.meta)).sortBy(_.toString)
    val fromTxt = graft.sources.TextSource.read(spark, "/tmp/cli_a.txt", 16, 8)
      .collect().map(f => (f.vertices.toSeq, f.meta)).sortBy(_.toString)
    assert(fromDm.length == fromTxt.length && fromDm.sameElements(fromTxt))
    assert(fromDm.nonEmpty)
  }

  test("Cli encode reproduces reference encode byte-for-byte") {
    setup
    import scala.sys.process._
    "rm -rf /tmp/cli_a_ours.dm".!
    Cli.main(Array("encode", "-o", "/tmp/cli_a_ours.dm", "-z16", "-m8", "/tmp/cli_a.txt"))
    cmpDirs("/tmp/cli_a.dm", "/tmp/cli_a_ours.dm")
  }

  test("Cli merge (read .dm -> union -> write .dm) matches reference merge and merge -u") {
    val (dmA, dmB) = setup
    import scala.sys.process._
    "rm -rf /tmp/cli_m.dm /tmp/cli_m_ours.dm /tmp/cli_mu.dm /tmp/cli_mu_ours.dm".!
    assert(RefBinaries.run("merge", Seq("-o", "/tmp/cli_m.dm", dmA, dmB))._1 == 0)
    assert(RefBinaries.run("merge", Seq("-o", "/tmp/cli_mu.dm", "-u", dmA, dmB))._1 == 0)
    Cli.main(Array("merge", "-o", "/tmp/cli_m_ours.dm", dmA, dmB))
    cmpDirs("/tmp/cli_m.dm", "/tmp/cli_m_ours.dm")
    Cli.main(Array("merge", "-o", "/tmp/cli_mu_ours.dm", "-u", dmA, dmB))
    cmpDirs("/tmp/cli_mu.dm", "/tmp/cli_mu_ours.dm")
  }

  test("Cli enumerate -v row set matches reference") {
    val (dmA, _) = setup
    val (rc, out) = RefBinaries.run("enumerate", Seq("-z6", "-v", dmA))
    assert(rc == 0)
    val ref = new String(out).linesIterator.filter(_.nonEmpty)
      .map(_.trim.split("\\s+").drop(1).mkString(" ")).toSet // drop fname
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf) { Cli.main(Array("enumerate", "-z6", "-v", dmA)) }
    val ours = new String(buf.toByteArray).linesIterator.filter(_.nonEmpty)
      .map(_.trim.split("\\s+").drop(1).mkString(" ")).toSet
    assert(ours == ref, s"diff: extra=${ours.diff(ref).take(3)} missing=${ref.diff(ours).take(3)}")
    assert(ours.nonEmpty)
  }

  test("Cli enumerate -a / -D streamed dumps byte-match the reference") {
    val (dmA, _) = setup
    val (rcA, refA) = RefBinaries.run("enumerate", Seq("-a", dmA)); assert(rcA == 0)
    val bufA = new java.io.ByteArrayOutputStream()
    Console.withOut(bufA) { Cli.main(Array("enumerate", "-a", dmA)) }
    assert(new String(refA) == new String(bufA.toByteArray), "-a dump differs")
    val (rcD, refD) = RefBinaries.run("enumerate", Seq("-D", dmA)); assert(rcD == 0)
    val bufD = new java.io.ByteArrayOutputStream()
    Console.withOut(bufD) { Cli.main(Array("enumerate", "-D", dmA)) }
    assert(new String(refD) == new String(bufD.toByteArray), "-D dump differs")
  }

  test("Cli convert: .dm -> sorted parquet snapshot with prunable range scans") {
    val dmA = inputA
    import scala.sys.process._
    "rm -rf /tmp/cli_conv".!
    Cli.main(Array("convert", "-o", "/tmp/cli_conv", dmA))
    val snap = spark.read.parquet("/tmp/cli_conv")
    val nDm = graft.sources.DatamapsSource.read(spark, dmA).count()
    assert(snap.count() == nDm && nDm > 0)
    // a tile range scan over the snapshot equals the feature filter
    val f = graft.sources.DatamapsSource.read(spark, dmA).head()
    val (z, x, y) = (6, graft.core.Cell.tileX(f.cell, 6), graft.core.Cell.tileY(f.cell, 6))
    val scanned = graft.query.TileOps.tileRangeScan(snap, z, x, y).count()
    val lo = graft.core.Cell.tileRangeLo(z, x, y); val hi = graft.core.Cell.tileRangeHi(z, x, y)
    val expected = graft.sources.DatamapsSource.read(spark, dmA)
      .filter(ff => ff.cell >= lo && ff.cell <= hi).count()
    assert(scanned == expected && scanned > 0)
  }

  test("Cli tileset: one-job pyramid build writes z/x/y.png + metadata") {
    val dmA = inputA
    import scala.sys.process._
    "rm -rf /tmp/cli_tiles".!
    Cli.main(Array("tileset", "-o", "/tmp/cli_tiles", "-z", "3..5", dmA))
    val root = new java.io.File("/tmp/cli_tiles")
    val zs = root.listFiles().filter(_.isDirectory).map(_.getName.toInt).sorted
    assert(zs.toSeq == Seq(3, 4, 5), s"zoom dirs: ${zs.toSeq}")
    val meta = java.nio.file.Files.readString(java.nio.file.Paths.get("/tmp/cli_tiles/metadata.json"))
    assert(meta.contains("\"minzoom\": 3") && meta.contains("\"maxzoom\": 5"))
    val png = new java.io.File(root, "4").listFiles().head.listFiles().head
    val (rgba, w, h) = Png.decode(java.nio.file.Files.readAllBytes(png.toPath))
    assert(w == 256 && h == 256 && rgba.length == w * h * 4)
  }

  test("Cli render -d / -D tile dumps byte-match the reference") {
    val (dmA, _) = setup
    val f = graft.sources.DatamapsSource.read(spark, dmA).head()
    val x = graft.core.Cell.tileX(f.cell, 4)
    val y = graft.core.Cell.tileY(f.cell, 4)
    for (flag <- Seq("-d", "-D")) {
      val (rc, ref) = RefBinaries.run("render", Seq(flag, dmA, "4", x.toString, y.toString))
      assert(rc == 0)
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf) { Cli.main(Array("render", flag, dmA, "4", x.toString, y.toString)) }
      assert(new String(ref) == new String(buf.toByteArray), s"render $flag dump differs")
      assert(ref.nonEmpty)
    }
  }

  test("Cli render -A -d / -A -D bbox dumps (reference segfaults here)") {
    // The reference CRASHES on -A + dump: render.c:866-880 leaves gc NULL
    // when dump != 0 but still sets the clip rectangle on gc per tile,
    // and that setter (graphics.c:519-524) dereferences gc unconditionally. So
    // there is no reference output to golden against; instead we check
    // our -A dump equals the concatenation of our own single-tile dumps
    // (each byte-exact vs the reference, see the test above) in the
    // reference's intended x-major, y-inner, file-inner order.
    val dmA = inputA
    // getopt (and our parse) would eat a leading-minus coordinate as a
    // flag, so pick a feature deep in the positive quadrant
    val f = graft.sources.DatamapsSource.read(spark, dmA).collect().find { f =>
      val lon = graft.core.Mercator.tileToLon(graft.core.Cell.decodeX(f.cell), 32)
      val lat = graft.core.Mercator.tileToLat(graft.core.Cell.decodeY(f.cell), 32)
      lon > 20 && lon < 160 && lat > 20 && lat < 70
    }.get
    val z = 5
    val cx = graft.core.Cell.decodeX(f.cell); val cy = graft.core.Cell.decodeY(f.cell)
    // a bbox spanning ~2x2 tiles around the feature
    val lat1 = graft.core.Mercator.tileToLat(cy, 32) - 4.0
    val lat2 = graft.core.Mercator.tileToLat(cy, 32) + 4.0
    val lon1 = graft.core.Mercator.tileToLon(cx, 32) - 6.0
    val lon2 = graft.core.Mercator.tileToLon(cx, 32) + 6.0
    val bbox = Seq(f"$lat1%.6f", f"$lon1%.6f", f"$lat2%.6f", f"$lon2%.6f")
    // document the reference bug this path fixes (a check of the
    // reference itself, so only where its tree is present)
    if (RefBinaries.treePresent) {
      val (refRc, _) = RefBinaries.run("render", Seq("-d", "-A", dmA, z.toString) ++ bbox)
      assert(refRc != 0, "reference no longer crashes on -A dump; golden-compare instead")
    }

    def run(args: Seq[String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf) { Cli.main(("render" +: args).toArray) }
      new String(buf.toByteArray)
    }
    // tile cover exactly as render.c:830-856 derives it
    val wxs = Seq(graft.core.Mercator.lonToX32(lon1), graft.core.Mercator.lonToX32(lon2)).sorted
    val wys = Seq(graft.core.Mercator.latToY32(lat1), graft.core.Mercator.latToY32(lat2)).sorted
    val (x1, x2) = ((wxs(0) >> (32 - z)).toInt, (wxs(1) >> (32 - z)).toInt)
    val (y1, y2) = ((wys(0) >> (32 - z)).toInt, (wys(1) >> (32 - z)).toInt)
    val tiles = for (x <- x1 to x2; y <- y1 to y2) yield (x, y)
    assert(tiles.size >= 4, s"bbox should span multiple tiles, got $tiles")

    val aDump = run(Seq("-d", "-A", dmA, z.toString) ++ bbox)
    val perTile = tiles.map { case (x, y) => run(Seq("-d", dmA, z.toString, x.toString, y.toString)) }.mkString
    assert(aDump == perTile, "-A -d differs from concatenated single-tile dumps")
    assert(aDump.nonEmpty)

    def features(fc: String): Seq[String] =
      fc.linesIterator.filter(_.startsWith("{ \"type\": \"Feature\"")).map(_.stripSuffix(",")).toSeq
    val aGeo = run(Seq("-D", "-A", dmA, z.toString) ++ bbox)
    val perTileGeo = tiles.flatMap { case (x, y) => features(run(Seq("-D", dmA, z.toString, x.toString, y.toString))) }
    assert(aGeo.startsWith("{\n\"type\": \"FeatureCollection\",") && aGeo.endsWith("]\n}\n"))
    assert(features(aGeo) == perTileGeo, "-A -D features differ from concatenated single-tile dumps")
  }

  test("Cli render repeated -f overlays every dataset (reference parity)") {
    val (dmA, dmB) = setup
    val f = graft.sources.DatamapsSource.read(spark, dmA).head()
    val x = graft.core.Cell.tileX(f.cell, 3)
    val y = graft.core.Cell.tileY(f.cell, 3)
    // corpus B is a prefix of A, so dropping -f b would change the tile;
    // render a twice via -f to make a drop unmistakable
    val args = Seq("-f", dmB, "-f", dmA, dmA, "3", x.toString, y.toString)
    val (rc, refPng) = RefBinaries.run("render", args)
    assert(rc == 0)
    val buf = new java.io.ByteArrayOutputStream()
    val oldOut = System.out
    System.setOut(new java.io.PrintStream(buf))
    try Cli.main(("render" +: args).toArray)
    finally System.setOut(oldOut)
    val (refRgba, _, _) = Png.decode(refPng)
    val (ourRgba, w, h) = Png.decode(buf.toByteArray)
    assert(w == 256 && h == 256)
    val psnr = Png.psnr(refRgba, ourRgba)
    assert(psnr >= 40.0, s"psnr=$psnr")
  }

  test("Cli merge refuses mismatched encodings like the reference") {
    val dmA = inputA
    import scala.sys.process._
    "rm -rf /tmp/cli_z14.dm /tmp/cli_mm.dm".!
    if (RefBinaries.treePresent)
      assert(RefBinaries.run("encode", Seq("-o", "/tmp/cli_z14.dm", "-z14", "-m8", "/tmp/cli_b.txt"))._1 == 0)
    else Cli.main(Array("encode", "-o", "/tmp/cli_z14.dm", "-z14", "-m8", "/tmp/cli_b.txt"))
    val e = intercept[IllegalArgumentException] {
      Cli.main(Array("merge", "-o", "/tmp/cli_mm.dm", dmA, "/tmp/cli_z14.dm"))
    }
    assert(e.getMessage.contains("mismatched encoding"))
  }

  test("Cli render tile PNG matches reference (PSNR >= 40)") {
    val (dmA, _) = setup
    // find a populated z5 tile from the corpus
    val f = graft.sources.DatamapsSource.read(spark, dmA).head()
    val x = graft.core.Cell.tileX(f.cell, 5)
    val y = graft.core.Cell.tileY(f.cell, 5)
    val (rc, refPng) = RefBinaries.run("render", Seq(dmA, "5", x.toString, y.toString))
    assert(rc == 0)
    val buf = new java.io.ByteArrayOutputStream()
    val oldOut = System.out
    System.setOut(new java.io.PrintStream(buf))
    try Cli.main(Array("render", dmA, "5", x.toString, y.toString))
    finally System.setOut(oldOut)
    val (refRgba, _, _) = Png.decode(refPng)
    val (ourRgba, w, h) = Png.decode(buf.toByteArray)
    assert(w == 256 && h == 256)
    val psnr = Png.psnr(refRgba, ourRgba)
    assert(psnr >= 40.0, s"psnr=$psnr")
  }
}
