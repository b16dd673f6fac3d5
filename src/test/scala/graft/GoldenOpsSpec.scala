package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.core._
import graft.sinks.Sinks
import graft.sources.TextSource

/** Golden tests for the remaining operators vs the reference binaries:
  * binary sink (S10), text source (S1), enumerate rollup (A3),
  * merge / merge -u (U1/U2). */
class GoldenOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val mapbits = 48

  def writeCorpus(path: String, seed: Int, n: Int, lines: Boolean): Unit = {
    val r = new scala.util.Random(seed)
    def r6(v: Double) = f"$v%.6f".toDouble
    val sb = new StringBuilder
    (0 until n).foreach { _ =>
      if (!lines || r.nextBoolean()) {
        sb ++= f"${r6(r.nextDouble() * 170 - 85)}%.6f,${r6(r.nextDouble() * 359.9 - 179.95)}%.6f :${r.nextInt(256)}\n"
      } else {
        val la = r.nextDouble() * 170 - 85
        val lo = r.nextDouble() * 359.9 - 179.95
        val pts = (0 until 2 + r.nextInt(3)).map { _ =>
          f"${r6(la + (r.nextDouble() - .5) * .02)}%.6f,${r6(lo + (r.nextDouble() - .5) * .02)}%.6f"
        }
        sb ++= pts.mkString(" ") + f" :${r.nextInt(256)}\n"
      }
    }
    Files.writeString(Paths.get(path), sb.toString)
  }

  def cmpDirs(a: String, b: String): Unit = {
    import scala.jdk.CollectionConverters._
    val fa = Files.list(Paths.get(a)).iterator().asScala.map(_.getFileName.toString).toSet
    val fb = Files.list(Paths.get(b)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(fa == fb, s"file sets differ: ${fa.diff(fb)} / ${fb.diff(fa)}")
    fa.foreach { f =>
      val ba = Files.readAllBytes(Paths.get(a, f))
      val bb = Files.readAllBytes(Paths.get(b, f))
      assert(java.util.Arrays.equals(ba, bb), s"file $f differs")
    }
  }

  test("S1+S10: text source -> binary sink reproduces reference encode byte-for-byte") {
    writeCorpus("/tmp/ops_mixed.txt", 99, 3000, lines = true)
    import scala.sys.process._
    "rm -rf /tmp/ops_ref.dm".!
    val (rc, _) = RefBinaries.run("encode", Seq("-o", "/tmp/ops_ref.dm", "-z16", "-m8", "/tmp/ops_mixed.txt"))
    assert(rc == 0)
    val feats = TextSource.read(spark, "/tmp/ops_mixed.txt", 16, 8)
    "rm -rf /tmp/ops_ours.dm".!
    Sinks.writeDatamapsBinary(feats, "/tmp/ops_ours.dm", 16, 8)
    cmpDirs("/tmp/ops_ref.dm", "/tmp/ops_ours.dm")
  }

  test("S1: adversarial token grammar matches reference encode byte-for-byte (sscanf prefix semantics)") {
    // every branch of encode.c:49-85's greedy scan: trailing junk after
    // a vertex, three-field "vertices", vertex-vs-meta precedence
    // (1,2:3 is a VERTEX), width-packed metas (4:15 -> top nibble),
    // sequential packing (4:1 4:2 -> 0x12), scan-stopping junk tokens
    // that KEEP the parsed prefix, meta-then-vertex interleaving,
    // sign/exponent/bare-dot number spellings, and an invalid-latitude
    // record both sides must drop. All meta widths sum to <= 8 (-m8):
    // spill into byte-rounding slack is a documented deviation.
    val corpus = Seq(
      "10.000000,20.000000 junk trailing",
      "1.5,2.5,9.0",
      "3.0,4.0:77",
      "5.0,6.0 4:15",
      "7.0,8.0 4:1 4:2",
      "9.0,10.0 abc:5 11.0,12.0",
      "13.0,14.0 5:",
      "15.0,16.0 :7 1.0,1.5",
      ":9",
      "86.0,1.0 1.0,1.0",
      "+0.5,-0.25 :3",
      ".5,1. :2",
      "1e-3,2e-3 :4",
      "40.0,-70.0 40.1,-70.1 40.2,-70.2 :250"
    ).mkString("", "\n", "\n")
    Files.writeString(Paths.get("/tmp/ops_adv.txt"), corpus)
    import scala.sys.process._
    "rm -rf /tmp/ops_adv_ref.dm /tmp/ops_adv_ours.dm".!
    assert(RefBinaries.run("encode",
      Seq("-o", "/tmp/ops_adv_ref.dm", "-z16", "-m8", "/tmp/ops_adv.txt"))._1 == 0)
    val feats = TextSource.read(spark, "/tmp/ops_adv.txt", 16, 8)
    Sinks.writeDatamapsBinary(feats, "/tmp/ops_adv_ours.dm", 16, 8)
    cmpDirs("/tmp/ops_adv_ref.dm", "/tmp/ops_adv_ours.dm")
    // and the parsed meta VALUES carry the packed widths
    val metas = feats.collect().map(_.meta)
    assert(metas.contains(240L), "4:15 must pack left-aligned to 0xF0")
    assert(metas.contains(18L), "4:1 4:2 must pack sequentially to 0x12")
  }

  for (seed <- Seq(7001, 7002)) {
    test(s"encode byte-parity holds across corpora (seed $seed, mixed lines)") {
      import scala.sys.process._
      writeCorpus(s"/tmp/ops_seed$seed.txt", seed, 1200, lines = true)
      s"rm -rf /tmp/ops_seed$seed.dm /tmp/ops_seed${seed}_ours.dm".!
      assert(RefBinaries.run("encode",
        Seq("-o", s"/tmp/ops_seed$seed.dm", "-z16", "-m8", s"/tmp/ops_seed$seed.txt"))._1 == 0)
      val feats = TextSource.read(spark, s"/tmp/ops_seed$seed.txt", 16, 8)
      Sinks.writeDatamapsBinary(feats, s"/tmp/ops_seed${seed}_ours.dm", 16, 8)
      cmpDirs(s"/tmp/ops_seed$seed.dm", s"/tmp/ops_seed${seed}_ours.dm")
    }
  }

  test("A3: enumerate tile rollup matches reference counts at z8 (points + line first vertices)") {
    val (rc, out) = RefBinaries.run("enumerate", Seq("-z8", "-v", "/tmp/ops_ref.dm"))
    assert(rc == 0)
    val refTiles = new String(out).linesIterator.filter(_.nonEmpty).map { l =>
      val p = l.trim.split("\\s+")
      // fname z x y count lat,lon
      ((p(1).toInt, p(2).toInt, p(3).toInt), p(4).toLong)
    }.toSeq.groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }
    val refZ8 = refTiles.filter(_._1._1 == 8).map { case ((_, x, y), c) => ((x, y), c) }

    val feats = TextSource.read(spark, "/tmp/ops_mixed.txt", 16, 8)
    import spark.implicits._
    val ours = feats.map(f => (Cell.tileX(f.cell, 8), Cell.tileY(f.cell, 8)))
      .groupByKey(identity).count().collect()
      .map { case ((x, y), c) => ((x, y), c) }.toMap
    assert(ours == refZ8)
    assert(ours.nonEmpty)
  }

  test("U1/U2: merge and merge -u reproduce reference byte-for-byte") {
    import scala.sys.process._
    writeCorpus("/tmp/ops_a.txt", 7, 1500, lines = false)
    writeCorpus("/tmp/ops_b.txt", 7, 1000, lines = false) // same seed prefix => overlaps for -u
    "rm -rf /tmp/ops_a.dm /tmp/ops_b.dm /tmp/ops_m.dm /tmp/ops_mu.dm".!
    assert(RefBinaries.run("encode", Seq("-o", "/tmp/ops_a.dm", "-z16", "-m8", "/tmp/ops_a.txt"))._1 == 0)
    assert(RefBinaries.run("encode", Seq("-o", "/tmp/ops_b.dm", "-z16", "-m8", "/tmp/ops_b.txt"))._1 == 0)
    assert(RefBinaries.run("merge", Seq("-o", "/tmp/ops_m.dm", "/tmp/ops_a.dm", "/tmp/ops_b.dm"))._1 == 0)
    assert(RefBinaries.run("merge", Seq("-o", "/tmp/ops_mu.dm", "-u", "/tmp/ops_a.dm", "/tmp/ops_b.dm"))._1 == 0)

    val fa = TextSource.read(spark, "/tmp/ops_a.txt", 16, 8)
    val fb = TextSource.read(spark, "/tmp/ops_b.txt", 16, 8)
    // U1: bag union
    "rm -rf /tmp/ops_m_ours.dm /tmp/ops_mu_ours.dm".!
    Sinks.writeDatamapsBinary(fa.union(fb), "/tmp/ops_m_ours.dm", 16, 8)
    cmpDirs("/tmp/ops_m.dm", "/tmp/ops_m_ours.dm")
    // U2: union distinct (dedup identical records)
    import spark.implicits._
    val distinct = fa.union(fb).dropDuplicates("vertices", "meta")
    Sinks.writeDatamapsBinary(distinct, "/tmp/ops_mu_ours.dm", 16, 8)
    cmpDirs("/tmp/ops_mu.dm", "/tmp/ops_mu_ours.dm")
  }

  test("enumerate -b bbox rollup matches reference counts (P3 world-coord filter)") {
    val (minlat, minlon, maxlat, maxlon) = (-40.0, -90.0, 50.0, 120.0)
    val (rc, out) = RefBinaries.run("enumerate",
      Seq("-z8", "-v", "-b", s"$minlat,$minlon,$maxlat,$maxlon", "/tmp/ops_ref.dm"))
    assert(rc == 0)
    val refZ8 = new String(out).linesIterator.filter(_.nonEmpty).map { l =>
      val p = l.trim.split("\\s+")
      ((p(1).toInt, p(2).toInt, p(3).toInt), p(4).toLong)
    }.toSeq.groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }
      .filter(_._1._1 == 8).map { case ((_, x, y), c) => ((x, y), c) }
    // ours: filter first vertices by the same world-coord box, then roll up
    val left = Mercator.lonToX32(minlon); val right = Mercator.lonToX32(maxlon)
    val bottom = Mercator.latToY32(minlat); val top = Mercator.latToY32(maxlat)
    val feats = TextSource.read(spark, "/tmp/ops_mixed.txt", 16, 8)
    import spark.implicits._
    val ours = feats
      .map(f => (Cell.decodeX(f.cell), Cell.decodeY(f.cell)))
      .filter(p => p._1 >= left && p._1 <= right && p._2 >= top && p._2 <= bottom)
      .map(p => (p._1 >> 24, p._2 >> 24))
      .groupByKey(identity).count().collect()
      .map { case ((x, y), c) => ((x.toInt, y.toInt), c) }.toMap
    assert(ours == refZ8)
    assert(ours.nonEmpty)
  }

  test("enumerate -a: full text dump line-exact in merge order") {
    val (rc, out) = RefBinaries.run("enumerate", Seq("-a", "/tmp/ops_ref.dm"))
    assert(rc == 0)
    val refLines = new String(out).linesIterator.toSeq
    val feats = TextSource.read(spark, "/tmp/ops_mixed.txt", 16, 8)
    val ourLines = Sinks.enumerateDump(feats, 16, 8, geoJson = false).collect().toSeq
    assert(refLines.size == ourLines.size, s"ref=${refLines.size} ours=${ourLines.size}")
    val diffs = refLines.zip(ourLines).zipWithIndex.filter { case ((a, b), _) => a != b }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(3)}")
    assert(refLines.nonEmpty)
  }

  test("enumerate -D: full GeoJSON dump byte-exact") {
    val (rc, out) = RefBinaries.run("enumerate", Seq("-D", "/tmp/ops_ref.dm"))
    assert(rc == 0)
    val feats = TextSource.read(spark, "/tmp/ops_mixed.txt", 16, 8)
    val rows = Sinks.enumerateDump(feats, 16, 8, geoJson = true).collect().toSeq
    val ours = Sinks.geoJsonCollect(rows)
    val ref = new String(out)
    assert(ref == ours, {
      val i = ref.zip(ours).indexWhere(t => t._1 != t._2)
      s"geojson differs at char $i: ...${ref.slice(math.max(0, i - 40), i + 40)}... vs ...${ours.slice(math.max(0, i - 40), i + 40)}..."
    })
  }

  test("S6: text dump format matches reference render -d lines") {
    val feats = TextSource.read(spark, "/tmp/ops_a.txt", 16, 8)
    import spark.implicits._
    // reference render -d over the whole world at z0
    val (rc, out) = RefBinaries.run("render", Seq("-d", "/tmp/ops_a.dm", "0", "0", "0"))
    assert(rc == 0)
    val refLines = new String(out).linesIterator.filter(_.contains("//")).map(_.trim).toSeq.sorted
    val ourLines = Sinks.textDump(feats, 8).collect().toSeq.map(_.trim).sorted
    assert(refLines.size == ourLines.size, s"ref=${refLines.size} ours=${ourLines.size}")
    val diffs = refLines.zip(ourLines).filter { case (a, b) => a != b }
    assert(diffs.isEmpty, s"diffs: ${diffs.take(3)}")
  }
}
