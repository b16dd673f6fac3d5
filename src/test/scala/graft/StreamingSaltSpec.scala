package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Png
import graft.streaming.StreamOps

class StreamingSaltSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("streaming windowed tile counts match the batch rollup") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val withGeo = batch.select(col("ts"),
      graft.oracle.GeoDerive.x32(col("event_id"), col("user_id")).as("x32"),
      graft.oracle.GeoDerive.y32(col("event_id"), col("user_id")).as("y32"))
    // bounded streaming source over the same parquet (the streaming file
    // source requires a directory)
    val streamDir = java.nio.file.Files.createTempDirectory("evstream").toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(streamDir, "events.parquet"))
    val stream = spark.readStream.schema(batch.schema).parquet(streamDir)
      .select(col("ts"),
        graft.oracle.GeoDerive.x32(col("event_id"), col("user_id")).as("x32"),
        graft.oracle.GeoDerive.y32(col("event_id"), col("user_id")).as("y32"))
    val agg = StreamOps.streamingTileCounts(stream, z = 4, window = "1 hour", watermark = "0 seconds")
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("tilecnt").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql("SELECT tx, ty, sum(cnt) AS cnt FROM tilecnt GROUP BY 1,2")
      .as[(Long, Long, Long)].collect().map { case (a, b, c) => ((a, b), c) }.toMap

    val expected = withGeo
      .select(expr("x32 >> 28").as("tx"), expr("y32 >> 28").as("ty"))
      .groupBy("tx", "ty").count()
      .as[(Long, Long, Long)].collect().map { case (a, b, c) => ((a, b), c) }.toMap
    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup: duplicates within watermark drop, state bounded") {
    import spark.implicits._
    val now = 1700000000000L
    // 200 docs, every other one a duplicate of doc 0
    val rows = (0 until 200).map { i =>
      val text = if (i % 2 == 0) "duplicate payload text" else s"unique text $i"
      (now + i * 1000L, text)
    }
    val df = rows.toDF("ms", "text").select(expr("timestamp_millis(ms)").as("ts"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("dedupstream").toString
    df.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(df.schema).parquet(dir)
    val deduped = StreamOps.streamingDedup(stream, watermark = "10 minutes")
    val q = StreamFixture.runToMemory(deduped, "dedup_out")
    q.stop()
    val out = spark.sql("SELECT text FROM dedup_out").as[String].collect()
    // 1 representative of the duplicate + 100 uniques
    assert(out.length == 101, s"got ${out.length}")
    assert(out.count(_ == "duplicate payload text") == 1)
  }

  test("streaming image dedup: re-encoded copies collapse to one survivor") {
    import spark.implicits._
    import graft.tables.ImageTable
    import graft.media.Media
    import graft.core.Png
    val now = 1700000000000L
    val originals = (0L until 30L).map(i => ImageTable.row(42L, i))
    // every original followed 5s later by a re-encoded copy (same pixels,
    // PNG format, new id) — perceptually identical, byte-different
    val rows = originals.zipWithIndex.flatMap { case (o, i) =>
      val img = Media.decode(o.image_id, o.bytes, o.w, o.h, o.fmt)
      Seq((now + i * 1000L, o.image_id, o.bytes, o.w, o.h, o.fmt),
        (now + i * 1000L + 5000L, o.image_id + "_re", Media.reencodePng(img), o.w, o.h, "png"))
    }
    val df = rows.toDF("ms", "image_id", "bytes", "w", "h", "fmt")
      .select(expr("timestamp_millis(ms)").as("ts"), col("image_id"), col("bytes"),
        col("w"), col("h"), col("fmt"))
    val dir = java.nio.file.Files.createTempDirectory("imgdedupstream").toString
    df.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(df.schema).parquet(dir)
    val deduped = StreamOps.streamingImageDedup(stream, watermark = "10 minutes")
    val q = StreamFixture.runToMemory(deduped, "imgdedup_out")
    q.stop()
    val out = spark.sql("SELECT image_id, bytes FROM imgdedup_out")
      .as[(String, Array[Byte])].collect()
    // exactly one survivor per perceptual hash, covering every original
    // (which of the pair survives is batch-order-dependent), and the
    // survivor keeps its payload — no rejoin needed to land images
    assert(out.length == 30, s"got ${out.length}: ${out.take(5).map(_._1).mkString(",")}")
    assert(out.map(_._1.stripSuffix("_re")).toSet.size == 30)
    assert(out.forall(_._2.nonEmpty), "survivor lost its payload")
  }

  test("incremental dedup stream: later micro-batches resolve against folded state") {
    import spark.implicits._
    import graft.tables.ImageTable
    import graft.media.Media
    val originals = (0L until 50L).map(i => ImageTable.row(99L, i))
    def re(i: Int, tag: String) = {
      val o = originals(i)
      val img = Media.decode(o.image_id, o.bytes, o.w, o.h, o.fmt)
      o.copy(image_id = o.image_id + tag, bytes = Media.reencodePng(img), fmt = "png")
    }
    val base = java.nio.file.Files.createTempDirectory("incdedupstream").toString
    val tbl = "stream_dedup_bands"
    // initial state from the first 30 originals
    Media.writeImageDedupState(
      spark.createDataset(originals.take(30)).toDF(), s"$base/state", tbl, buckets = 4)
    val schema = spark.createDataset(originals.take(1)).toDF().schema
    val fx = new StreamFixture(base, (in, ckpt) =>
      StreamOps.incrementalDedupStream(
        spark.readStream.schema(schema).parquet(in), tbl, s"$base/state", 4,
        s"$base/labels", s"$base/merges", ckpt))
    def feed(rows: Seq[graft.tables.ImageRow], tag: String): Unit =
      fx.feed(spark.createDataset(rows).toDF(), tag)
    def runOnce(): Unit = fx.runOnce()
    // batch 1: fresh originals 30-39 + a dup of a STATE image
    feed(originals.slice(30, 40) :+ re(7, "_s"), "b1"); runOnce()
    // batch 2: originals 40-49 + a dup of a BATCH-1-only image
    feed(originals.drop(40) :+ re(35, "_t"), "b2"); runOnce()
    val labels = spark.read.parquet(s"$base/labels")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // state dup resolved in batch 1 (sticky to the state's rep = itself)
    assert(labels(originals(7).image_id + "_s") == originals(7).image_id)
    // cross-micro-batch dup resolved in batch 2 via the folded state
    assert(labels(originals(35).image_id + "_t") == labels(originals(35).image_id),
      s"batch-2 dup got ${labels(originals(35).image_id + "_t")}")
  }

  test("streaming text ingest parses identically to the batch source") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("txtstream").toString
    val lines = Seq("40.700000,-74.000000 :7", "invalid", "85.100000,0.0 :1", // lat out of range -> drop
      "-12.500000,99.250000 8:255", "1.000000,2.000000 3.000000,4.000000 :9")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "a.txt"), lines.mkString("\n"))
    val batch = graft.sources.TextSource.read(spark, dir, 16, 8).collect()
      .map(f => (f.cell, f.vertices.toSeq, f.meta)).toSet
    val stream = graft.sources.TextSource.readStream(spark, dir, 16, 8)
    val q = StreamFixture.runToMemory(stream.toDF(), "txt_out")
    q.stop()
    val streamed = spark.sql("SELECT * FROM txt_out").as[graft.core.Feature].collect()
      .map(f => (f.cell, f.vertices.toSeq, f.meta)).toSet
    assert(streamed == batch && batch.size == 3)
  }

  test("incremental tileset maintenance equals the batch render, byte-for-byte") {
    import spark.implicits._
    import graft.core.RenderParams
    val base = java.nio.file.Files.createTempDirectory("inctiles").toString
    val snap = s"$base/snap"; val tilesDir = s"$base/tiles"
    val all = graft.tables.ImageTable.generateGeo(spark, 3000).toDF()
      .select(col("cell"), col("meta"))
    // z6 is step-sampled (step > 1): maintained by the wholesale
    // low-zoom cadence, here every 2nd batch so the final batch refreshes
    val zooms = Seq(6, 14, 15) // z15 exercises brush spill rings
    val p = RenderParams()
    val fx = new StreamFixture(base, (in, ckpt) =>
      StreamOps.incrementalTiles(spark.readStream.schema(all.schema).parquet(in),
        snap, tilesDir, ckpt, zooms, 48, p, lowZoomEvery = 2))
    def feed(batch: org.apache.spark.sql.DataFrame, tag: String): Unit = fx.feed(batch, tag)
    def runOnce(): Unit = fx.runOnce()
    feed(all.filter(pmod(col("cell"), lit(2)) === 0), "b1"); runOnce()
    feed(all.filter(pmod(col("cell"), lit(2)) === 1), "b2"); runOnce()

    // ground truth: full batch render over the final snapshot — ranked
    // pyramid for the step-sampled zoom, direct tile render for step==1
    val full = spark.read.parquet(snap)
    val ranked = graft.render.Render.withGlobalRank(full.select(col("cell"), col("meta")))
    val expected = (Seq(14, 15).map(z =>
      graft.render.Render.renderTiles(Some(full), None, z, 48, p)) :+
      graft.render.Render.renderPyramid(ranked, Seq(6), 48, p)).reduce(_ union _)
      .collect().map(t => ((t.z, t.x, t.y), t.png)).toMap
    ranked.unpersist()
    val onDisk = {
      val root = new java.io.File(tilesDir)
      for {
        zd <- root.listFiles().toSeq if zd.isDirectory
        xd <- zd.listFiles().toSeq
        yf <- xd.listFiles().toSeq
      } yield ((zd.getName.toInt, xd.getName.toInt, yf.getName.stripSuffix(".png").toInt),
        java.nio.file.Files.readAllBytes(yf.toPath))
    }.toMap
    assert(onDisk.keySet == expected.keySet,
      s"tile sets differ: extra=${onDisk.keySet.diff(expected.keySet).take(5)} missing=${expected.keySet.diff(onDisk.keySet).take(5)}")
    val bad = expected.collect { case (k, png) if !java.util.Arrays.equals(png, onDisk(k)) => k }
    assert(bad.isEmpty, s"stale tiles: ${bad.take(5)}")
    assert(expected.nonEmpty)
  }

  test("incremental maintenance with ONLY step-sampled zooms runs (no per-batch render set)") {
    // every requested zoom is low (step > 1): the per-batch affected-tile
    // block has nothing to do (previously zArr.min threw on every batch)
    // and the tileset is maintained purely by the wholesale cadence
    import spark.implicits._
    import graft.core.RenderParams
    val base = java.nio.file.Files.createTempDirectory("inclow").toString
    val in = s"$base/in"; val snap = s"$base/snap"
    val tilesDir = s"$base/tiles"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    val all = graft.tables.ImageTable.generateGeo(spark, 2000).toDF()
      .select(col("cell"), col("meta"))
    all.coalesce(1).write.parquet(s"$base/stage")
    new java.io.File(s"$base/stage").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(in, f.getName)))
    val p = RenderParams()
    assert(p.pointParams(6)._1 > 1) // z6 really is step-sampled
    val stream = spark.readStream.schema(all.schema).parquet(in)
    val q = StreamOps.incrementalTiles(stream, snap, tilesDir, ckpt, Seq(6), 48, p,
      lowZoomEvery = 1)
    q.awaitTermination()
    val ranked = graft.render.Render.withGlobalRank(
      spark.read.parquet(snap).select(col("cell"), col("meta")))
    val expected = graft.render.Render.renderPyramid(ranked, Seq(6), 48, p)
      .collect().map(t => ((t.z, t.x, t.y), t.png)).toMap
    ranked.unpersist()
    val onDisk = {
      val root = new java.io.File(tilesDir)
      for {
        zd <- root.listFiles().toSeq if zd.isDirectory
        xd <- zd.listFiles().toSeq
        yf <- xd.listFiles().toSeq
      } yield ((zd.getName.toInt, xd.getName.toInt, yf.getName.stripSuffix(".png").toInt),
        java.nio.file.Files.readAllBytes(yf.toPath))
    }.toMap
    assert(onDisk.keySet == expected.keySet && expected.nonEmpty)
    assert(expected.forall { case (k, png) => java.util.Arrays.equals(png, onDisk(k)) })
    // invalid cadence is rejected up front, not as a divide-by-zero mid-stream
    intercept[IllegalArgumentException] {
      StreamOps.incrementalTiles(stream, snap, tilesDir, ckpt, Seq(6), 48, p, lowZoomEvery = 0)
    }
  }

  test("circle/cloud mode: scatter density is deterministic and conserves dot counts") {
    import spark.implicits._
    val pts = (0 until 50).map { i =>
      (graft.core.Cell.encode(
        graft.core.Mercator.lonToX32(-74.0 + i * 0.001).toInt,
        graft.core.Mercator.latToY32(40.7 + i * 0.001).toInt), (10 + i % 20).toLong)
    }.toDF("cell", "meta")
    val p = graft.core.RenderParams(circle = 1000, gamma = 1.0)
    val t1 = graft.render.Render.renderTiles(Some(pts), None, 14, 48, p).collect()
      .map(t => ((t.x, t.y), t.png)).toMap
    val t2 = graft.render.Render.renderTiles(Some(pts), None, 14, 48, p).collect()
      .map(t => ((t.x, t.y), t.png)).toMap
    assert(t1.nonEmpty)
    assert(t1.keySet == t2.keySet)
    // deterministic across runs
    t1.foreach { case (k, png) => assert(java.util.Arrays.equals(png, t2(k)), s"tile $k differs") }
    // pixels actually scattered (many distinct lit pixels, not one splat)
    val (rgba, _, _) = graft.core.Png.decode(t1.values.head)
    val lit = rgba.grouped(4).count(px => px(0) != 0 || px(1) != 0 || px(2) != 0)
    assert(lit > 50, s"only $lit lit pixels")
  }

  test("ranked-snapshot render path is byte-identical to the in-memory rank path") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    val pts = (0 until 20000).map { _ =>
      (graft.core.Cell.encode(
        graft.core.Mercator.lonToX32(r.nextDouble() * 300 - 150).toInt,
        graft.core.Mercator.latToY32(r.nextDouble() * 140 - 70).toInt), r.nextInt(256).toLong)
    }.toDF("cell", "meta")
    val p = graft.core.RenderParams()
    val ranked = graft.render.Render.withGlobalRank(pts)
    val mem = graft.render.Render.renderPyramid(ranked, 0 to 6, 48, p)
      .collect().map(t => ((t.z, t.x, t.y), t.png)).toMap
    ranked.unpersist()
    import scala.sys.process._
    "rm -rf /tmp/ranked_snap".!
    graft.render.Render.writeRankedSnapshot(pts, "/tmp/ranked_snap")
    val snap = graft.render.Render.renderPyramid(
      graft.render.Render.readRankedSnapshot(spark, "/tmp/ranked_snap"), 0 to 6, 48, p)
      .collect().map(t => ((t.z, t.x, t.y), t.png)).toMap
    assert(mem.keySet == snap.keySet)
    mem.foreach { case (k, png) => assert(java.util.Arrays.equals(png, snap(k)), s"tile $k differs") }
    assert(mem.nonEmpty)
  }

  test("salted hot-tile render equals unsalted output (same tiles, pixels within tolerance)") {
    import spark.implicits._
    // heavily skewed: 30k points in one z10 tile + scatter
    val r = new scala.util.Random(5)
    val dense = (0 until 30000).map { _ =>
      (graft.core.Cell.encode(
        graft.core.Mercator.lonToX32(-74.0 + r.nextDouble() * 0.05).toInt,
        graft.core.Mercator.latToY32(40.7 + r.nextDouble() * 0.05).toInt), r.nextInt(256).toLong)
    }
    val scatter = (0 until 5000).map { _ =>
      (graft.core.Cell.encode(
        graft.core.Mercator.lonToX32(r.nextDouble() * 300 - 150).toInt,
        graft.core.Mercator.latToY32(r.nextDouble() * 140 - 70).toInt), r.nextInt(256).toLong)
    }
    val pts = (dense ++ scatter).toDF("cell", "meta")
    val ranked = graft.render.Render.withGlobalRank(pts)
    val p = graft.core.RenderParams()
    val plain = graft.render.Render.renderPyramid(ranked, Seq(14, 15), 48, p)
      .collect().map(t => ((t.z, t.x, t.y), t.png)).toMap
    val salted = graft.render.Render.renderPyramidSalted(ranked, Seq(14, 15), 48, p,
      hotThreshold = 1000, salts = 8)
      .collect().map(t => ((t.z, t.x, t.y), t.png)).toMap
    assert(plain.keySet == salted.keySet)
    assert(plain.nonEmpty)
    plain.foreach { case (k, png) =>
      val (a, _, _) = Png.decode(png)
      val (b, _, _) = Png.decode(salted(k))
      val psnr = Png.psnr(a, b)
      assert(psnr >= 50.0, s"tile $k psnr=$psnr")
    }
  }
}
