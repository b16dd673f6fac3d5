package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Mvt, Png}
import graft.media.Media
import graft.tables.ImageTable

/** Payload-invariant tests (input_hint): decoded pixels survive the full
  * pipeline (PSNR check, exact here since all formats are lossless);
  * captions survive byte-equal. Plus MVT encoder roundtrip. */
class MediaSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("image payload + caption survive geotag -> snapshot -> read-back unchanged") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("imgsnap").toString
    val geo = ImageTable.generateGeo(spark, 500)
    graft.ops.Snapshots.commit(root, geo.toDF()
      .repartitionByRange(4, col("cell")).sortWithinPartitions(col("cell")))
    val back = graft.ops.Snapshots.read(spark, root)
      .select("image_id", "bytes", "w", "h", "fmt", "caption")
      .as[(String, Array[Byte], Int, Int, String, String)]
      .collect().map(r => r._1 -> r).toMap

    (0L until 500L).foreach { i =>
      val orig = ImageTable.row(42L, i)
      val r = back(orig.image_id)
      assert(r._6 == orig.caption, s"caption mismatch for ${orig.image_id}")
      // decoded-pixel comparison (PSNR; infinite here because lossless)
      val origPix = Media.decode(orig.image_id, orig.bytes, orig.w, orig.h, orig.fmt)
      val backPix = Media.decode(r._1, r._2, r._3, r._4, r._5)
      assert(origPix.w == backPix.w && origPix.h == backPix.h)
      assert(Png.psnr(origPix.rgb, backPix.rgb) >= 40.0)
      assert(java.util.Arrays.equals(origPix.rgb, backPix.rgb))
    }
  }

  /** Channel means + luma histogram of every payload, decoded on the executors. */
  private def distributedFeatures(df: org.apache.spark.sql.DataFrame): Array[graft.media.ImageFeatures] = {
    import spark.implicits._
    df.select("image_id", "bytes", "w", "h", "fmt").as[(String, Array[Byte], Int, Int, String)]
      .map { case (id, bytes, w, h, fmt) => Media.features(Media.decode(id, bytes, w, h, fmt)) }
      .collect()
  }

  test("feature extraction runs distributed with correct shapes") {
    val imgs = ImageTable.generate(spark, 200).toDF()
    val feats = distributedFeatures(imgs)
    assert(feats.length == 200)
    assert(feats.forall(f => f.luma_hist.sum == f.w.toLong * f.h))
    assert(feats.forall(f => f.mean_r >= 0 && f.mean_r <= 255))
  }

  test("real JPEG decode via JDK ImageIO (distributed feature extraction)") {
    import spark.implicits._
    // author real JPEGs with the JDK encoder: solid-color images whose
    // channel means survive lossy compression within a few counts
    def jpegBytes(r: Int, g: Int, b: Int, w: Int, h: Int): Array[Byte] = {
      val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val px = (r << 16) | (g << 8) | b
      for (y <- 0 until h; x <- 0 until w) bi.setRGB(x, y, px)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "jpeg", bos)
      bos.toByteArray
    }
    val rows = Seq(
      ("j1", jpegBytes(200, 40, 90, 32, 24), 32, 24, "jpeg"),
      ("j2", jpegBytes(10, 180, 250, 48, 48), 48, 48, "jpeg"))
    val df = rows.toDF("image_id", "bytes", "w", "h", "fmt")
    val feats = distributedFeatures(df).sortBy(_.image_id)
    assert(feats.map(f => (f.w, f.h)).toSeq == Seq((32, 24), (48, 48)))
    val j1 = feats(0); val j2 = feats(1)
    assert(math.abs(j1.mean_r - 200) < 8 && math.abs(j1.mean_g - 40) < 8 && math.abs(j1.mean_b - 90) < 8,
      s"j1 means ${(j1.mean_r, j1.mean_g, j1.mean_b)}")
    assert(math.abs(j2.mean_r - 10) < 8 && math.abs(j2.mean_g - 180) < 8 && math.abs(j2.mean_b - 250) < 8,
      s"j2 means ${(j2.mean_r, j2.mean_g, j2.mean_b)}")
    // corrupt jpeg payload falls back to the deterministic stub
    val bad = graft.media.Media.decode("x", Array[Byte](1, 2, 3), 4, 4, "jpeg")
    assert(bad.w == 4 && bad.h == 4 && bad.rgb.length == 48)
  }

  test("unknown formats route through ImageIO service discovery before the stub") {
    // BMP bytes mislabeled as an unregistered format: decode never
    // consults the format string — the ImageIO SPI sniffs the bytes —
    // so a codec jar dropped on the classpath (e.g. webp) starts
    // decoding with no code change
    val bi = new java.awt.image.BufferedImage(6, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 6) bi.setRGB(x, y, 0x30C090)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "bmp", bos)
    val bytes = bos.toByteArray
    val viaWebp = Media.decode("u1", bytes, 6, 5, "webp")
    val viaBmp = Media.decode("u1", bytes, 6, 5, "bmp")
    assert(viaWebp.w == 6 && viaWebp.h == 5)
    assert(java.util.Arrays.equals(viaWebp.rgb, viaBmp.rgb))
    assert((viaWebp.rgb(0) & 0xFF) == 0x30 && (viaWebp.rgb(1) & 0xFF) == 0xC0)
    // truly unreadable bytes still fall to the deterministic stub
    val stub = Media.decode("u2", Array[Byte](9, 9, 9), 4, 4, "webp")
    assert(stub.rgb.length == 48)
  }

  test("stubbed decode for unavailable codecs is deterministic") {
    val a = Media.decode("x", Array[Byte](1, 2, 3), 8, 8, "jpeg")
    val b = Media.decode("x", Array[Byte](1, 2, 3), 8, 8, "jpeg")
    assert(java.util.Arrays.equals(a.rgb, b.rgb))
    assert(a.rgb.length == 8 * 8 * 3)

    // FRAME-descriptor decompression bomb: a 2x2 GIF whose image
    // descriptor is patched to claim 50000x50000 must take the stub —
    // the header check runs before reader.read, which would otherwise
    // allocate ~7.5 GB inside the codec. Descriptor layout:
    // 0x2C left(2) top(2) w(2) h(2), little-endian.
    val bi = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 2) bi.setRGB(x, y, 0x112233)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "gif", bos)
    val plain = bos.toByteArray
    val pat = Array[Byte](0x2C, 0, 0, 0, 0, 2, 0, 2, 0)
    val at = plain.indices.find(i => i + pat.length <= plain.length &&
      pat.indices.forall(j => plain(i + j) == pat(j))).get
    val fbomb = plain.clone()
    fbomb(at + 5) = 0x50.toByte; fbomb(at + 6) = 0xC3.toByte // w = 50000
    fbomb(at + 7) = 0x50.toByte; fbomb(at + 8) = 0xC3.toByte // h = 50000
    val s1 = Media.decode("fbomb", fbomb, 4, 4, "gif")
    val s2 = Media.decode("fbomb", fbomb, 4, 4, "gif")
    assert(s1.w == 4 && s1.h == 4 && s1.rgb.length == 48,
      "oversized frame descriptor did not degrade to the stub")
    assert(java.util.Arrays.equals(s1.rgb, s2.rgb))
    // LOGICAL-SCREEN bomb (header bytes 6-9): single-frame decode reads
    // only frame 0 at its descriptor size, so the 50000x50000 screen is
    // never allocated — the real 2x2 frame decodes
    val sbomb = plain.clone()
    sbomb(6) = 0x50.toByte; sbomb(7) = 0xC3.toByte
    sbomb(8) = 0x50.toByte; sbomb(9) = 0xC3.toByte
    val f = Media.decode("sbomb", sbomb, 4, 4, "gif")
    assert(f.w == 2 && f.h == 2, s"logical-screen GIF decoded to ${f.w}x${f.h}")
    assert((f.rgb(0) & 0xFF) == 0x11 && (f.rgb(1) & 0xFF) == 0x22 && (f.rgb(2) & 0xFF) == 0x33)
  }

  test("dhash64: format-invariant, perturbation-local, discriminative") {
    val a = ImageTable.row(42L, 0L) // fmt raw
    val rawImg = Media.decode(a.image_id, a.bytes, a.w, a.h, a.fmt)
    // re-encode the same pixels as PNG: dhash must be identical
    val pngImg = Media.decode(a.image_id, Media.reencodePng(rawImg), a.w, a.h, "png")
    assert(Media.dhash64(rawImg) == Media.dhash64(pngImg), "dhash not format-invariant")

    // perturb one pixel slightly: few bits move
    val pert = rawImg.rgb.clone()
    pert(0) = ((pert(0) & 0xFF) ^ 0x08).toByte
    val hPert = Media.dhash64(graft.media.DecodedImage(a.image_id, a.w, a.h, pert))
    assert(java.lang.Long.bitCount(Media.dhash64(rawImg) ^ hPert) <= 4, "perturbation not local")

    // different images: far apart (deterministic seeds)
    val dists = (1L to 20L).map { i =>
      val b = ImageTable.row(42L, i)
      val img = Media.decode(b.image_id, b.bytes, b.w, b.h, b.fmt)
      java.lang.Long.bitCount(Media.dhash64(rawImg) ^ Media.dhash64(img))
    }
    assert(dists.forall(_ > 10), s"independent images too close: $dists")
  }

  test("image near-dup pipeline: banded pairs + clusters find re-encoded copies") {
    import spark.implicits._
    val originals = (0L until 40L).map(i => ImageTable.row(42L, i))
    // three re-encoded duplicates (same pixels, different format+id)
    val dups = Seq(0L, 7L, 21L).map { i =>
      val o = originals(i.toInt)
      val img = Media.decode(o.image_id, o.bytes, o.w, o.h, o.fmt)
      o.copy(image_id = o.image_id + "_re", bytes = Media.reencodePng(img), fmt = "png")
    }
    val df = spark.createDataset(originals ++ dups).toDF()
    val pairs = Media.imageNearDupPairs(Media.dhashes(df), maxHamming = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    Seq(0L, 7L, 21L).foreach { i =>
      val id = originals(i.toInt).image_id
      assert(pairs.contains((id, s"${id}_re")) || pairs.contains((s"${id}_re", id)),
        s"missing dup pair for $id in $pairs")
    }
    val clusters = Media.imageDupClusters(df, maxHamming = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters.size == 43)
    Seq(0L, 7L, 21L).foreach { i =>
      val id = originals(i.toInt).image_id
      assert(clusters(id) == clusters(s"${id}_re"), s"dup $id not co-clustered")
    }
    // keep-one: every cluster rep is a member of its own cluster
    assert(clusters.values.toSet.subsetOf(clusters.keySet))
  }

  test("image dedup: a mega-cluster of identical images collapses via the exact pregroup") {
    import spark.implicits._
    val base = ImageTable.row(42L, 5L)
    val copies = (0 until 200).map(i => base.copy(image_id = f"copy$i%04d"))
    val distinct = (10L until 20L).map(i => ImageTable.row(42L, i))
    val df = spark.createDataset(copies ++ distinct).toDF()
    val clusters = Media.imageDupClusters(df, maxHamming = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters.size == 210)
    val copyReps = copies.map(c => clusters(c.image_id)).toSet
    assert(copyReps.size == 1, s"identical images split into ${copyReps.size} clusters")
    assert(distinct.map(d => clusters(d.image_id)).toSet.size == 10)
    // every entry point of the one dedup chain induces the same partition
    def partition(m: Map[String, Any]): Set[Set[String]] =
      m.groupBy(_._2).values.map(_.keySet).toSet
    val phased = Media.imageDupClustersPhased(df, maxHamming = 2)._1
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val ids = Media.dedupIds(df)
    val viaNid = Media.imageDupLabelsNid(ids, maxHamming = 2).join(ids, "nid")
      .select("image_id", "rep").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(partition(phased) == partition(clusters))
    assert(partition(viaNid) == partition(clusters))
  }

  /** Brute-force Hamming<=2 truth over a hash set, for exact-set asserts. */
  private def brutePairs(hs: Seq[(String, Long)]): Set[(String, String)] =
    (for {
      a <- hs; b <- hs
      if a._1 < b._1 && java.lang.Long.bitCount(a._2 ^ b._2) <= 2
    } yield (a._1, b._1)).toSet

  private def foundPairs(hs: Seq[(String, Long)]): Set[(String, String)] = {
    import spark.implicits._
    Media.imageNearDupPairs(hs.toDF("image_id", "dhash"), maxHamming = 2)
      .collect().map { r =>
        val (a, b) = (r.getString(0), r.getString(1))
        if (a < b) (a, b) else (b, a)
      }.toSet
  }

  test("hot band bucket: true pair recovered via sub-banding (was dropped by star-pair cap)") {
    // 70 distinct hashes all sharing quarters 0, 1 and 3 — every band
    // not involving quarter 2 is a >cap hot bucket, and the planted
    // Hamming-2 pair differs only inside quarter 2, so no small bucket
    // ever holds both members. The old star-pair escape linked members
    // to the bucket min and Hamming-filtered those links away, silently
    // dropping this pair; recursive sub-banding must find it.
    val q3 = 0xABCDL << 48
    val fillers = (10 to 77).map(i => (f"f$i%03d", q3 | ((i.toLong * 0x0101L) << 32)))
    val planted = Seq(("pa", q3 | (0xFF00L << 32)), ("pb", q3 | (0xFC00L << 32)))
    val hs = fillers ++ planted
    assert(java.lang.Long.bitCount(hs.head._2 ^ planted.head._2) > 2) // truly hot, not chained
    val got = foundPairs(hs)
    assert(got.contains(("pa", "pb")), s"planted hot-bucket pair missing from $got")
    assert(got == brutePairs(hs), "banded pairs != brute-force Hamming<=2 truth")
  }

  test("doubly-hot buckets recurse to the terminal level and still find the pair") {
    // all members also share the low byte of quarter 2: every level-2
    // sub-bucket that can hold the pair is hot too, forcing the
    // terminal (56-bits-fixed) all-pairs level
    val q3 = 0x1234L << 48
    val fillers = (1 to 68).map(i => (f"g$i%03d", q3 | ((i.toLong << 8) << 32)))
    val planted = Seq(("ha", q3 | (0xFF00L << 32)), ("hb", q3 | (0xFC00L << 32)))
    val hs = fillers ++ planted
    val got = foundPairs(hs)
    assert(got.contains(("ha", "hb")), s"planted terminal-level pair missing from $got")
    assert(got == brutePairs(hs), "banded pairs != brute-force Hamming<=2 truth")
  }

  test("incremental image dedup against persisted state equals the full-batch partition") {
    import spark.implicits._
    val originals = (0L until 60L).map(i => ImageTable.row(77L, i))
    def re(i: Int, tag: String) = {
      val o = originals(i)
      val img = Media.decode(o.image_id, o.bytes, o.w, o.h, o.fmt)
      o.copy(image_id = o.image_id + tag, bytes = Media.reencodePng(img), fmt = "png")
    }
    // A: first 40 originals + an A-internal dup. B: the rest + a
    // BOUNDARY dup (copy of an A original) + a B-internal dup.
    val aRows = originals.take(40) ++ Seq(re(3, "_ra"))
    val bRows = originals.drop(40) ++ Seq(re(5, "_rb"), re(45, "_rbb"))
    val dir = java.nio.file.Files.createTempDirectory("dedupstate").toString
    val aLabels = Media.writeImageDedupState(
      spark.createDataset(aRows).toDF(), dir, "dedup_state_bands", buckets = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (bl, mg) = Media.incrementalImageDedup(
      Media.dedupIds(spark.createDataset(bRows).toDF()), "dedup_state_bands")
    val bLabels = bl.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val merges = mg.collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // sticky semantics: the boundary dup adopts A's existing label
    val a5 = originals(5).image_id
    assert(bLabels(a5 + "_rb") == aLabels(a5),
      s"boundary dup got ${bLabels(a5 + "_rb")}, old cluster rep is ${aLabels(a5)}")
    // B-internal dup co-labels with its B source
    assert(bLabels(originals(45).image_id + "_rbb") == bLabels(originals(45).image_id))

    // partition equivalence vs clustering A+B in one batch (rep CHOICE
    // may differ — sticky reps are A's — the induced partition may not)
    val full = Media.imageDupClusters(spark.createDataset(aRows ++ bRows).toDF())
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def partition(m: Map[String, String]): Set[Set[String]] =
      m.groupBy(_._2).values.map(_.keySet.toSet).toSet
    val aFinal = aLabels.map { case (id, rep) => id -> merges.getOrElse(rep, rep) }
    assert(partition(aFinal ++ bLabels) == partition(full),
      "incremental partition differs from full-batch clustering")
  }

  test("dedup state append: later batches see earlier batches; re-seen hashes don't bloat the index") {
    import spark.implicits._
    val originals = (0L until 70L).map(i => ImageTable.row(88L, i))
    def re(i: Int, tag: String) = {
      val o = originals(i)
      val img = Media.decode(o.image_id, o.bytes, o.w, o.h, o.fmt)
      o.copy(image_id = o.image_id + tag, bytes = Media.reencodePng(img), fmt = "png")
    }
    val aRows = originals.take(40)
    // B: fresh originals + a re-encode of an A original (hash already indexed)
    val bRows = originals.slice(40, 60) ++ Seq(re(3, "_rb"))
    // C: fresh originals + a re-encode of a B-ONLY original — resolvable
    // only if B's append folded its hashes into the state
    val cRows = originals.drop(60) ++ Seq(re(45, "_rc"))
    val dir = java.nio.file.Files.createTempDirectory("dedupappend").toString
    val tbl = "dedup_append_bands"
    Media.writeImageDedupState(spark.createDataset(aRows).toDF(), dir, tbl, buckets = 4)
    val (bl, _) = Media.incrementalImageDedup(Media.dedupIds(spark.createDataset(bRows).toDF()), tbl)
    val blM = bl.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    Media.appendImageDedupState(Media.dedupIds(spark.createDataset(bRows).toDF()), bl, tbl, dir, buckets = 4)
    val (cl, _) = Media.incrementalImageDedup(Media.dedupIds(spark.createDataset(cRows).toDF()), tbl)
    val clM = cl.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val b45 = originals(45).image_id
    assert(clM(b45 + "_rc") == blM(b45),
      s"C's dup of a B image got ${clM(b45 + "_rc")}, B labeled it ${blM(b45)}")
    // idempotent fold: original 3's hash was in A's state; B's re-encode
    // of it must NOT append duplicate band rows
    val h3 = Media.dhash64(Media.decode(originals(3).image_id, originals(3).bytes,
      originals(3).w, originals(3).h, originals(3).fmt))
    val rows3 = spark.table(tbl).filter(col("dhash") === h3).count()
    assert(rows3 == 6, s"re-seen hash has $rows3 band rows (expected 6)")
    // B's fresh hashes DID land: one of B's originals has 6 rows
    val h45 = Media.dhash64(Media.decode(b45, originals(45).bytes,
      originals(45).w, originals(45).h, originals(45).fmt))
    assert(spark.table(tbl).filter(col("dhash") === h45).count() == 6)
  }

  test("MVT encode/decode roundtrip: geometry, layers, meta tags") {
    val pts = Seq(
      Mvt.MvtFeature(Array(100), Array(200), 7),
      Mvt.MvtFeature(Array(100), Array(200), 7), // duplicate -> dedup
      Mvt.MvtFeature(Array(4000), Array(50), 3))
    val lns = Seq(
      Mvt.MvtFeature(Array(0, 100, 200), Array(0, 150, 50), 9))
    val tile = Mvt.encode(pts, lns, hasMeta = true)
    val layers = Mvt.decode(tile)
    assert(layers.map(_.name) == Seq("points", "lines"))
    val pl = layers(0)
    assert(pl.extent == 4096)
    assert(pl.features.size == 2) // deduped
    assert(pl.features.map(_._1).toSet == Set(1)) // POINT
    assert(pl.features.map(f => (f._2.head, f._3.get)).toSet ==
      Set(((100L, 200L), 7L), ((4000L, 50L), 3L)))
    val ll = layers(1)
    assert(ll.features.size == 1)
    assert(ll.features.head._1 == 2) // LINESTRING
    assert(ll.features.head._2 == Seq((0L, 0L), (100L, 150L), (200L, 50L)))
    assert(ll.features.head._3.contains(9L))
  }

  test("dedup state append: single-writer lease rejects concurrent writers, steals stale ones") {
    import spark.implicits._
    val originals = (0L until 20L).map(i => ImageTable.row(77L, i))
    val dir = java.nio.file.Files.createTempDirectory("dedup_lease").toString + "/state"
    val tbl = "dedup_lease_bands"
    Media.writeImageDedupState(spark.createDataset(originals.take(10)).toDF(), dir, tbl, buckets = 4)
    val bRows = originals.drop(10)
    val (bl, _) = Media.incrementalImageDedup(Media.dedupIds(spark.createDataset(bRows).toDF()), tbl)
    val blC = bl.localCheckpoint(true)
    // a FRESH lease held by "another writer" must reject the append
    val lease = java.nio.file.Paths.get(dir, ".writer_lease")
    java.nio.file.Files.createFile(lease)
    val ex = intercept[IllegalStateException] {
      Media.appendImageDedupState(Media.dedupIds(spark.createDataset(bRows).toDF()), blC, tbl, dir, buckets = 4)
    }
    assert(ex.getMessage.contains("another writer"), ex.getMessage)
    // a STALE lease (crashed writer, mtime beyond the lease window) is stolen
    java.nio.file.Files.setLastModifiedTime(lease,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000))
    Media.appendImageDedupState(Media.dedupIds(spark.createDataset(bRows).toDF()), blC, tbl, dir, buckets = 4)
    assert(!java.nio.file.Files.exists(lease), "lease not released after append")
    // the append landed (a B hash has its 6 band rows)
    val h = Media.dhash64(Media.decode(bRows.head.image_id, bRows.head.bytes,
      bRows.head.w, bRows.head.h, bRows.head.fmt))
    assert(spark.table(tbl).filter(col("dhash") === h).count() == 6)
  }

  test("tileset writer: z/x/y.png layout + metadata.json, ONE render job") {
    import spark.implicits._
    val geo = ImageTable.generateGeo(spark, 1000).toDF().select(col("cell"), col("meta"))
    val tiles = graft.render.Render.renderTiles(Some(geo), None, 15, 48, graft.core.RenderParams())
    val dir = java.nio.file.Files.createTempDirectory("tileset").toString
    // the zoom range for metadata.json must ride along in the write pass
    // (round-1 collected distinct zooms first = a full second render).
    // AQE splits one action into shuffle-stage jobs, so compare against
    // an identical single-action baseline instead of expecting exactly 1.
    def jobsFor(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    val baseline = jobsFor("tileset-baseline") { tiles.count() }
    val writeJobs = jobsFor("tileset-write-test") { graft.sinks.Sinks.writeTileset(tiles, dir, "test") }
    assert(writeJobs <= baseline, s"writeTileset ran $writeJobs jobs vs $baseline for one render action")
    val meta = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "metadata.json"))
    assert(meta.contains("\"minzoom\": 15") && meta.contains("\"format\": \"png\""))
    val z15 = new java.io.File(dir, "15")
    assert(z15.isDirectory && z15.listFiles().nonEmpty)
    val onePng = z15.listFiles().head.listFiles().head
    val (rgba, w, h) = Png.decode(java.nio.file.Files.readAllBytes(onePng.toPath))
    assert(w == 256 && h == 256 && rgba.length == 256 * 256 * 4)
  }

  test("assemble mode stitches a bbox into one image") {
    import spark.implicits._
    val geo = graft.render.Render.withGlobalRank(
      ImageTable.generateGeo(spark, 3000).toDF().select(col("cell"), col("meta")))
    // bbox around the NYC hotspot
    val (rgba, w, h) = graft.sinks.Sinks.assemble(Some(geo), None, 12,
      40.60, -74.15, 40.85, -73.85, 48, graft.core.RenderParams())
    assert(w > 256 && h > 128, s"dims $w x $h")
    assert(rgba.length == w * h * 4)
    val lit = rgba.grouped(4).count(px => px(0) != 0 || px(1) != 0 || px(2) != 0)
    assert(lit > 50, s"only $lit lit pixels")
  }

  test("vector tiles render from the point table") {
    import spark.implicits._
    val geo = ImageTable.generateGeo(spark, 2000).toDF().select(col("cell"), col("meta"))
    val vts = graft.render.Render.renderVectorTiles(
      Some(geo), None, 15, 48, graft.core.RenderParams()).collect()
    assert(vts.nonEmpty)
    val one = vts.head
    val layers = Mvt.decode(one.png)
    assert(layers.nonEmpty && layers.head.features.nonEmpty)
    // every geometry inside (or near) the extent
    layers.foreach(_.features.foreach(_._2.foreach { case (x, y) =>
      assert(x >= -4096 && x <= 8192 && y >= -4096 && y <= 8192)
    }))
  }
}
