package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** End-to-end image curation over a synthetic corpus with planted
  * pathologies: every stage must act (decode gate, size/aspect,
  * low-information, near-dup keep-BEST) and the funnel counts must
  * tell the story. */
class ImageCurationSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  type Img = (String, Array[Byte], Int, Int, String)

  /** Smooth x/y ramp: its 9x8 area-average luma is monotone in x at ANY
    * resolution, so every size of the same gradient dHashes equal. */
  private def gradient(id: String, w: Int, h: Int): Img = {
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      rgb(o) = (x * 255 / (w - 1)).toByte
      rgb(o + 1) = (y * 255 / (h - 1)).toByte
      rgb(o + 2) = 128.toByte
    }
    (id, rgb, w, h, "raw")
  }

  private def solid(id: String, w: Int, h: Int): Img =
    (id, Array.fill(w * h * 3)(77.toByte), w, h, "raw")

  test("image funnel: every stage acts; keep-best keeps the highest resolution") {
    import spark.implicits._
    val base: Seq[Img] = (0 until 40).map { i =>
      val r = graft.tables.ImageTable.row(42L, i.toLong)
      (r.image_id, r.bytes, r.w, r.h, r.fmt)
    }
    val grads = Seq(gradient("grad_a_32", 32, 32), gradient("grad_a_24", 24, 24),
      gradient("grad_a_16", 16, 16))
    // the trio really is one perceptual cluster
    val hs = grads.map { case (id, b, w, h, f) =>
      graft.media.Media.dhash64(graft.media.Media.decode(id, b, w, h, f))
    }
    assert(hs.forall(x => java.lang.Long.bitCount(x ^ hs.head) <= 2),
      s"gradient trio not Hamming-close: ${hs.map(_.toHexString)}")

    val planted: Seq[Img] = grads ++ Seq(
      solid("flat", 16, 16),                                   // low-information drop
      gradient("tiny", 4, 4),                                  // size drop
      ("thin", graft.tables.ImageTable.rawPixels(7L, 64, 4), 64, 4, "raw"), // aspect drop
      ("corrupt", Array[Byte](1, 2, 3, 4), 8, 8, "png"))       // decode drop
    val images = (base ++ planted).toDF("image_id", "bytes", "w", "h", "fmt")

    val out = java.nio.file.Files.createTempDirectory("imgcur").toString + "/curated"
    val (curated, c) = graft.pipelines.ImageCuration.run(
      spark, images, out, minPixels = 60L, maxAspect = 4,
      minLumaBuckets = 3, maxHamming = 2)

    assert(c.images == 47)
    assert(c.decoded == 46, s"corrupt png must drop at decode: $c")
    assert(c.sizeKept == 44, s"tiny and extreme-aspect must drop at size: $c")
    assert(c.entropyKept == 43, s"solid image must drop at low-information: $c")
    assert(c.kept == 41, s"gradient trio must collapse to one keeper: $c")

    val rows = curated.collect().map(r => r.getAs[String]("image_id") ->
      (r.getAs[Long]("pixels"), r.getAs[Long]("cluster_size"))).toMap
    // keep-BEST: the highest-resolution gradient survives, with the
    // cluster size recorded; plain dedup would keep an arbitrary member
    assert(rows.contains("grad_a_32") && !rows.contains("grad_a_24") && !rows.contains("grad_a_16"))
    assert(rows("grad_a_32") == ((32L * 32L, 3L)))
    // untouched corpus images are singletons
    assert(rows.filter(_._1.startsWith("img")).forall(_._2._2 == 1L))
  }

  test("run releases every checkpoint it makes") {
    import spark.implicits._
    val images = ((0 until 24).map { i =>
      val r = graft.tables.ImageTable.row(43L, i.toLong)
      (r.image_id, r.bytes, r.w, r.h, r.fmt)
    } ++ Seq(gradient("grad_b_32", 32, 32), gradient("grad_b_24", 24, 24)))
      .toDF("image_id", "bytes", "w", "h", "fmt")
    val out = java.nio.file.Files.createTempDirectory("imgcur_rel").toString + "/curated"
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (_, c) = graft.pipelines.ImageCuration.run(spark, images, out, minPixels = 60L)
    assert(c.kept > 0)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"checkpoint RDDs still persisted after run: $left")
  }
}
