package graft.tables

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.core.{Mercator, Png}

/** One row of the engine's primary input: an image + caption record
  * (the Iceberg-shaped table of BASELINE.json input_hint). */
case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long)

/** ImageRow after geotagging: spatial key columns added. */
case class GeoImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long,
    lat: Double,
    lon: Double,
    cell: Long,
    meta: Long)

object ImageTable {
  /** splitmix64 — public-domain PRNG step; deterministic per (seed, i). */
  def splitmix64(seed: Long, i: Long): Long = {
    var z = seed + i * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val words = Array("map", "tile", "river", "city", "road", "park",
    "night", "light", "coast", "train", "bridge", "field", "peak", "cloud")

  /** Deterministic tiny raster: wxh RGB raw bytes from the row hash. */
  def rawPixels(h0: Long, w: Int, h: Int): Array[Byte] = {
    val px = new Array[Byte](w * h * 3)
    var s = h0
    var i = 0
    while (i < px.length) {
      s = s * 6364136223846793005L + 1442695040888963407L
      px(i) = (s >>> 56).toByte
      i += 1
    }
    px
  }

  /** Generate one deterministic row (seed fixed at 42 via caller). */
  def row(seed: Long, i: Long): ImageRow = {
    val h0 = splitmix64(seed, i)
    val w = 8 + (math.abs(h0 % 3L)).toInt * 4 // 8, 12, or 16
    val h = 8 + (math.abs((h0 >>> 8) % 3L)).toInt * 4
    val raw = rawPixels(h0, w, h)
    val fmt = if (i % 2 == 0) "raw" else "png"
    val bytes =
      if (fmt == "raw") raw
      else {
        // pack RGB into RGBA (opaque) and PNG-encode: lossless
        val rgba = new Array[Byte](w * h * 4)
        var p = 0; var q = 0
        while (p < raw.length) {
          rgba(q) = raw(p); rgba(q + 1) = raw(p + 1); rgba(q + 2) = raw(p + 2)
          rgba(q + 3) = 0xFF.toByte
          p += 3; q += 4
        }
        Png.encode(rgba, w, h)
      }
    val caption = {
      // floorMod only of the abs residue: math.abs(Long.MinValue) is
      // still MinValue and would index negative; every other h0 keeps
      // its original word (the generated corpora must stay stable)
      val a = words(java.lang.Math.floorMod(math.abs(h0) % words.length, words.length.toLong).toInt)
      val b = words((math.abs(h0 >>> 16) % words.length).toInt)
      f"caption of img$i%012d: $a $b ${h0 & 0xFFFF}"
    }
    ImageRow(f"img$i%012d", bytes, w, h, fmt, caption, h0)
  }

  /** Geotag derivation from phash alone (FIXTURES.md formula) with a
    * hotspot skew mixture (~30% of rows land in a few dense cells) to
    * exercise salting / AQE skew handling. Returns (lat, lon, cell, meta).
    * Pure function of phash: the spatial index never needs the payload
    * column (Parquet prunes `bytes` at scan). */
  def geotagPhash(phash: Long): (Double, Double, Long, Long) = {
    // compute lat/lon ONCE and build the cell from them directly —
    // going through geotagCell would re-run both kernels (3x the
    // splitmix/branch work per generated row on the bench ingest path)
    val lat = geotagLat(phash)
    val lon = geotagLon(phash)
    (lat, lon,
      graft.core.Cell.encode(Mercator.lonToX32(lon), Mercator.latToY32(lat)),
      phash & 0xFF)
  }

  private val hotLat = Array(40.7128, 51.5074, 35.6762, -33.8688)
  private val hotLon = Array(-74.0060, -0.1278, 139.6503, 151.2093)

  /** Scalar geotag kernels — static-forwarder-friendly so the codegen'd
    * geotag_lat/lon/cell kernels (graft.functions.Kernels) can call them
    * from generated Java, like graft.core.Cell.encode for cell_encode. */
  def geotagLat(phash: Long): Double = {
    val h2 = splitmix64(phash, 7L)
    if ((h2 & 0xFF) < 77) { // ~30%: city hotspots
      val clat = hotLat(((h2 >>> 8) & 3L).toInt)
      clat + (((h2 >>> 16) & 0xFFFF).toDouble / 65536.0 - 0.5) * 0.02
    } else -85.0 + 170.0 * ((phash >>> 32).toDouble / 4294967296.0)
  }

  def geotagLon(phash: Long): Double = {
    val h2 = splitmix64(phash, 7L)
    if ((h2 & 0xFF) < 77) {
      val clon = hotLon(((h2 >>> 8) & 3L).toInt)
      clon + (((h2 >>> 32) & 0xFFFF).toDouble / 65536.0 - 0.5) * 0.02
    } else -179.99 + 359.98 * ((phash & 0xFFFFFFFFL).toDouble / 4294967296.0)
  }

  def geotagCell(phash: Long): Long =
    graft.core.Cell.encode(
      Mercator.lonToX32(geotagLon(phash)), Mercator.latToY32(geotagLat(phash)))

  def geotag(r: ImageRow): GeoImageRow = {
    val (lat, lon, cell, meta) = geotagPhash(r.phash)
    GeoImageRow(r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash,
      lat, lon, cell, meta)
  }

  /** Distributed deterministic generation of the image table. */
  def generate(spark: SparkSession, rows: Long, seed: Long = 42L, partitions: Int = 32): Dataset[ImageRow] = {
    import spark.implicits._
    spark.range(0, rows, 1, partitions).map(i => row(seed, i))
  }

  def generateGeo(spark: SparkSession, rows: Long, seed: Long = 42L, partitions: Int = 32): Dataset[GeoImageRow] = {
    import spark.implicits._
    generate(spark, rows, seed, partitions).map(geotag)
  }
}
