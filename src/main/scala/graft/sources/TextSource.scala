package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.{Cell, Feature, Mercator}

/**
 * The reference's text ingest format as a Spark source (S1,
 * encode.c:31-185): one feature per line — space-separated `lat,lon`
 * vertices plus optional `bits:value` / `:value` metadata tokens.
 * Any invalid vertex drops the whole record (encode.c:91-109).
 *
 * The token grammar replicates the reference's greedy sscanf loop
 * (encode.c:49-85): each token tries `%lf,%lf` FIRST (so `1,2:3` and
 * `1,2,3` are vertices with trailing junk ignored), then `%d:%lld`,
 * then `:%lld`; the first token matching none of the three STOPS the
 * scan but keeps the prefix parsed so far. Every meta token appends
 * the low `bits` bits of its value MSB-first into the metabits-wide
 * field (util.c meta2buf), zero-padded at the right; `:v` uses
 * bits = metabits. Documented deviations (all stderr/UB-grade):
 * inf/nan/hex-float vertex spellings are not modeled (decimal only);
 * token widths > 64 are clamped to 64 (the reference's `data >> i`
 * at i >= 64 is C undefined behavior); tokens whose bits would spill
 * past metabits into the record's byte-rounding slack are dropped
 * rather than written into padding (our Feature carries the metabits
 * field, not raw record bytes).
 */
object TextSource {
  // sscanf-PREFIX emulation: match at the token start, ignore the tail
  private val Vertex =
    """([-+]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][-+]?[0-9]+)?),([-+]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][-+]?[0-9]+)?)""".r
  private val SizedMeta = """([-+]?[0-9]+):([-+]?[0-9]+)""".r
  private val BareMeta = """:([-+]?[0-9]+)""".r

  /** glibc strtoll/strtol clamp semantics on overflow. */
  private def longClamped(s: String): Long =
    try s.toLong catch { case _: NumberFormatException =>
      if (s.startsWith("-")) Long.MinValue else Long.MaxValue }
  private def intClamped(s: String): Int =
    try s.toInt catch { case _: NumberFormatException =>
      if (s.startsWith("-")) Int.MinValue else Int.MaxValue }

  /** Parse one input line; None if no valid feature. */
  def parseLine(line: String, mapbits: Int, metabits: Int): Option[Feature] = {
    val toks = line.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) return None
    val lats = scala.collection.mutable.ArrayBuffer.empty[Double]
    val lons = scala.collection.mutable.ArrayBuffer.empty[Double]
    var metaAcc = 0L
    var used = 0
    def packMeta(size: Int, value: Long): Unit = {
      val sz = math.min(math.max(size, 0), 64)
      val take = math.min(sz, metabits - used)
      if (take > 0) {
        val window = (value >> (sz - take)) & (if (take >= 64) -1L else (1L << take) - 1)
        metaAcc |= window << (metabits - used - take)
        used += take
      }
    }
    var k = 0
    var stop = false
    while (k < toks.length && !stop) {
      val t = toks(k)
      Vertex.findPrefixMatchOf(t) match {
        case Some(m) =>
          lats += m.group(1).toDouble
          lons += m.group(2).toDouble
        case None => SizedMeta.findPrefixMatchOf(t) match {
          case Some(m) => packMeta(intClamped(m.group(1)), longClamped(m.group(2)))
          case None => BareMeta.findPrefixMatchOf(t) match {
            case Some(m) => packMeta(metabits, longClamped(m.group(1)))
            case None => stop = true // keep the prefix parsed so far
          }
        }
      }
      k += 1
    }
    if (lats.isEmpty) return None
    if (!lats.indices.forall(i => Mercator.valid(lats(i), lons(i)))) return None
    val cells = lats.indices.map { i =>
      Cell.truncate(
        Cell.encode(Mercator.lonToX32(lons(i)).toInt, Mercator.latToY32(lats(i)).toInt),
        mapbits)
    }.toArray
    Some(Feature(cells(0), cells, metaAcc))
  }

  /** Read a text dataset of features (distributed). */
  def read(spark: SparkSession, path: String, encodeZoom: Int = 16, metabits: Int = 0): Dataset[Feature] = {
    import spark.implicits._
    val mapbits = 2 * (encodeZoom + 8)
    spark.read.textFile(path).flatMap(parseLine(_, mapbits, metabits))
  }

  /** Streaming ingest of the same text format (the reference's
    * encode-new-files workflow as a Structured Streaming source): new
    * files landing in `dir` become parsed features incrementally. */
  def readStream(spark: SparkSession, dir: String, encodeZoom: Int = 16, metabits: Int = 0): Dataset[Feature] = {
    import spark.implicits._
    val mapbits = 2 * (encodeZoom + 8)
    spark.readStream.textFile(dir).flatMap(parseLine(_, mapbits, metabits))
  }
}
