package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.{BitPack, Cell, Feature}

/**
 * Read the reference engine's own binary dataset format (the inverse of
 * Sinks.writeDatamapsBinary; encode.c:274-403 layout): a `meta`
 * descriptor plus fixed-width bit-packed record files `<n>,<common>`.
 * Each file becomes a distributed fixed-length binaryRecords scan —
 * datasets built by the original C tools load straight into the engine.
 */
object DatamapsSource {
  final case class DmMeta(mapbits: Int, metabits: Int, maxn: Int) {
    def encodeZoom: Int = mapbits / 2 - 8
  }

  def readMeta(dir: String): DmMeta = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(dir, "meta"))
    require(lines.size >= 2 && lines.get(0) == "1", s"$dir/meta: unknown version")
    val Array(mapbits, metabits, maxn) = lines.get(1).trim.split("\\s+").map(_.toInt)
    DmMeta(mapbits, metabits, maxn)
  }

  /** Distributed read of every record file into features. */
  def read(spark: SparkSession, dir: String): Dataset[Feature] = {
    import spark.implicits._
    val m = readMeta(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.matches("\\d+,\\d+"))
      .sortBy(_.getName)
    require(files.nonEmpty, s"$dir: no record files")
    // Hadoop input paths treat "," as a list separator, so the
    // reference's "<n>,<common>" file names need comma-free aliases
    val aliasDir = java.nio.file.Files.createTempDirectory("dmsrc")
    aliasDir.toFile.deleteOnExit()
    val parts = files.toSeq.map { f =>
      val Array(n, common) = f.getName.split(",").map(_.toInt)
      val bytes = BitPack.bytesFor(m.mapbits, m.metabits, n, common)
      val mapbits = m.mapbits; val metabits = m.metabits
      val alias = aliasDir.resolve(s"${n}_$common.bin")
      if (!java.nio.file.Files.exists(alias)) {
        java.nio.file.Files.createSymbolicLink(alias, f.toPath.toAbsolutePath)
        // deleteOnExit on the dir alone is a no-op while entries remain;
        // registrations run LIFO, so links registered after the dir
        // delete first and the dir actually goes away
        alias.toFile.deleteOnExit()
      }
      spark.sparkContext.binaryRecords(alias.toString, bytes)
        .map { buf =>
          val (xs, ys, meta) = BitPack.unpack(buf, mapbits, metabits, common, n)
          val cells = Array.tabulate(n)(i => Cell.encode(xs(i), ys(i)))
          Feature(cells(0), cells, meta)
        }.toDS()
    }
    parts.reduce(_ union _)
  }
}
