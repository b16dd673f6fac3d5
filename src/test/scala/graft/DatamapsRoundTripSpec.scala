package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.core.{Cell, Feature}
import graft.sinks.Sinks
import graft.sources.DatamapsSource

/** The `.dm` binary format round trip, checked without the reference
  * binaries: generated points and polylines written with
  * Sinks.writeDatamapsBinary, read back with DatamapsSource.read and
  * written again must give byte-identical trees (`meta` and every
  * `<n>,<common>` file) and the same feature multiset. Coordinates are
  * generated at the encode zoom's resolution (2*(zoom+8) map bits), so
  * the first write loses nothing and the read must return exactly the
  * generated features. */
class DatamapsRoundTripSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One coordinate at `levels` bits: the top bits of `prefix` above
    * `shared` levels, fresh bits below. */
  private def coord(levels: Int, prefix: Int, shared: Int): Gen[Int] =
    Gen.choose(Int.MinValue, Int.MaxValue).map { fresh =>
      val keep = if (shared == 0) 0 else -1 << (32 - shared)
      ((prefix & keep) | (fresh & ~keep)) & (-1 << (32 - levels))
    }

  /** A point (n = 1) or a polyline of 2-4 vertices whose tail shares a
    * random number of quadtree levels with the first vertex, so the
    * `common` file split varies. */
  private def feature(levels: Int, metabits: Int): Gen[Feature] = for {
    n <- Gen.frequency(3 -> Gen.const(1), 2 -> Gen.choose(2, 4))
    x0 <- coord(levels, 0, 0)
    y0 <- coord(levels, 0, 0)
    shared <- Gen.choose(0, levels)
    rest <- Gen.listOfN(n - 1, for {
      x <- coord(levels, x0, shared)
      y <- coord(levels, y0, shared)
    } yield Cell.encode(x, y))
    meta <- if (metabits == 0) Gen.const(0L) else Gen.choose(0L, (1L << metabits) - 1)
  } yield {
    val vs = (Cell.encode(x0, y0) +: rest).toArray
    Feature(vs(0), vs, meta)
  }

  private def dataset(levels: Int): Gen[(Int, Seq[Feature])] = for {
    metabits <- Gen.oneOf(0, 8, 12)
    fs <- Gen.nonEmptyListOf(feature(levels, metabits))
  } yield (metabits, fs)

  private def tree(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().filter(_.isFile)
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  private def key(f: Feature): String = f.vertices.mkString(",") + ":" + f.meta

  Seq(8, 16).foreach { zoom =>
    test(s"write -> DatamapsSource.read -> write is a byte round trip (encode zoom $zoom)") {
      import spark.implicits._
      val levels = zoom + 8
      val base = Files.createTempDirectory(s"dm_rt$zoom").toString
      val cases = Iterator.from(1)
      val prop = Prop.forAllNoShrink(dataset(levels)) { case (metabits, fs) =>
        val dir = s"$base/${cases.next()}"
        val first = s"$dir/first"; val second = s"$dir/second"
        Sinks.writeDatamapsBinary(spark.createDataset(fs), first, zoom, metabits)
        val read = DatamapsSource.read(spark, first)
        Sinks.writeDatamapsBinary(read, second, zoom, metabits)
        val (t1, t2) = (tree(first), tree(second))
        val readBack = read.collect().map(key).sorted.toSeq
        Prop(t1.keySet == t2.keySet) :| s"file sets ${t1.keySet} vs ${t2.keySet}" &&
          Prop(t1 == t2) :| "file bytes differ" &&
          Prop(readBack == fs.map(key).sorted) :| "features read back differ from those written"
      }
      val params = Test.Parameters.default.withMinSuccessfulTests(12).withMaxSize(24)
        .withInitialSeed(Seed(20261018L + zoom)).withWorkers(1)
      val res = Test.check(params, prop)
      assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
      assert(Files.exists(Paths.get(s"$base/1/first/meta")))
    }
  }
}
