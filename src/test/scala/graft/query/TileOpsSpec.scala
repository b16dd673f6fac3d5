package graft.query

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.core.Cell

/** The one cell-range predicate (TileOps.cellInRanges) over generated
  * range sets: a cell passes iff it lies in some input range, and the
  * coalesced form (Cell.coalesceRanges) is sorted, disjoint and
  * non-adjacent — including ranges that end at Long.MaxValue, where a
  * naive `hi + 1` adjacency test wraps. */
class TileOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Cells of `probes` that pass the predicate built from `ranges`. */
  private def passing(ranges: Seq[(Long, Long)], probes: Seq[Long]): Set[Long] = {
    import spark.implicits._
    probes.toDF("cell").filter(TileOps.cellInRanges(ranges)).as[Long].collect().toSet
  }

  /** Every range boundary and its outside neighbours, plus both ends of
    * the cell space. */
  private def probesOf(ranges: Seq[(Long, Long)]): Seq[Long] =
    (ranges.flatMap { case (lo, hi) =>
      Seq(lo, hi, lo + ((hi - lo) >>> 1)) ++
        (if (lo > Long.MinValue) Seq(lo - 1) else Nil) ++
        (if (hi < Long.MaxValue) Seq(hi + 1) else Nil)
    } ++ Seq(Long.MinValue, Long.MaxValue, 0L)).distinct

  private def inSome(ranges: Seq[(Long, Long)], c: Long): Boolean =
    ranges.exists { case (lo, hi) => lo <= c && c <= hi }

  private def assertCoalesced(merged: Seq[(Long, Long)]): Unit = {
    merged.foreach { case (lo, hi) => assert(lo <= hi, s"empty range in $merged") }
    merged.zip(merged.drop(1)).foreach { case ((_, hi0), (lo1, _)) =>
      assert(hi0 < Long.MaxValue && lo1 > hi0 + 1, s"touching or unsorted ranges in $merged")
    }
  }

  private def check(ranges: Seq[(Long, Long)]): Unit = {
    assertCoalesced(Cell.coalesceRanges(ranges))
    val probes = probesOf(ranges)
    assert(passing(ranges, probes) == probes.filter(inSome(ranges, _)).toSet, s"ranges $ranges")
  }

  test("cellInRanges: no ranges is lit(false)") {
    assert(TileOps.cellInRanges(Nil).toString == lit(false).toString)
    assert(passing(Nil, Seq(Long.MinValue, 0L, Long.MaxValue)).isEmpty)
  }

  test("cellInRanges: overlapping, adjacent and MaxValue-ended ranges coalesce") {
    assert(Cell.coalesceRanges(Seq((5L, 20L), (0L, 10L))) == Seq((0L, 20L)))
    assert(Cell.coalesceRanges(Seq((11L, 20L), (0L, 10L), (22L, 30L))) == Seq((0L, 20L), (22L, 30L)))
    val top = Seq((Long.MaxValue - 10, Long.MaxValue), (Long.MaxValue - 5, Long.MaxValue - 1),
      (Long.MaxValue, Long.MaxValue))
    assert(Cell.coalesceRanges(top) == Seq((Long.MaxValue - 10, Long.MaxValue)))
    assert(Cell.coalesceRanges(Seq((Long.MinValue, -1L), (0L, Long.MaxValue))) ==
      Seq((Long.MinValue, Long.MaxValue)))
    Seq(top, Seq((5L, 20L), (0L, 10L)), Seq((11L, 20L), (0L, 10L))).foreach(check)
  }

  test("cellInRanges: a cell passes iff it lies in some input range (generated range sets)") {
    // starts cluster around a few anchors so overlaps, adjacency and
    // the top of the cell space all come up often
    val anchors = Seq(Long.MinValue, -1000L, 0L, 1000L, Long.MaxValue - 300)
    val range: Gen[(Long, Long)] = for {
      a <- Gen.oneOf(anchors)
      off <- Gen.choose(0L, 200L)
      len <- Gen.choose(0L, 60L)
      toTop <- Gen.frequency(1 -> true, 6 -> false)
    } yield {
      val lo = a + off
      (lo, if (toTop) Long.MaxValue else lo + len)
    }
    val prop = Prop.forAllNoShrink(Gen.choose(0, 10).flatMap(Gen.listOfN(_, range))) { ranges =>
      check(ranges)
      Prop.passed
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(60)
      .withInitialSeed(Seed(20261019L)).withWorkers(1)
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}
