package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** kNN ring-expansion correctness including the sparse-region fallback
  * (queries whose ring has < k candidates or whose k-th neighbor is
  * beyond the ring guarantee radius). */
class KnnSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("ring kNN equals brute force, including sparse-region fallback queries") {
    import spark.implicits._
    val r = new scala.util.Random(99)
    // clustered points: dense blob + a few isolated outliers
    val pts = ((0 until 5000).map(_ => (r.nextLong(1L << 24), r.nextLong(1L << 20), r.nextLong(1L << 20))) ++
      (0 until 5).map(i => (900000L + i, (1L << 23) + i * 1000L, (1L << 23) + i * 1000L)))
      .toDF("id", "x", "y")
    // queries: some in the blob, some FAR outside it (forces fallback)
    val qs = ((0 until 5).map(i => (i.toLong, r.nextLong(1L << 20), r.nextLong(1L << 20))) ++
      (5 until 10).map(i => (i.toLong, (1L << 23) + r.nextLong(1L << 20), (1L << 23) + r.nextLong(1L << 20))))
      .toDF("qid", "qx", "qy")

    val got = graft.join.Knn.knnJoin(spark, pts, qs, k = 7, tileShift = Some(14))
      .select("qid", "id", "rn").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap

    // brute force expected
    val allPts = pts.as[(Long, Long, Long)].collect()
    val allQs = qs.as[(Long, Long, Long)].collect()
    allQs.foreach { case (qid, qx, qy) =>
      val expect = allPts.map { case (id, x, y) =>
        (id, (x - qx) * (x - qx) + (y - qy) * (y - qy))
      }.sortBy(t => (t._2, t._1)).take(7).map(_._1).toSeq
      assert(got(qid) == expect, s"qid=$qid")
    }
  }

  test("d2-capped fallback: ring-corner candidates bound the scan but true neighbors outside the ring still win") {
    import spark.implicits._
    // tileShift 10 -> tile side 1024, guard = 1024, guard2 = 1048576.
    // Query at a tile center; 6 points in the ring's far corner at
    // distance ~2.5 tiles (IN the 3x3 ring join, so n >= k, but
    // kth > guard2 -> unresolved WITH a finite d2cap); 3 points just
    // OUTSIDE the ring at ~1.2 tiles — closer than the corner points,
    // invisible to the ring join, and findable only by the fallback.
    // The capped fallback must return corner-bound-filtered exact kNN:
    // the 3 outside points plus the 2 nearest corner points.
    val qx = 512L + 8192L; val qy = 512L + 8192L // center of tile (8,8)
    // ring tile (9,9) spans [9216,10239]: d ~ sqrt(2)*1500 > guard 1024
    val corner = (0 until 6).map(i => (100L + i, qx + 1500L + i, qy + 1500L))
    // x = 7104 -> tile 6, OUTSIDE the 3x3 ring, d = 1600 < corner d
    val outside = (0 until 3).map(i => (200L + i, qx - 1600L - i, qy))
    val pts = (corner ++ outside).toDF("id", "x", "y")
    val qs = Seq((1L, qx, qy)).toDF("qid", "qx", "qy")
    val (res, fbCnt) = graft.join.Knn.knnJoinWithStats(spark, pts, qs, k = 5, tileShift = Some(10))
    assert(fbCnt == 1L, s"query must be fallback-handled (got $fbCnt)")
    val got = res.select("id", "rn").as[(Long, Int)].collect().sortBy(_._2).map(_._1).toSeq
    val expect = (corner ++ outside).map { case (id, x, y) =>
      (id, (x - qx) * (x - qx) + (y - qy) * (y - qy))
    }.sortBy(t => (t._2, t._1)).take(5).map(_._1).toSeq
    assert(got == expect, s"got $got expected $expect")
    assert(outside.map(_._1).forall(expect.contains), "outside-ring points must rank")
  }

  test("NULL qids are dropped; they neither pollute results nor skew the fallback decision") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val pts = (0 until 2000).map(_ =>
      (r.nextLong(1L << 24), r.nextLong(1L << 20), r.nextLong(1L << 20))).toDF("id", "x", "y")
    // one resolvable NULL-qid row (dense region) + one real query FAR
    // outside the blob (must route through the exact fallback): before
    // the null filter, the NULL group counted as resolved while
    // countDistinct excluded it, so unresolved arithmetic hit 0 and the
    // far query got its incomplete ring candidates as final kNN
    val qs = Seq((Some(1L), 1000L, 1000L), (None, 2000L, 2000L),
      (Some(2L), (1L << 23), (1L << 23)))
      .toDF("qid", "qx", "qy")
    val (res, fbCnt) = graft.join.Knn.knnJoinWithStats(spark, pts, qs, k = 5, tileShift = Some(14))
    val rows = res.select("qid", "id", "rn").as[(Option[Long], Long, Int)].collect()
    assert(rows.forall(_._1.isDefined), "null qid leaked into results")
    // the old bug reported 0 here (NULL group counted resolved, fast
    // path taken) — the far query MUST be fallback-handled
    assert(fbCnt >= 1L, s"far query must be fallback-handled, got $fbCnt")
    val allPts = pts.as[(Long, Long, Long)].collect()
    for ((qid, qx, qy) <- Seq((1L, 1000L, 1000L), (2L, 1L << 23, 1L << 23))) {
      val expect = allPts.map { case (id, x, y) =>
        (id, (x - qx) * (x - qx) + (y - qy) * (y - qy))
      }.sortBy(t => (t._2, t._1)).take(5).map(_._1).toSeq
      val gotQ = rows.filter(_._1.contains(qid)).sortBy(_._3).map(_._2).toSeq
      assert(gotQ == expect, s"qid=$qid")
    }
  }

  test("auto tile shift: density-derived zoom resolves >=95% of skewed queries in-ring") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    // skewed: 90% of points in a dense 2^16-wide blob inside a 2^22
    // extent, 10% scattered; queries follow the same distribution
    val blob = 1L << 21
    val pts = ((0 until 9000).map(i =>
      (i.toLong, blob + r.nextLong(1L << 16), blob + r.nextLong(1L << 16))) ++
      (9000 until 10000).map(i =>
        (i.toLong, r.nextLong(1L << 22), r.nextLong(1L << 22)))).toDF("id", "x", "y")
    val qs = ((0 until 58).map(i =>
      (i.toLong, blob + r.nextLong(1L << 16), blob + r.nextLong(1L << 16))) ++
      (58 until 60).map(i =>
        (i.toLong, r.nextLong(1L << 22), r.nextLong(1L << 22)))).toDF("qid", "qx", "qy")

    // the shift the join derives when given none: the same sizing
    // aggregate, read directly
    val shift = graft.join.Knn.tileShiftFor(pts, k = 5)
    assert(shift > 0 && shift < 31, s"degenerate auto shift $shift")
    val (gotDf, fallbacks) = graft.join.Knn.knnJoinWithStats(spark, pts, qs, k = 5)
    val got = gotDf
      .select("qid", "id", "rn").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(fallbacks <= 3, // >= 95% resolved in-ring
      s"auto shift $shift sent $fallbacks/60 queries to the fallback")

    val allPts = pts.as[(Long, Long, Long)].collect()
    qs.as[(Long, Long, Long)].collect().foreach { case (qid, qx, qy) =>
      val expect = allPts.map { case (id, x, y) =>
        (id, (x - qx) * (x - qx) + (y - qy) * (y - qy))
      }.sortBy(t => (t._2, t._1)).take(5).map(_._1).toSeq
      assert(got(qid) == expect, s"qid=$qid (shift=$shift)")
    }
  }

  test("duplicate/NULL contracts: exact dup queries collapse, conflicting dups reject, NULL-coord points never rank") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import spark.implicits._
    val r = new scala.util.Random(3)
    val ptsSchema = StructType(Seq(StructField("id", LongType),
      StructField("x", LongType), StructField("y", LongType)))
    // 200 real points + one NULL-coord row; a FAR query forces the
    // exact fallback where a NULL d2 would sort NULLS FIRST into rn=1
    val ptRows = (0 until 200).map(i =>
      Row(i.toLong, r.nextLong(1L << 16), r.nextLong(1L << 16))) :+ Row(999L, null, null)
    val pts = spark.createDataFrame(spark.sparkContext.parallelize(ptRows, 2), ptsSchema)
    // the same far query REPEATED: candidates must not duplicate
    val qs = Seq((1L, 1L << 22, 1L << 22), (1L, 1L << 22, 1L << 22)).toDF("qid", "qx", "qy")
    val got = graft.join.Knn.knnJoin(spark, pts, qs, k = 4, tileShift = Some(12))
      .select("qid", "id", "rn").as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(got.length == 4, s"expected 4 rows, got ${got.length}")
    assert(got.map(_._2).distinct.length == 4, "duplicate query rows duplicated candidates")
    assert(!got.map(_._2).contains(999L), "NULL-coord point ranked as a neighbor")
    // one qid with two DIFFERENT coordinates is a contract violation
    val bad = Seq((1L, 0L, 0L), (1L, 5L, 5L)).toDF("qid", "qx", "qy")
    val e = intercept[IllegalArgumentException] {
      graft.join.Knn.knnJoin(spark, pts, bad, k = 2, tileShift = Some(12)).collect()
    }
    assert(e.getMessage.contains("CONFLICTING"))
  }

  test("d2 exactness: |coord| >= 2^30 rejects on the points side and the query side, on every call path") {
    import spark.implicits._
    val r = new scala.util.Random(5)
    val ok = (0 until 100).map(i => (i.toLong, r.nextLong(1L << 20), r.nextLong(1L << 20)))
    val pts = (ok :+ ((100L, 1L << 30, 5L))).toDF("id", "x", "y")
    val qs = Seq((1L, 1000L, 1000L)).toDF("qid", "qx", "qy")
    def rejects(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains("|coord| < 2^30"), e.getMessage)
    }
    rejects(graft.join.Knn.knnJoin(spark, pts, qs, k = 3, tileShift = Some(14)).collect())
    rejects(graft.join.Knn.knnJoin(spark, pts, qs, k = 3).collect())
    // a second auto call on the SAME DataFrame must check again
    rejects(graft.join.Knn.knnJoin(spark, pts, qs, k = 3).collect())
    val farQ = Seq((1L, -(1L << 30), 1000L)).toDF("qid", "qx", "qy")
    rejects(graft.join.Knn.knnJoin(spark, ok.toDF("id", "x", "y"), farQ, k = 3).collect())
  }

  test("tileShift outside [0, 31] is rejected; both ends of the range stay exact") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    val pts = (0 until 300).map(i => (i.toLong, r.nextLong(1L << 20), r.nextLong(1L << 20)))
      .toDF("id", "x", "y")
    val qs = Seq((1L, 5000L, 7000L), (2L, 900000L, 300000L)).toDF("qid", "qx", "qy")
    Seq(-1, 32, 64).foreach { s =>
      val e = intercept[IllegalArgumentException] {
        graft.join.Knn.knnJoin(spark, pts, qs, k = 3, tileShift = Some(s)).collect()
      }
      assert(e.getMessage.contains("[0, 31]"), e.getMessage)
    }
    val allPts = pts.as[(Long, Long, Long)].collect()
    Seq(0, 31).foreach { s =>
      val got = graft.join.Knn.knnJoin(spark, pts, qs, k = 3, tileShift = Some(s))
        .select("qid", "id", "rn").as[(Long, Long, Int)].collect()
      qs.as[(Long, Long, Long)].collect().foreach { case (qid, qx, qy) =>
        val expect = allPts.map { case (id, x, y) =>
          (id, (x - qx) * (x - qx) + (y - qy) * (y - qy))
        }.sortBy(t => (t._2, t._1)).take(3).map(_._1).toSeq
        assert(got.filter(_._1 == qid).sortBy(_._3).map(_._2).toSeq == expect, s"shift=$s qid=$qid")
      }
    }
  }
}
