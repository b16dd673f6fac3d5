package graft.join

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * k-nearest-neighbor join via cell-ring expansion (the reference's
 * neighbor-ring probe, render.c:947-967, generalized): points are
 * bucketed by tile at a caller-given or density-chosen zoom; each query
 * probes its 3x3 ring of tiles through a hash join; an exact top-k window
 * finishes. Queries whose k-th candidate distance exceeds the ring
 * guarantee radius fall back to an exact broadcast pass, so results are
 * exactly the true kNN (ties broken by id) — which the DuckDB
 * brute-force oracle reproduces.
 *
 * Scale shape: the candidate join is a shuffle hash join on tile id —
 * no cross product; the fallback touches only unresolved queries (rare
 * when z is density-matched) with a broadcast of those queries.
 */
object Knn {

  /** Each query probes its (2*Ring+1)^2 neighborhood of tiles. */
  private val Ring = 1

  /** Density-model safety factor: the auto shift picks the smallest
    * tiles whose average ring holds ~TargetFactor*k points. 8, not 4:
    * the model is uniform, and a query in a below-average-density pocket
    * at factor 4 lands right at the resolve boundary, where its fallback
    * costs a full map-side point scan. One extra doubling costs ~2x ring
    * candidates and took the measured workload from 1 fallback to 0. */
  private val TargetFactor = 8.0

  /** d2 exactness: |coord| < 2^30 keeps dx^2 + dy^2 < 2^63 under ANSI. */
  private val CoordBound = 1L << 30

  private def inBounds(vs: Long*): Boolean = vs.forall(v => v > -CoordBound && v < CoordBound)

  /** Points (id, x, y) with long coords and NULL-coordinate rows dropped:
    * such a point never matches the ring join but would enter the exact
    * fallback with d2 = NULL, which ascending window order sorts NULLS
    * FIRST, stealing rn=1 from a true neighbor. */
  private def pointsOf(points: DataFrame): DataFrame =
    points.select(col("id"), col("x").cast("long"), col("y").cast("long"))
      .filter(col("x").isNotNull && col("y").isNotNull)

  /** THE points-side sizing-and-bounds aggregate: one row of count plus
    * the x/y extent. Every join call computes it exactly once, inside
    * the same action as the query-side aggregate (see [[knnJoinWithStats]]). */
  private def pointStats(points: DataFrame): DataFrame =
    pointsOf(points).agg(count(lit(1)).as("n"), min(col("x")).as("x0"), max(col("x")).as("x1"),
      min(col("y")).as("y0"), max(col("y")).as("y1"))

  /** From a [[pointStats]] row (fields 0-4): enforces the |coord| < 2^30
    * contract (raw 32-bit world coords must be pre-shifted right by 2 or
    * more) and, when the caller gives no `tileShift`, derives one from
    * point density: the smallest tiles whose average ring still holds
    * ~TargetFactor*k points, so the exact fallback stays rare.
    * Uniform-density model: a ring in a sparse pocket can still fall
    * back; exactness is never at stake, only the fallback rate. */
  private def shiftFrom(r: Row, k: Int, tileShift: Option[Int]): Int = {
    if (r.isNullAt(1)) return tileShift.getOrElse(16) // no points: any shift works
    val (x0, x1, y0, y1) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    require(inBounds(x0, x1, y0, y1),
      s"knnJoin point coords must satisfy |coord| < 2^30 for exact d2 " +
        s"(got extent [$x0, $x1] x [$y0, $y1]); shift raw 32-bit coords right first")
    tileShift.getOrElse {
      val density = r.getLong(0) / (math.max(x1 - x0, 1L).toDouble * math.max(y1 - y0, 1L))
      val ringTiles = (2.0 * Ring + 1) * (2 * Ring + 1)
      // expected ring points = density * ringTiles * 4^shift >= TargetFactor * k
      val need = TargetFactor * k / (density * ringTiles)
      val shift = math.ceil(math.log(math.max(need, 1.0)) / math.log(4.0)).toInt
      math.min(math.max(shift, 0), 31)
    }
  }

  /** The shift a [[knnJoin]] call on `points` derives when given no
    * `tileShift`, through the same aggregate and checks. */
  private[graft] def tileShiftFor(points: DataFrame, k: Int): Int =
    shiftFrom(pointStats(points).head(), k, None)

  /**
   * points:  (id, x, y)    integer coords with |coord| < 2^30 (so d2 is exact).
   * queries: (qid, qx, qy)
   * tileShift: bits to shift a coord right to get its bucketing tile;
   * None derives it from point density (see [[tileShiftFor]]).
   */
  def knnJoin(spark: SparkSession, points: DataFrame, queries: DataFrame,
              k: Int, tileShift: Option[Int] = None): DataFrame =
    knnJoinWithStats(spark, points, queries, k, tileShift)._1

  /** [[knnJoin]] plus the number of queries the exact broadcast
    * fallback handled (0 = everything resolved in-ring). Returned to
    * the caller — not a JVM-global — so concurrent joins in one session
    * each see their own count. Results are exact either way; a high
    * fraction means the bucketing zoom is density-mismatched and the
    * fallback is doing the work a better tile size would have avoided. */
  def knnJoinWithStats(spark: SparkSession, points: DataFrame, queries: DataFrame,
                       k: Int, tileShift: Option[Int] = None): (DataFrame, Long) = {
    tileShift.foreach(s => require(s >= 0 && s <= 31, s"knnJoin tileShift must be in [0, 31] (got $s)"))
    // each query probes its (2r+1)^2 ring of tiles. NULL qids are
    // dropped up front: results are keyed by qid, so a NULL row is
    // unanswerable anyway — and if it entered, the per-qid window would
    // merge every NULL query into ONE top-k group while the
    // countDistinct below EXCLUDES the NULL group, skewing the
    // resolved/unresolved arithmetic that gates the exact fallback.
    // EXACT duplicate query rows collapse (a repeated row would
    // duplicate every candidate and make the top-k window return fewer
    // than k DISTINCT neighbors); one qid asking two different
    // coordinates is rejected below — the per-qid window cannot answer
    // both.
    val q = queries.select(col("qid"), col("qx").cast("long"), col("qy").cast("long"))
      .filter(col("qid").isNotNull && col("qx").isNotNull && col("qy").isNotNull)
      .dropDuplicates("qid", "qx", "qy")
    // ONE action funds every decision: the points-side bounds and shift
    // (fields 0-4), and per query (fields 5-10) broadcast sizing, the
    // duplicate-qid contract, the query-side d2-exactness bound and the
    // resolved/unresolved split (per DISTINCT qid). The two scans run as
    // concurrent stages of that action.
    val stats = pointStats(points).crossJoin(q.agg(count(lit(1)).as("rows"),
      countDistinct(col("qid")).as("qids"),
      min(col("qx")).as("qx0"), max(col("qx")).as("qx1"),
      min(col("qy")).as("qy0"), max(col("qy")).as("qy1"))).head()
    val shift = shiftFrom(stats, k, tileShift)
    val qRows = stats.getLong(5)
    val qCount = stats.getLong(6)
    require(qRows == qCount,
      s"knnJoin: ${qRows - qCount} duplicate qid row(s) with CONFLICTING coordinates " +
        "(exact duplicates collapse; one qid cannot ask two different queries)")
    // the same |coord| < 2^30 contract as the points side
    require(qRows == 0 || inBounds((7 to 10).map(stats.getLong): _*),
      "knnJoin query coords must satisfy |coord| < 2^30 for exact d2; shift raw 32-bit coords right first")

    val pts = pointsOf(points)
      .withColumn("tx", expr(s"x >> $shift"))
      .withColumn("ty", expr(s"y >> $shift"))
    val qTiles = q
      .withColumn("dx", explode(sequence(lit(-Ring), lit(Ring))))
      .withColumn("dy", explode(sequence(lit(-Ring), lit(Ring))))
      .withColumn("tx", expr(s"(qx >> $shift) + dx"))
      .withColumn("ty", expr(s"(qy >> $shift) + dy"))
      .drop("dx", "dy")

    val d2 = (col("x") - col("qx")) * (col("x") - col("qx")) +
      (col("y") - col("qy")) * (col("y") - col("qy"))

    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("id").asc)
    // Broadcast the query-tile ring only while it plausibly fits in an
    // executor (rows ~ |queries| * (2r+1)^2); past that, fall back to a
    // shuffle hash join — still no cross product, just hashed on tile id.
    val ringRows = qRows * (2L * Ring + 1) * (2L * Ring + 1)
    // broadcast gate in BYTES, not rows: qid's type is caller-chosen,
    // and 4M rows of long string qids is a very different broadcast
    // from 4M rows of longs
    val qRowBytes = q.schema.map(_.dataType.defaultSize).sum + 24L
    val qSide = if (ringRows * qRowBytes <= (192L << 20)) broadcast(qTiles) else qTiles
    // Eagerly localCheckpoint the (tiny, <= |queries|*k rows) top-k
    // candidate set: the resolved/good/unresolved consumers below would
    // otherwise re-run the full candidate join + window three times, and
    // unlike cache() the blocks are lineage-free and reclaimed by the
    // ContextCleaner as soon as the result Dataset is dropped — no
    // unpersist obligation leaks to the caller. The (huge) point side
    // never shuffles for the broadcast candidate join; only candidates
    // reach the per-query window.
    val cand = pts.join(qSide, Seq("tx", "ty"))
      .select(col("qid"), col("qx"), col("qy"), col("id"), d2.as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .localCheckpoint(true)

    // ring guarantee: everything within guard of the query is in the ring
    val guard = Ring.toLong << shift // min distance to outside the ring
    // a ring wider than the coordinate space trivially resolves every
    // query; guard*guard would wrap negative for shift >= 31 and
    // mark EVERYTHING unresolved (full-corpus fallback)
    val guard2 = if (guard >= (1L << 31)) Long.MaxValue else guard * guard
    def qstats = cand.groupBy("qid")
      .agg(count(lit(1)).as("n"), max(col("d2")).as("kth"))
    def resolvedSet = qstats
      .filter(col("n") >= k && col("kth") <= guard2)
      .select("qid")

    // fallback decision folded into ONE tiny aggregate over the
    // checkpointed (<= |queries|*k row) candidates: unresolved count =
    // qCount - resolved count, and the common all-resolved case returns
    // the checkpointed candidates DIRECTLY — no semi-join, no anti-join,
    // no extra pass over q. (Previously this was a separate anti-join
    // count job; at 43-query bench scale the three per-call actions made
    // q47 the slowest row for pure fixed-overhead reasons.)
    val resolvedCnt = resolvedSet.count()
    val unresolvedCnt = qCount - resolvedCnt
    if (unresolvedCnt == 0) (cand.select("qid", "id", "d2", "rn"), 0L)
    else {
      val resolved = resolvedSet
      val good = cand.join(resolved, Seq("qid"), "left_semi")
        .select("qid", "id", "d2", "rn")
      // exact fallback for unresolved queries: broadcast those queries
      // over the full point table (they are few by construction). The
      // scan is map-side and unavoidable for exactness, but the top-k
      // window is NOT allowed to receive the whole table: a query whose
      // ring already produced >= k candidates (kth merely beyond the
      // guard radius) has a PROOF that the true k-th distance is <= its
      // ring kth — any farther point is beaten by those k candidates —
      // so d2 <= kth pre-filters the scan down to ~k rows per query
      // before anything shuffles into the per-qid window partition.
      // (Previously every point row shuffled into that one partition:
      // a single sparse-pocket query cost a full-table window pass —
      // the r6 q47-vs-q10 2x gap.) Only a query with FEWER than k ring
      // candidates (sparse pocket squared) keeps the unbounded filter.
      val unresolved = q.join(resolved, Seq("qid"), "left_anti")
        .join(qstats, Seq("qid"), "left")
        .select(col("qid"), col("qx"), col("qy"),
          when(col("n").isNotNull && col("n") >= k, col("kth"))
            .otherwise(lit(Long.MaxValue)).as("d2cap"))
      // the SAME d2 val as the ring path — the exactness proof assumes
      // both paths compute the identical metric
      val fb = pts.crossJoin(broadcast(unresolved))
        .select(col("qid"), col("id"), d2.as("d2"), col("d2cap"))
        .filter(col("d2") <= col("d2cap"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select("qid", "id", "d2", "rn")
      (good.unionByName(fb), unresolvedCnt)
    }
  }
}
