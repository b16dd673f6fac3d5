package graft.render

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.encode.Feature

/** One rendered tile. */
case class TileOut(z: Int, x: Int, y: Int, png: Array[Byte])

/** A feature occurrence shuffled to a tile's reducer. `slot` encodes the
  * reference's probe order so FP accumulation matches exactly:
  *  -1                               = points own range (do_tile render.c:942)
  *  0 .. (2r+1)^2-1                  = point neighbor probes, receiver ring
  *                                     radius r (render.c:947-967)
  *  (1L<<56) | (c0-z)<<40 | n        = line lookups above zDraw (:969-985)
  *  (2L<<56) | (z-c0)<<40 | n        = line lookups at/below zDraw (:987-1002)
  * Band fields are disjoint (level <= 32 in 16 bits, n capped at 2^40-1),
  * so slots never collide across bands/levels/vertex counts — unlike the
  * round-1 Int encoding 1000+(c0-z)*64+n, which collided for n >= 64.
  */
case class FeatCmd(tkey: Long, slot: Long, vertices: Array[Long], meta: Long, own: Boolean)

/**
 * Tile rasterization — the reference's `render` pipeline
 * (render.c:932-1003 + process :74-368) as one Spark job:
 *
 *   narrow (cell, meta, rank) point source -> flatMap to the tiles each
 *   feature is drawn into (pyramidCmds: own tile + 8-neighbour spill
 *   ring, step-sampled by rank; lineCmds: the line pyramid) -> one
 *   explicit repartition + sort on the tile key (streamGroups) -> canvas
 *   accumulation -> tone map -> PNG (renderOne).
 *
 * One shuffle; tiles are independent (the reference's xargs -P8 becomes
 * the shuffle partitioning). The repartition count is explicit because
 * AQE would coalesce the small command shuffle into one partition and
 * serialize the CPU-heavy reducers. Dense-city tiles are the skew risk:
 * the canvas is an associative monoid, so renderPyramidSalted renders
 * hot tiles as salted partial canvases and merges them.
 */
object Render {
  /** Add a global `rank` column over the (cell, meta)-sorted order —
    * the analog of the reference's file offset, needed for the
    * deterministic step-subsample at low zooms (render.c:165-167).
    *
    * The RESULT is persisted (MEMORY_AND_DISK) and materialized; callers
    * release it with `.unpersist()` when the renders are done. Memory
    * envelope: only the narrow (cell, meta, rank) projection is cached —
    * ~24 B/row columnar, so 10^12 rows is ~24 TB across the cluster,
    * which MEMORY_AND_DISK spills per-executor; at that scale prefer
    * writing the ranked snapshot to storage once and reading it back. */
  def withGlobalRank(points: DataFrame): DataFrame = {
    val (ranked0, frozen) = rankedOnFrozen(points)
    val ranked = ranked0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the ranked cache while `frozen` is still pinned (the
    // rank values are only valid on the frozen physical partitioning —
    // a recompute could re-sample different range boundaries), then
    // release the intermediate so long-running sessions don't leak it.
    ranked.count()
    frozen.unpersist()
    ranked
  }

  /** Shared rank computation: re-establish a total global order here —
    * a parquet read does NOT preserve partition order (Spark packs
    * splits by size), so ranks must come from a fresh range shuffle
    * whose partition index IS the range order. Ties (equal cell+meta)
    * may order differently across parallelism levels, but the sampled
    * multiset is invariant. Returns the lazily-ranked DF plus the
    * frozen cache handle the caller must consume-then-unpersist: the
    * cache pins the physical partitioning between the count pass and
    * the rank pass (the two jobs must see identical partitions).
    * rank = partitionOffset + local index, computed entirely with
    * codegen'd expressions: monotonically_increasing_id() packs
    * (partitionId << 33) | localIndex deterministically on the frozen
    * partitioning — no Row-object conversion on the (wide) scan. */
  private def rankedOnFrozen(points: DataFrame): (DataFrame, DataFrame) = {
    val spark = points.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism, points.rdd.getNumPartitions)
    val sorted = points
      .repartitionByRange(parts, col("cell"), col("meta"))
      .sortWithinPartitions(col("cell"), col("meta"))
    val frozen = sorted.cache()
    val withMid = frozen.withColumn("_mid", monotonically_increasing_id())
    val counts = withMid
      .groupBy(shiftrightunsigned(col("_mid"), 33).as("pid"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val maxPid = if (counts.isEmpty) 0L else counts.keys.max
    val offsets = (0L to maxPid).scanLeft(0L)((acc, i) => acc + counts.getOrElse(i, 0L))
    val offsetMap = map((0L to maxPid).flatMap(i => Seq(lit(i), lit(offsets(i.toInt)))): _*)
    val ranked = withMid
      .withColumn("rank",
        element_at(offsetMap, shiftrightunsigned(col("_mid"), 33)) +
          col("_mid").bitwiseAND(lit((1L << 33) - 1)))
      .drop("_mid")
    (ranked, frozen)
  }

  /** Rank once, persist to storage: write the narrow (cell, meta, rank)
    * projection as a parquet snapshot. At 10^12 rows this replaces
    * withGlobalRank's per-session ~24 B/row executor persist — renders
    * read the ranked table back with an ordinary pruned parquet scan
    * (`readRankedSnapshot`), and the rank values are frozen at write
    * time, so every later session (and every re-render) sees the same
    * deterministic step sample without re-sorting the corpus. */
  def writeRankedSnapshot(points: DataFrame, dir: String): Unit = {
    // write straight off the frozen partitioning — no intermediate
    // executor persist of the ranked rows, and no extra materialization
    // pass (the write IS the materialization)
    val (ranked, frozen) = rankedOnFrozen(points)
    try ranked.write.mode("overwrite").parquet(dir)
    finally frozen.unpersist()
  }

  /** Read a snapshot written by writeRankedSnapshot. Ranks are stored
    * values — no shuffle, no cache pin; tile range filters push down to
    * the (cell-clustered) parquet row groups. */
  def readRankedSnapshot(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Does a point rendered at zDraw use a brush larger than one pixel
    * anywhere (then splats may spill into adjacent tiles and the
    * receiver must probe its ring)? render.c:128-139 + 151-160. Spill
    * EMISSION may be conservative — the receiver only draws spilled
    * records once an own-range record actually set `further` — so:
    * metabrush mode always emits (meta can push any record's brush over
    * one pixel), and mercator compensation uses the worst-case (extreme
    * latitude) row scale. */
  def brushSpills(p: RenderParams, zDraw: Int): Boolean = {
    if (p.metabrush) return true
    val (_, brush, _) = p.pointParams(zDraw)
    val worstMerc = p.mercatorBrushScale(zDraw, 0) // row 0 = extreme latitude
    brush * worstMerc * (p.tilesize / 256.0) * (p.tilesize / 256.0) > 1
  }

  /** Receiving-tile probe ring radius for circle mode: the reference
    * probes above=below=(int)(cloudsize(receiver)+1) tiles
    * (do_tile render.c:947-956), with cloudsize divided by cos(lat) of
    * the RECEIVING tile row (render.c:60-72) — so high-latitude tiles
    * probe a wider ring. UNCAPPED up to the world width: a ring of 2^z
    * tiles already reaches every tile (receiver coords clamp to the
    * world), so no cloud ever loses cross-tile dots — the emission side
    * streams lazily (pointCmds), and the mercator amplification is
    * bounded anyway (1/cos(85°) ≈ 11.5x the equator ring). */
  private def circleRing(p: RenderParams, z: Int, row: Long): Int = {
    val n = 1L << z
    if (row < 0 || row >= n) 0
    else {
      val s = p.cloudSize(z, 0, row.toInt) + 1
      if (s >= n.toDouble) math.min(n, Int.MaxValue.toLong).toInt else s.toInt
    }
  }

  /** Does the receiver at (z, row) swap step into innerstep?
    * (render.c:175-182: only when step > 1 AND the pixel cloud size at
    * the receiving tile exceeds .0625 — for tinier clouds records stay
    * strided.) */
  private def circleSwapsAt(p: RenderParams, step: Int, z: Int, row: Long): Boolean =
    step > 1 && p.cloudSize(z, 0, row.toInt) * p.tilesize > .0625

  /** The narrow (cell, meta, rank) projection every point render reads;
    * a missing `meta` column renders as meta 0. `rank` is selected
    * whenever a requested zoom samples (step > 1), so an unranked input
    * fails at analysis there: it never defaults to 0, which would
    * render every row as sampled. */
  private def pointSource(points: DataFrame, zooms: Seq[Int], p: RenderParams): DataFrame =
    points.select(col("cell"),
      (if (points.columns.contains("meta")) col("meta") else lit(0L)).as("meta"),
      (if (zooms.exists(p.pointParams(_)._1 > 1)) col("rank") else lit(0L)).as("rank"))

  /** Point draw commands for one zoom zDraw. `emitSpill = false`
    * reproduces assemble mode, where the reference skips the
    * neighbor-probe loop entirely (do_tile render.c:947: `&& !assemble`)
    * — brush splats and clouds are clipped at tile windows instead of
    * pulled from neighbors. Outside circle mode this is pyramidCmds at
    * one zoom, after a column-level `rank % step` filter that drops
    * unsampled rows before deserialisation. */
  private def pointCmds(points: DataFrame, zDraw: Int, p: RenderParams,
                        emitSpill: Boolean = true): Dataset[FeatCmd] = {
    val spark = points.sparkSession
    import spark.implicits._
    val (step, _, _) = p.pointParams(zDraw)
    if (p.circle <= 0) {
      val sampled = if (step > 1) points.filter(col("rank") % step === 0) else points
      return pyramidCmds(pointSource(sampled, Seq(zDraw), p), Seq(zDraw), p, emitSpill)
    }
    // circle mode: the stride decision is per RECEIVING tile row (the
    // step/innerstep swap depends on the receiver's cloud pixel size),
    // so the rank rides into the flatMap unfiltered.
    // Widest possible receiver ring at this zoom = ring at the extreme-
    // latitude row (row 0); bounds the per-record row scan.
    val dyMax = circleRing(p, zDraw, 0L)
    pointSource(points, Seq(zDraw), p).as[(Long, Long, Long)]
      .flatMap { case (cell, meta, rank) =>
        val tx = Cell.tileX(cell, zDraw)
        val ty = Cell.tileY(cell, zDraw)
        val n = 1L << zDraw
        val strided = step > 1 && rank % step == 0
        // A record reaches receiver (rx, ry) iff it is within the
        // receiver's ring r(ry) and passes the receiver's stride rule
        // (unstrided when the receiver swaps step into innerstep).
        // Emission is a LAZY iterator — a degenerate giant cloud
        // streams its (2r+1)^2 commands through the shuffle writer
        // instead of buffering them in task memory, so the ring needs
        // no safety cap.
        def passes(row: Long): Boolean =
          step <= 1 || strided || circleSwapsAt(p, step, zDraw, row)
        val own =
          if (passes(ty))
            Iterator.single(FeatCmd(Cell.tileKey(zDraw, tx, ty), -1, Array(cell), meta, own = true))
          else Iterator.empty
        // scan candidate receiver rows; a receiver at row ry reaches
        // this record iff |ry - ty| <= ring(ry) (ring grows poleward)
        val dyLo = if (emitSpill) -dyMax else dyMax + 1
        val spillIt = (dyLo to dyMax).iterator.flatMap { dy =>
          val ry = ty + dy
          if (ry < 0 || ry >= n) Iterator.empty
          else {
            val r = circleRing(p, zDraw, ry)
            if (math.abs(dy) <= r && passes(ry)) {
              (-r to r).iterator.flatMap { dx =>
                val rx = tx + dx
                if (rx >= 0 && rx < n && (dx != 0 || dy != 0)) {
                  // receiver probe order: xx ascending outer, yy inner
                  // (render.c:957-965); sender offset inside that loop
                  val slot = (r - dx).toLong * (2 * r + 1) + (r - dy)
                  Iterator.single(FeatCmd(Cell.tileKey(zDraw, rx.toInt, ry.toInt), slot,
                    Array(cell), meta, own = false))
                } else Iterator.empty
              }
            } else Iterator.empty
          }
        }
        own ++ spillIt
      }
  }

  /** Line draw commands for zoom zDraw: the pyramid lookup inverted.
    * A line in "file" (n, c) is drawn into tile T(z,x,y) iff the first
    * vertex shares the level-min(z,c) prefix with T and (c > z implies
    * c <= z+8) (do_tile render.c:969-1002) — plus the draw itself clips,
    * so we emit only tiles the segments' bounding boxes touch. */
  private def lineCmds(lines: Dataset[Feature], zDraw: Int, mapbits: Int, p: RenderParams): Dataset[FeatCmd] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val z = zDraw
    lines.flatMap { f =>
      val n = f.vertices.length
      if (n < 2) Iterator.empty
      else {
        val xs = f.vertices.map(Cell.decodeX)
        val ys = f.vertices.map(Cell.decodeY)
        val xi = xs.map(v => v.toInt)
        val yi = ys.map(v => v.toInt)
        val c0 = math.min(BitPack.commonLevels(xi, yi, mapbits), mapbits / 2)
        if (c0 > z + 8 && c0 > z) Iterator.empty
        else {
          val cell0 = f.vertices(0)
          val ownTx = Cell.tileX(cell0, z)
          val ownTy = Cell.tileY(cell0, z)
          // probe-order slot (z_lookup asc above z; desc at/below z);
          // inner loop over n ascending (render.c:976-1001). Disjoint
          // Long bit fields: band(<<56) | level(<<40) | n — no collision
          // across levels for any real vertex count.
          val nCap = math.min(n.toLong, (1L << 40) - 1)
          val slot =
            if (c0 > z) (1L << 56) | ((c0 - z).toLong << 40) | nCap
            else (2L << 56) | ((z - c0).toLong << 40) | nCap
          val tiles = scala.collection.mutable.LinkedHashSet.empty[Long]
          if (c0 > z) {
            // whole line inside one z-tile
            tiles += Cell.tileKey(z, ownTx, ownTy)
          } else {
            // tiles = z-descendants of the line's level-c tile touched by
            // any segment bbox (with the clip margin)
            // margin from the thickness ACTUALLY DRAWN at this zoom:
            // lineRamp > 1 widens strokes beyond dotBase, and a
            // base-thickness margin would skip emitting the feature to
            // neighbor tiles its ramped stroke spills into (visible
            // seams). max() keeps the default-params arithmetic — and
            // the q38 oracle replica — bit-identical (lineRamp = 1).
            val marginThick = math.max(p.lineThick, p.lineParams(z)._1)
            val margin = ((1.0 + marginThick) * (1L << (32 - z)).toDouble / p.tilesize).ceil.toLong
            val nTiles = 1L << z
            val pcx = if (c0 == 0) 0L else xs(0) >>> (32 - c0)
            val pcy = if (c0 == 0) 0L else ys(0) >>> (32 - c0)
            var k = 1
            while (k < xs.length) {
              // antimeridian wrap: consider both unwrapped variants
              val wraps = math.abs(xs(k) - xs(k - 1)) >= (1L << 31)
              val segs: Seq[(Long, Long)] =
                if (!wraps) Seq((xs(k - 1), xs(k)))
                else if (xs(k) > xs(k - 1)) Seq((xs(k - 1), xs(k) - (1L << 32)), (xs(k - 1) + (1L << 32), xs(k)))
                else Seq((xs(k - 1), xs(k) + (1L << 32)), (xs(k - 1) - (1L << 32), xs(k)))
              for ((xa, xb) <- segs) {
                // column walk: per tile column, the segment's y-interval
                // (cost ~ tiles crossed, not bbox area)
                val ya = ys(k - 1).toDouble; val yb = ys(k).toDouble
                val w = (1L << (32 - z)).toDouble
                val lox = math.min(xa, xb) - margin
                val hix = math.max(xa, xb) + margin
                var tx = math.floor(lox / w).toLong
                val txEnd = math.floor(hix / w).toLong
                val dx = (xb - xa).toDouble
                while (tx <= txEnd) {
                  val colLo = tx * w - margin
                  val colHi = (tx + 1) * w + margin
                  // y range of the segment restricted to this column
                  val (y0c, y1c) =
                    if (dx == 0) (math.min(ya, yb), math.max(ya, yb))
                    else {
                      val t0 = math.max(0.0, math.min(1.0, (colLo - xa) / dx))
                      val t1 = math.max(0.0, math.min(1.0, (colHi - xa) / dx))
                      val u0 = ya + (yb - ya) * t0
                      val u1 = ya + (yb - ya) * t1
                      (math.min(u0, u1), math.max(u0, u1))
                    }
                  val loy = math.max(0L, (y0c - margin).toLong)
                  val hiy = math.min((1L << 32) - 1, (y1c + margin).toLong)
                  val txw = ((tx % nTiles) + nTiles) % nTiles
                  var ty = loy >>> (32 - z)
                  val tyEnd = hiy >>> (32 - z)
                  while (ty <= tyEnd) {
                    // prefix condition at level c0
                    if (c0 == 0 || ((txw >>> (z - c0)) == pcx && (ty >>> (z - c0)) == pcy))
                      tiles += Cell.tileKey(z, txw.toInt, ty.toInt)
                    ty += 1
                  }
                  tx += 1
                }
              }
              k += 1
            }
          }
          val ownKey = Cell.tileKey(z, ownTx, ownTy)
          tiles.iterator.map(tk => FeatCmd(tk, slot, f.vertices, f.meta, own = tk == ownKey))
        }
      }
    }
  }

  /**
   * Render every tile at zoom zDraw containing at least one feature's
   * first vertex (the reference's enumerate-driven tileset rule),
   * or all touched tiles when requireOwn = false (single-tile render).
   */
  def renderTiles(points: Option[DataFrame], lines: Option[Dataset[Feature]],
                  zDraw: Int, mapbits: Int, p: RenderParams,
                  requireOwn: Boolean = true,
                  only: Option[(Int, Int) => Boolean] = None,
                  pointSpill: Boolean = true): Dataset[TileOut] = {
    val all = unionCmds(points.map(pointCmds(_, zDraw, p, emitSpill = pointSpill)),
      lines.map(lineCmds(_, zDraw, mapbits, p)))
    val cmds = only match {
      case Some(pred) =>
        all.filter(c => pred(Cell.tileKeyX(c.tkey), Cell.tileKeyY(c.tkey)))
      case None => all
    }
    processGrouped(cmds)(renderOne(_, _, mapbits, p, requireOwn))
  }

  /** Render a whole zoom pyramid of points in ONE pass + ONE shuffle:
    * renderPyramidAll without lines. */
  def renderPyramid(points: DataFrame, zooms: Seq[Int], mapbits: Int, p: RenderParams): Dataset[TileOut] =
    renderPyramidAll(Some(points), None, zooms, mapbits, p)

  /** Leaflet-retina tiles (`render -r`, render.c:900-914): tile (z,x,y)
    * is rendered from its PARENT zoom's records and parameters at double
    * tilesize, windowed to the requested quadrant — same geographic
    * content at double dot density. One parent render emits all four
    * children, so a retina tileset costs one canvas pass per parent.
    * z = 0 has no parent; the reference renders it normally. */
  def renderRetinaTiles(points: Option[DataFrame], lines: Option[Dataset[Feature]],
                        z: Int, mapbits: Int, p: RenderParams,
                        requireOwn: Boolean = true): Dataset[TileOut] = {
    require(z > 0, "retina tiles need z > 0 (the reference renders z=0 normally)")
    val zr = z - 1
    val p2 = p.copy(tilesize = p.tilesize * 2)
    val cmds = unionCmds(points.map(pointCmds(_, zr, p2)), lines.map(lineCmds(_, zr, mapbits, p2)))
    val ts = p.tilesize
    processGrouped(cmds) { (tkey, recs) =>
      sortRecs(recs)
      if (requireOwn && !recs.exists(_.own)) Iterator.empty
      else {
        val px = Cell.tileKeyX(tkey)
        val py = Cell.tileKeyY(tkey)
        val canvas = renderCanvasFresh(recs, zr, px, py, mapbits, p2, ignoreFurther = false)
        // quadrants consumed lazily but strictly in sequence, so the
        // ToneMap thread-local buffer is PNG-encoded before reuse
        (0 until 4).iterator.map { q =>
          val qx = q >> 1; val qy = q & 1
          val sub = canvas.crop(qx * ts, qy * ts, ts, ts)
          val rgba = ToneMap(sub, p)
          TileOut(z, 2 * px + qx, 2 * py + qy, Png.encode(rgba, ts, ts))
        }
      }
    }
  }

  /** S9 raster-text debug backend (raster.c): every POINT draw position
    * re-projected to "lat,lon" text, exactly as `render-raster` prints —
    * the draw loop of renderCanvasInto with emission instead of
    * rasterization (bb<=1 prints the drawPixel arg xsc-.5; brushes print
    * the center; raster.c:82-96 re-projects via
    * bx += x/width*scale with C trunc-toward-zero). Lines are omitted
    * (the raster backend walks Bresenham pixels; use the PNG path). */
  def rasterDebugDump(points: DataFrame, zDraw: Int, txSel: Int, tySel: Int,
                      mapbits: Int, p: RenderParams): Seq[String] = {
    val want = Cell.tileKey(zDraw, txSel, tySel)
    val recs = pointCmds(points, zDraw, p).filter(_.tkey == want).collect()
    sortRecs(recs)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val (_, brush0, _) = p.pointParams(zDraw)
    val bPt0 = brush0 * p.mercatorBrushScale(zDraw, tySel) * (p.tilesize / 256.0) * (p.tilesize / 256.0)
    var further = false
    var cloudTodo = 0L
    var cloudSlot = Long.MinValue
    val noise = zDraw >= mapbits / 2 - 8
    val noisebits = 32 - mapbits / 2
    val ts = p.tilesize
    val scale = 1L << (32 - zDraw)
    def emit(x: Double, y: Double): Unit = {
      var bx = (txSel.toLong * scale).toDouble + x / ts * scale
      var by = (tySel.toLong * scale).toDouble + y / ts * scale
      out += f"${Mercator.tileToLat(by.toLong, 32)}%.6f,${Mercator.tileToLon(bx.toLong, 32)}%.6f"
    }
    recs.foreach { r =>
      val drawIt = r.slot == -1 || further || p.circle > 0
      if (drawIt && r.meta <= p.maxmeta && r.vertices.length == 1) {
        var x = Cell.decodeX(r.vertices(0))
        var y = Cell.decodeY(r.vertices(0))
        if (noise) {
          var xi = x.toInt; var yi = y.toInt
          var j = 0
          while (j < noisebits) {
            xi |= ((y.toInt >>> (2 * noisebits - 1 - j)) & 1) << j
            yi |= ((x.toInt >>> (2 * noisebits - 1 - j)) & 1) << j
            j += 1
          }
          x = xi.toLong & 0xFFFFFFFFL; y = yi.toLong & 0xFFFFFFFFL
        }
        var bb = bPt0
        if (p.metabrush) bb *= r.meta
        val xd = Mercator.worldToTileFracX(x, zDraw, txSel)
        val yd = Mercator.worldToTileFracY(y, zDraw, tySel)
        var xsc = xd * ts
        var ysc = yd * ts
        if (!p.antialias) { xsc = (xd * ts).toInt + .5; ysc = (yd * ts).toInt + .5 }
        if (p.circle > 0) {
          val size = p.cloudSize(zDraw, txSel, tySel) * ts
          val (step0, _, _) = p.pointParams(zDraw)
          val innerstep = if (step0 > 1 && size > .0625) step0 else 1
          if (size < .5) {
            if (bb <= 1) emit(xsc - .5, ysc - .5)
            else { emit(xsc, ysc); if (r.slot == -1) further = true }
          } else if (xsc + size >= 0 && ysc + size >= 0 && xsc - size <= ts && ysc - size <= ts) {
            val rng = new GlibcRand(x * 37 + y)
            if (r.slot != cloudSlot) { cloudTodo = 0L; cloudSlot = r.slot }
            cloudTodo += r.meta
            while (cloudTodo > 0) {
              val rr = math.sqrt(rng.nextU())
              val ang = rng.nextU() * 2 * math.Pi
              val xp = xsc + size * rr * math.cos(ang)
              val yp = ysc + size * rr * math.sin(ang)
              if (bb <= 1) emit(xp - .5, yp - .5)
              else { emit(xp, yp); if (r.slot == -1) further = true }
              cloudTodo -= innerstep
            }
          }
        } else if (bb <= 1) emit(xsc - .5, ysc - .5)
        else { emit(xsc, ysc); if (r.slot == -1) further = true }
      }
    }
    out.toSeq
  }

  /** Full mixed tileset (points + polylines, every zoom) in ONE job and
    * ONE shuffle: one flatMap emits every zoom's point commands (the
    * tile key embeds z) and every zoom's line commands union into the
    * same repartition — a complete z0..N tileset build is a single pass
    * over each input regardless of pyramid depth. Circle clouds need
    * receiver-dependent rings and striding, so they take the single-zoom
    * builder per zoom (still one shuffle: the unions feed one
    * repartition). */
  def renderPyramidAll(points: Option[DataFrame], lines: Option[Dataset[Feature]],
                       zooms: Seq[Int], mapbits: Int, p: RenderParams): Dataset[TileOut] = {
    // the pyramid source is read-balanced BEFORE the per-zoom command
    // flatMap: a small ranked snapshot packs into a handful of scan
    // splits (openCost-packed files), which would run the zooms-x command
    // emission feeding the render shuffle on those few tasks while the
    // rest of the host idles. No-op whenever the input already carries
    // >= cores splits (the catalog-scale case). Rank and meta are STORED
    // values — moving rows changes no command, and the render groups
    // re-key by tile after this anyway.
    val pc = points.map { pts =>
      if (p.circle > 0) zooms.map(z => pointCmds(pts, z, p)).reduce(_ union _)
      else pyramidCmds(graft.ops.ReadBalance.fanOut(pointSource(pts, zooms, p)), zooms, p)
    }
    val lc = lines.map(ls => zooms.map(z => lineCmds(ls, z, mapbits, p)).reduce(_ union _))
    processGrouped(unionCmds(pc, lc))(renderOne(_, _, mapbits, p, requireOwn = true))
  }

  /** Point and line commands feed ONE shuffle. */
  private def unionCmds(pc: Option[Dataset[FeatCmd]], lc: Option[Dataset[FeatCmd]]): Dataset[FeatCmd] =
    (pc, lc) match {
      case (Some(a), Some(b)) => a.union(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => throw new IllegalArgumentException("no input")
    }

  /** Tile membership of polylines at zoom zDraw — the line→tile
    * enumeration that drives the pyramid join (reference do_tile
    * render.c:969-1002 inverted), as (z, x, y, nlines) rows. This is
    * the SQL-checkable slice of renderVectorTiles: the same lineCmds
    * cover (common-prefix single-tile case, margin-padded column walk
    * with antimeridian unwrapping), minus the byte encoding. One
    * shuffle on the tile key; counts combine map-side. */
  def lineTileCover(lines: Dataset[Feature], zDraw: Int, mapbits: Int, p: RenderParams): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lineCmds(lines, zDraw, mapbits, p)
      .groupByKey(_.tkey)
      .count()
      .map { case (tkey, n) =>
        (Cell.tileKeyZ(tkey).toLong, Cell.tileKeyX(tkey).toLong, Cell.tileKeyY(tkey).toLong, n)
      }
      .toDF("z", "x", "y", "nlines")
  }

  /** Vector-tile variant of renderTiles: same join/shuffle shape, but
    * the reducer emits Mapbox-Vector-Tile bytes (S8, vector.cc backend)
    * instead of a rasterized PNG: tile-local integer geometry at extent
    * 4096, meta as tag, exact point dedup. */
  def renderVectorTiles(points: Option[DataFrame], lines: Option[Dataset[Feature]],
                        zDraw: Int, mapbits: Int, p: RenderParams,
                        requireOwn: Boolean = true): Dataset[TileOut] = {
    val cmds = unionCmds(points.map(pointCmds(_, zDraw, p)), lines.map(lineCmds(_, zDraw, mapbits, p)))
    val ext = Mvt.Extent
    processGrouped(cmds) { (tkey, recs) =>
      val z = Cell.tileKeyZ(tkey)
      val tx = Cell.tileKeyX(tkey)
      val ty = Cell.tileKeyY(tkey)
      sortRecs(recs)
      if (requireOwn && !recs.exists(_.own)) Iterator.empty
      else {
        def local(c: Long): (Int, Int) = {
          val fx = Mercator.worldToTileFracX(Cell.decodeX(c), z, tx)
          val fy = Mercator.worldToTileFracY(Cell.decodeY(c), z, ty)
          ((fx * ext).toInt, (fy * ext).toInt)
        }
        val pts = recs.filter(r => r.vertices.length == 1 && r.slot == -1).map { r =>
          val (x, y) = local(r.vertices(0))
          Mvt.MvtFeature(Array(x), Array(y), r.meta)
        }.toSeq
        val lns = recs.filter(_.vertices.length > 1).map { r =>
          val xy = r.vertices.map(local)
          Mvt.MvtFeature(xy.map(_._1), xy.map(_._2), r.meta)
        }.toSeq
        if (pts.isEmpty && lns.isEmpty) Iterator.empty
        else Iterator.single(TileOut(z, tx, ty, Mvt.encode(pts, lns, hasMeta = true)))
      }
    }
  }


  /** Group-process a Dataset with EXPLICIT parallelism: AQE coalesces
    * tiny shuffles (a few MB of commands / partial canvases) into one
    * partition, but the reducers here are CPU-heavy per group
    * (canvas + PNG / canvas merge), so we hash-partition on the key
    * columns ourselves (explicit numPartitions is exempt from AQE
    * coalescing) and stream consecutive key groups per partition.
    * `keyCols` must order rows so that equal `keyOf` values are
    * consecutive. */
  private def streamGroups[T: scala.reflect.ClassTag, K, O: org.apache.spark.sql.Encoder](
      ds: Dataset[T], keyCols: Seq[org.apache.spark.sql.Column], keyOf: T => K)(
      f: (K, Array[T]) => Iterator[O]): Dataset[O] = {
    val spark = ds.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism * 4,
      spark.sessionState.conf.numShufflePartitions)
    ds.repartition(parts, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .mapPartitions { it =>
        new Iterator[O] {
          private val base = it.buffered
          private var pending: Iterator[O] = Iterator.empty
          @annotation.tailrec
          private def advance(): Unit = {
            if (!pending.hasNext && base.hasNext) {
              val k = keyOf(base.head)
              val buf = scala.collection.mutable.ArrayBuffer.empty[T]
              while (base.hasNext && keyOf(base.head) == k) buf += base.next()
              pending = f(k, buf.toArray)
              advance()
            }
          }
          def hasNext: Boolean = { advance(); pending.hasNext }
          def next(): O = { advance(); pending.next() }
        }
      }
  }

  private def processGrouped(cmds: Dataset[FeatCmd])(f: (Long, Array[FeatCmd]) => Iterator[TileOut]): Dataset[TileOut] = {
    val spark = cmds.sparkSession
    import spark.implicits._
    streamGroups(cmds, Seq(col("tkey")), (c: FeatCmd) => c.tkey)(f)
  }

  /**
   * Skew-aware pyramid render: tiles whose (sampled) point count exceeds
   * `hotThreshold` are salted into `salts` sub-groups rendered as
   * partial canvases in parallel, then merged (Canvas.merge is
   * associative+commutative) and tone-mapped. Cold tiles take the normal
   * single-phase path. FP accumulation order differs from the reference
   * on hot tiles (within the PSNR tolerance); cold tiles are unchanged.
   */
  def renderPyramidSalted(points: DataFrame, zooms: Seq[Int], mapbits: Int, p: RenderParams,
                          hotThreshold: Int = 100000, salts: Int = 16): Dataset[TileOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    // cloud mode carries a dot budget across records (order-dependent),
    // so salted partial canvases would change the dot stream — take the
    // unsalted path (clouds self-limit: meta dots cap per record)
    if (p.circle > 0) return renderPyramid(points, zooms, mapbits, p)
    // hot tiles: sampled own-count per (z,tile) above threshold
    val src = graft.ops.ReadBalance.fanOut(pointSource(points, zooms, p)) // balanced as in renderPyramidAll
    val zArr = zooms.toArray
    val steps = zArr.map(z => p.pointParams(z)._1.toLong)
    // per-tile: own-record count (hot detection) AND whether any own
    // record would set `further` (draw a bb>1 brush) — the spill gate.
    // The unsalted path sets `further` while scanning own records
    // (which sort before every spill record), so the gate is exactly
    // "some own record with meta <= maxmeta has bb > 1"; each salt
    // group sees only a slice of the tile, so the gate must be
    // precomputed over ALL own records, not ignored (ignoreFurther=true
    // drew spill brushes on tiles where the unsalted/reference path
    // draws none — e.g. metabrush tiles whose metas are all 0/1).
    val hotAgg: Map[Long, Boolean] = src.as[(Long, Long, Long)].flatMap { case (cell, meta, rank) =>
      zArr.indices.iterator.filter(zi => rank % steps(zi) == 0)
        .map { zi =>
          val z = zArr(zi)
          val ty = Cell.tileY(cell, z)
          (Cell.tileKey(z, Cell.tileX(cell, z), ty), ownSetsFurther(z, ty, meta, p))
        }
    }.groupByKey(_._1)
      .agg(count(lit(1)).as[Long], max(col("_2")).as[Boolean])
      .filter(_._2 > hotThreshold)
      .map(t => (t._1, t._3))
      .collect().toMap

    if (hotAgg.isEmpty) return renderPyramid(points, zooms, mapbits, p)
    val hotB = spark.sparkContext.broadcast(hotAgg)

    val cmds = pyramidCmds(src, zooms, p)
    val cold = processGrouped(cmds.filter(c => !hotB.value.contains(c.tkey)))(
      renderOne(_, _, mapbits, p, requireOwn = true))
    // hot path: salt -> partial canvases -> merge -> tone map. BOTH
    // shuffles go through streamGroups (explicit repartition): a bare
    // groupByKey exchange here is exactly the tiny-but-CPU-heavy shape
    // AQE coalesces into one partition, serializing the salt renders
    // the hot path exists to parallelize (CLAUDE.md render-reducer
    // invariant; the cold path already did this via processGrouped).
    val saltExpr = expr(s"pmod(vertices[0] ^ meta, ${salts}L)")
    val partials = streamGroups(
      cmds.filter(c => hotB.value.contains(c.tkey)),
      Seq(col("tkey"), saltExpr),
      (c: FeatCmd) => (c.tkey, Math.floorMod(c.vertices(0) ^ c.meta, salts.toLong))) {
      (key, recs) =>
        val tkey = key._1
        sortRecs(recs)
        val z = Cell.tileKeyZ(tkey)
        val canvas = renderCanvasFresh(recs, z, Cell.tileKeyX(tkey), Cell.tileKeyY(tkey), mapbits, p,
          ignoreFurther = hotB.value(tkey))
        // ship hue planes only when a color ramp actually touched them:
        // accessing cx/cy unconditionally would allocate and serialize
        // two all-zero tilesize^2 double arrays per partial (3x the
        // shuffle bytes of the hot path for nothing)
        Iterator.single((tkey, canvas.image,
          if (canvas.hasHue) canvas.cx else null,
          if (canvas.hasHue) canvas.cy else null))
    }
    val hotTiles = streamGroups(partials, Seq(col("_1")),
      (t: (Long, Array[Double], Array[Double], Array[Double])) => t._1) { (tkey, group) =>
      val z = Cell.tileKeyZ(tkey)
      val merged = new Canvas(p.tilesize, p.tilesize)
      // raw-array merge bypasses putPixel: mark the whole canvas dirty
      merged.minY = 0
      merged.maxY = p.tilesize - 1
      group.foreach { case (_, img, cx, cy) =>
        var i = 0
        while (i < img.length) { merged.image(i) += img(i); i += 1 }
        if (cx != null) {
          val mcx = merged.cx; val mcy = merged.cy // allocates on first hue partial
          i = 0
          while (i < img.length) { mcx(i) += cx(i); mcy(i) += cy(i); i += 1 }
        }
      }
      val rgba = ToneMap(merged, p)
      Iterator.single(TileOut(z, Cell.tileKeyX(tkey), Cell.tileKeyY(tkey), Png.encode(rgba, p.tilesize, p.tilesize)))
    }
    cold.union(hotTiles)
  }

  /** Would an own point record with this meta set the renderer's
    * `further` flag on tile (z, ty)? Mirrors renderCanvasInto's brush
    * arithmetic: bb = pointParams brush x mercator row scale x
    * (tilesize/256)^2 [x meta under metabrush]; brushes with bb > 1
    * draw and gate neighbor-spill drawing. */
  private def ownSetsFurther(z: Int, ty: Int, meta: Long, p: RenderParams): Boolean = {
    if (meta > p.maxmeta) return false
    val (_, brush0, _) = p.pointParams(z)
    val bb0 = brush0 * p.mercatorBrushScale(z, ty) *
      (p.tilesize / 256.0) * (p.tilesize / 256.0)
    val bb = if (p.metabrush) bb0 * meta else bb0
    bb > 1
  }

  /** THE point-command emitter outside circle mode, for one zoom or a
    * whole pyramid: every step-sampled row (rank % step(z) == 0) goes to
    * its own tile at each zoom, plus the 8-neighbour spill ring where
    * the zoom's brush can spill (brushSpills). `emitSpill = false` is
    * assemble mode: no ring at any zoom. `src` is a pointSource. */
  private def pyramidCmds(src: DataFrame, zooms: Seq[Int], p: RenderParams,
                          emitSpill: Boolean = true): Dataset[FeatCmd] = {
    val spark = src.sparkSession
    import spark.implicits._
    val zArr = zooms.toArray
    val steps = zArr.map(z => p.pointParams(z)._1.toLong)
    val spills = zArr.map(z => emitSpill && brushSpills(p, z))
    src.as[(Long, Long, Long)].flatMap { case (cell, meta, rank) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[FeatCmd]
      var zi = 0
      while (zi < zArr.length) {
        val z = zArr(zi)
        if (rank % steps(zi) == 0) {
          val tx = Cell.tileX(cell, z)
          val ty = Cell.tileY(cell, z)
          out += FeatCmd(Cell.tileKey(z, tx, ty), -1, Array(cell), meta, own = true)
          if (spills(zi)) {
            val n = 1L << z
            var dx = -1
            while (dx <= 1) {
              var dy = -1
              while (dy <= 1) {
                if (dx != 0 || dy != 0) {
                  val nx = tx + dx; val ny = ty + dy
                  if (ny >= 0 && ny < n && nx >= 0 && nx < n)
                    out += FeatCmd(Cell.tileKey(z, nx, ny), (-dx + 1) * 3 + (-dy + 1), Array(cell), meta, own = false)
                }
                dy += 1
              }
              dx += 1
            }
          }
        }
        zi += 1
      }
      out
    }
  }

  /** THE PNG tile finisher (renderTiles, renderPyramidAll and the salted
    * path's cold tiles). */
  private def renderOne(tkey: Long, recs: Array[FeatCmd], mapbits: Int, p: RenderParams,
                        requireOwn: Boolean): Iterator[TileOut] = {
    val z = Cell.tileKeyZ(tkey)
    val tx = Cell.tileKeyX(tkey)
    val ty = Cell.tileKeyY(tkey)
    sortRecs(recs)
    if (requireOwn && !recs.exists(_.own)) Iterator.empty
    else {
      val canvas = renderCanvas(recs, z, tx, ty, mapbits, p)
      val rgba = ToneMap(canvas, p)
      Iterator.single(TileOut(z, tx, ty, Png.encode(rgba, p.tilesize, p.tilesize)))
    }
  }

  /** Reference processing order: slot, then packed-record memcmp order
    * (= vertex cells lexicographically, then meta). */
  def sortRecs(recs: Array[FeatCmd]): Unit =
    java.util.Arrays.sort(recs, (a: FeatCmd, b: FeatCmd) => {
      var c = java.lang.Long.compare(a.slot, b.slot)
      if (c != 0) c
      else {
        val n = math.min(a.vertices.length, b.vertices.length)
        var i = 0
        while (c == 0 && i < n) {
          c = java.lang.Long.compare(a.vertices(i), b.vertices(i))
          i += 1
        }
        if (c == 0) c = Integer.compare(a.vertices.length, b.vertices.length)
        if (c == 0) c = java.lang.Long.compare(a.meta, b.meta)
        c
      }
    })

  private val canvasCache = new ThreadLocal[Canvas]

  /** Per-tile canvas accumulation (process(), render.c:74-368).
    * The canvas is a reused thread-local buffer: consumed (tone-mapped)
    * before the next tile renders on the same thread. */
  def renderCanvas(recs: Array[FeatCmd], z: Int, tx: Int, ty: Int,
                   mapbits: Int, p: RenderParams): Canvas = {
    var canvas = canvasCache.get()
    if (canvas == null || canvas.width != p.tilesize || canvas.height != p.tilesize) {
      canvas = new Canvas(p.tilesize, p.tilesize)
      canvasCache.set(canvas)
    } else canvas.reset()
    renderCanvasInto(canvas, recs, z, tx, ty, mapbits, p, ignoreFurther = false)
    canvas
  }

  /** Fresh (escaping) canvas variant for the salted partial-aggregation
    * path; ignoreFurther draws neighbor spill unconditionally (valid on
    * hot tiles, whose own range always draws brushes). */
  def renderCanvasFresh(recs: Array[FeatCmd], z: Int, tx: Int, ty: Int,
                        mapbits: Int, p: RenderParams, ignoreFurther: Boolean): Canvas = {
    val canvas = new Canvas(p.tilesize, p.tilesize)
    renderCanvasInto(canvas, recs, z, tx, ty, mapbits, p, ignoreFurther)
    canvas
  }

  private def renderCanvasInto(canvas: Canvas, recs: Array[FeatCmd], z: Int, tx: Int, ty: Int,
                               mapbits: Int, p: RenderParams, ignoreFurther: Boolean): Unit = {
    val (_, brush0, brightPt0) = p.pointParams(z)
    val mercScale = p.mercatorBrushScale(z, ty)
    val brush = brush0 * mercScale
    val bPt = brush * (p.tilesize / 256.0) * (p.tilesize / 256.0)
    val (thick0, brightLn0) = p.lineParams(z)
    var further = ignoreFurther
    val noise = z >= mapbits / 2 - 8
    val noisebits = 32 - mapbits / 2
    // cloud-mode dot budget carries across records WITHIN one probe slot
    // (the reference's `for (todo += meta; todo > 0; todo -= innerstep)`
    // with todo scoped to the process() call, render.c:200+289); a new
    // slot = a new process() call = a fresh budget
    var cloudTodo = 0L
    var cloudSlot = Long.MinValue

    def denoise(v: Long, other: Long): Long = {
      // overzoom de-gridding (render.c:198-212): x gets bits of y, y of x
      var vi = v.toInt
      val oi = other.toInt
      var j = 0
      while (j < noisebits) {
        vi |= ((oi >>> (2 * noisebits - 1 - j)) & 1) << j
        j += 1
      }
      vi.toLong & 0xFFFFFFFFL
    }

    var i = 0
    while (i < recs.length) {
      val r = recs(i)
      val isPoint = r.vertices.length == 1
      val drawIt =
        if (isPoint) r.slot == -1 || further || p.circle > 0
        else true
      if (drawIt && r.meta <= p.maxmeta) {
        val n = r.vertices.length
        val xs = new Array[Long](n)
        val ys = new Array[Long](n)
        var k = 0
        while (k < n) {
          var x = Cell.decodeX(r.vertices(k))
          var y = Cell.decodeY(r.vertices(k))
          if (noise) {
            val nx = denoise(x, y)
            val ny = denoise(y, x)
            x = nx; y = ny
          }
          xs(k) = x; ys(k) = y
          k += 1
        }
        val hue = if (p.colorRampActive) p.metaHue(r.meta) else -1.0
        if (isPoint) {
          var bright = brightPt0
          var bb = bPt
          if (p.metabright) bright *= r.meta
          if (p.metabrush) bb *= r.meta
          val xd = Mercator.worldToTileFracX(xs(0), z, tx)
          val yd = Mercator.worldToTileFracY(ys(0), z, ty)
          var xsc = xd * p.tilesize
          var ysc = yd * p.tilesize
          if (!p.antialias) {
            xsc = (xd * p.tilesize).toInt + .5
            ysc = (yd * p.tilesize).toInt + .5
          }
          if (p.circle > 0) {
            // cloud mode (render.c:266-305): meta = dot count scattered
            // in a latitude-scaled radius. Deterministic splittable PRNG
            // seeded per point (the reference uses srand(x*37+y); C
            // rand() is libc-specific, so the dot positions are our own
            // deterministic stream — same density law).
            val size = p.cloudSize(z, tx, ty) * p.tilesize
            val (step0, _, _) = p.pointParams(z)
            val innerstep = if (step0 > 1 && size > .0625) step0 else 1
            if (size < .5) {
              if (bb <= 1) {
                canvas.drawPixel(xsc - .5, ysc - .5, bright * bb * r.meta / innerstep, hue)
              } else {
                Raster.drawBrush(xsc, ysc, canvas, bright * r.meta / innerstep, bb, hue, p.gaussian)
                if (r.slot == -1) further = true
              }
            } else if (xsc + size >= 0 && ysc + size >= 0 &&
              xsc - size <= p.tilesize && ysc - size <= p.tilesize) {
              // srand(x*37 + y) per record (render.c:288), bit-exact
              // glibc rand() stream — cloud dots land on the reference's
              // exact positions
              val rng = new GlibcRand(xs(0) * 37 + ys(0))
              def nextU(): Double = rng.nextU()
              if (r.slot != cloudSlot) { cloudTodo = 0L; cloudSlot = r.slot }
              cloudTodo += r.meta
              while (cloudTodo > 0) {
                val rr = math.sqrt(nextU())
                val ang = nextU() * 2 * math.Pi
                val xp = xsc + size * rr * math.cos(ang)
                val yp = ysc + size * rr * math.sin(ang)
                if (bb <= 1) {
                  canvas.drawPixel(xp - .5, yp - .5, bright * bb, hue)
                } else {
                  Raster.drawBrush(xp, yp, canvas, bright, bb, hue, p.gaussian)
                  if (r.slot == -1) further = true
                }
                cloudTodo -= innerstep
              }
            }
          } else if (bb <= 1) {
            canvas.drawPixel(xsc - .5, ysc - .5, bright * bb, hue)
          } else {
            Raster.drawBrush(xsc, ysc, canvas, bright, bb, hue, p.gaussian)
            if (r.slot == -1) further = true
          }
        } else {
          var bright = brightLn0
          if (p.metabright) bright *= r.meta
          val xd = new Array[Double](n)
          val yd = new Array[Double](n)
          var j = 0
          while (j < n) {
            xd(j) = Mercator.worldToTileFracX(xs(j), z, tx)
            yd(j) = Mercator.worldToTileFracY(ys(j), z, ty)
            j += 1
          }
          val ts = p.tilesize
          val thick1 = thick0 * ts / 256.0
          var kk = 1
          while (kk < n) {
            var bright1 = bright
            if (p.gps) {
              bright1 = p.gpsAttenuate(bright1,
                (xs(kk) - xs(kk - 1)).toDouble, (ys(kk) - ys(kk - 1)).toDouble, z)
            }
            if (bright1 != 0) {
              val xk1 = xs(kk - 1)
              val xk = xs(kk)
              if (xk - xk1 >= (1L << 31)) {
                // segment wraps westward: draw twice shifted (render.c:340-348)
                val xdw = Mercator.worldToTileFracX(xk - (1L << 32), z, tx)
                Raster.drawClip(xd(kk - 1) * ts, yd(kk - 1) * ts, xdw * ts, yd(kk) * ts, canvas, bright1, hue, p.antialias, thick1)
                val xd1w = Mercator.worldToTileFracX(xk1 + (1L << 32), z, tx)
                Raster.drawClip(xd1w * ts, yd(kk - 1) * ts, xd(kk) * ts, yd(kk) * ts, canvas, bright1, hue, p.antialias, thick1)
              } else if (xk1 - xk >= (1L << 31)) {
                val xd1w = Mercator.worldToTileFracX(xk1 - (1L << 32), z, tx)
                Raster.drawClip(xd1w * ts, yd(kk - 1) * ts, xd(kk) * ts, yd(kk) * ts, canvas, bright1, hue, p.antialias, thick1)
                val xdw = Mercator.worldToTileFracX(xk + (1L << 32), z, tx)
                Raster.drawClip(xd(kk - 1) * ts, yd(kk - 1) * ts, xdw * ts, yd(kk) * ts, canvas, bright1, hue, p.antialias, thick1)
              } else {
                Raster.drawClip(xd(kk - 1) * ts, yd(kk - 1) * ts, xd(kk) * ts, yd(kk) * ts, canvas, bright1, hue, p.antialias, thick1)
              }
            }
            kk += 1
          }
        }
      }
      i += 1
    }
  }
}
