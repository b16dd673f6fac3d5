package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/**
 * Structured Streaming operators. The reference engine is batch-only —
 * incrementality is encode-new + merge (README.md:97-107) and is covered
 * by Snapshots.append — but a Spark-native engine also serves the
 * streaming shape of the same aggregations: windowed tile stats over an
 * event stream, and stateful sessionization.
 */
object StreamOps {
  /** Windowed per-tile counts over a streaming point source with event
    * time + watermark: the streaming analog of the enumerate rollup. */
  def streamingTileCounts(events: DataFrame, z: Int, window: String, watermark: String): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ -> instant (UTC session)
      .withWatermark("ts", watermark)
      .withColumn("tx", expr(s"x32 >> ${32 - z}"))
      .withColumn("ty", expr(s"y32 >> ${32 - z}"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("tx"), col("ty"))
      .agg(count(lit(1)).as("cnt"))

  case class Session(userId: Long, nEvents: Long, startTs: Long, endTs: Long)

  /** Stateful sessionization with a gap timeout (flatMapGroupsWithState
    * + EventTimeTimeout), with Spark's own session-window append-mode
    * semantics: state holds EVERY open session of the user (sorted,
    * pairwise gap-separated), events merge into the session whose
    * [startTs - gap, endTs + gap] window contains them (coalescing the
    * neighbor a merge bridges), and a session is emitted ONLY once the
    * event-time watermark passes its endTs + gapMs — the point after
    * which no admissible event can still extend it. That makes the
    * result batch-equivalent REGARDLESS of how events split across
    * micro-batches: a late stray run, arriving hours before the live
    * session and spread over several batches, still emits as ONE
    * session (an emit-on-supersede formulation split it — one session
    * per batch — and could never retract in append mode). The cost is
    * the standard watermark tradeoff: emission latency equals the
    * lateness bound. State stays bounded by the watermark horizon, not
    * by user count; an idle user's last session flushes via the
    * event-time timeout. `watermark` is the lateness bound.
    *
    * State-schema note: the per-user state is `Seq[Session]` (it was a
    * single `Session` before stray-event splitting landed) — a
    * checkpoint written by the old shape fails Spark's state-schema
    * compatibility check on restart, BY DESIGN loudly rather than
    * silently misreading rows. Spark has no state-store writer to
    * migrate `flatMapGroupsWithState` state in place; the operational
    * path is to drain the old query (stop the source, let the
    * watermark advance past every open session so state empties), then
    * restart on a fresh checkpointLocation with this version. */
  def sessionize(spark: SparkSession, events: DataFrame, gapMs: Long,
                 watermark: String = "0 seconds"): DataFrame = {
    import spark.implicits._
    // the watermark rides as attribute METADATA on the ts column: it
    // must survive into the typed Dataset (projecting ts away through
    // unix_millis strips it and the event-time timeout is rejected)
    val typed = events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Seq[Session], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[(Long, java.sql.Timestamp)], state: GroupState[Seq[Session]]) =>
          val wm = state.getCurrentWatermarkMs
          // emit what the watermark has finalized, keep the rest, arm
          // the timeout for the earliest still-open close point (must
          // register beyond the current watermark or Spark rejects it)
          def flush(ss: Seq[Session]): Iterator[Session] = {
            val (emit, keep) = ss.partition(_.endTs + gapMs <= wm)
            if (keep.isEmpty) { if (state.exists) state.remove() }
            else {
              state.update(keep)
              state.setTimeoutTimestamp(
                math.max(keep.map(_.endTs + gapMs).min, wm + 1))
            }
            emit.sortBy(_.startTs).iterator
          }
          if (state.hasTimedOut) flush(state.getOption.getOrElse(Nil))
          else {
            var ss: List[Session] = state.getOption.getOrElse(Nil).toList
            it.map(_._2.getTime).toSeq.sorted.foreach { t =>
              // sessions are sorted by startTs and > gap apart; find the
              // first whose window t falls at-or-before
              val (before, after) = ss.span(s => s.endTs + gapMs < t)
              after match {
                case s :: rest if t >= s.startTs - gapMs =>
                  // extend without rewinding semantics: start=min, end=max
                  val ext = s.copy(nEvents = s.nEvents + 1,
                    startTs = math.min(s.startTs, t), endTs = math.max(s.endTs, t))
                  // a forward extension may bridge the next session; the
                  // sorted invariant means at most ONE merge per event (a
                  // backward extension can't reach `before`: its sessions
                  // all have endTs + gap < t = the new startTs)
                  val merged = rest match {
                    case n :: tail if n.startTs - ext.endTs <= gapMs =>
                      ext.copy(nEvents = ext.nEvents + n.nEvents,
                        endTs = math.max(ext.endTs, n.endTs)) :: tail
                    case _ => ext :: rest
                  }
                  ss = before ++ merged
                case _ =>
                  ss = before ++ (Session(uid, 1, t, t) :: after)
              }
            }
            flush(ss)
          }
      }.toDF()
  }

  /** Streaming exact dedup: first occurrence of each content digest
    * passes, duplicates within the watermark horizon drop. State is one
    * 16-byte md5 per distinct doc and is EVICTED once the watermark
    * passes (dropDuplicatesWithinWatermark) — bounded state, the only
    * formulation that survives an unbounded 100 TB ingest stream
    * (a plain dropDuplicates would accrete state forever). */
  def streamingDedup(docs: DataFrame, watermark: String): DataFrame =
    docs
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .withColumn("text_md5", md5(col("text")))
      .dropDuplicatesWithinWatermark("text_md5")

  /** Streaming perceptual image dedup: decode -> dHash in a map pass,
    * then first-arrival-wins on the hash within the watermark horizon.
    * State is one Long per distinct perceptual hash, evicted at the
    * watermark — the image-side analog of [[streamingDedup]]. Exact-hash
    * only (Hamming-0: re-encodes, crop-free copies); Hamming-near pairs
    * need the banded batch pass (Media.imageNearDupPairs) over a
    * landed snapshot. */
  def streamingImageDedup(images: DataFrame, watermark: String): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    // survivors keep their FULL row (payload included) — like the text
    // streamingDedup, the hash is an added column, so the deduplicated
    // stream lands directly as an image table with no rejoin
    // cast BEFORE the typed .as: a string-ts source (which the sibling
    // streamingDedup/streamingTileCounts tolerate) would otherwise fail
    // the up-cast to Timestamp at analysis; the former post-.as cast
    // was dead code
    val hashed = images
      .select(col("ts").cast("timestamp").as("ts"), col("image_id"),
        col("bytes"), col("w"), col("h"), col("fmt"))
      .as[(java.sql.Timestamp, String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.map { case (ts, id, bytes, w, h, fmt) =>
        (ts, id, bytes, w, h, fmt,
          graft.media.Media.dhash64(graft.media.Media.decode(id, bytes, w, h, fmt)))
      })
      .toDF("ts", "image_id", "bytes", "w", "h", "fmt", "dhash")
    hashed
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("dhash")
  }

  /** Move any flat part files at a sink's root into a `batch=legacy`
    * partition dir, so a stream upgraded from the old flat-append
    * layout keeps its history readable next to the new batchId
    * partitions (partition discovery rejects files mixed with
    * partition dirs). No-op after the first call / on fresh dirs. */
  private def migrateFlatSink(spark: SparkSession, dir: String): Unit = {
    // Hadoop FileSystem, NOT java.io: the sink may live on hdfs://s3a://
    // — a local-only listing would silently no-op there and the next
    // batch=N write would land beside the flat files, producing exactly
    // the mixed layout partition discovery rejects
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val flat = fs.listStatus(root).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith(".") && !n.startsWith("_")
    }
    if (flat.nonEmpty) {
      val legacy = new org.apache.hadoop.fs.Path(root, "batch=legacy")
      fs.mkdirs(legacy)
      flat.foreach { s =>
        val dst = new org.apache.hadoop.fs.Path(legacy, s.getPath.getName)
        if (!fs.rename(s.getPath, dst))
          throw new java.io.IOException(
            s"migrateFlatSink: rename ${s.getPath} -> $dst failed; " +
              "refusing to mix flat files with batch= partition dirs")
      }
      // drop writer metadata from the flat era; the partitioned reads
      // don't use it and a stale _SUCCESS at root confuses nothing but
      // humans — keep it, only data files had to move
    }
  }

  /** The replay-safe micro-batch driver behind every persisted-state
    * dedup stream (image, text, semantic, pipelines.WebCuration). A
    * modality supplies three steps:
    *  - `prepare(batch, hold)` -> (prepared batch, rows): `hold`
    *    registers each per-batch checkpoint the step makes (and returns
    *    it); empty `rows` skip the batch;
    *  - `resolve(prepared)` -> (labels, merges) against the state;
    *  - `fold(prepared, labels)` folds the batch into the state.
    * The driver owns everything else, per micro-batch: flat-era sink
    * roots migrate ([[migrateFlatSink]]); the labels are checkpointed;
    * `extraSinks` (root -> rows from the prepared batch and the
    * labels), labels and merges OVERWRITE `<root>/batch=N`; the fold
    * runs LAST; every held checkpoint is released in a finally (a
    * backlog drain would otherwise accumulate dead checkpoint blocks).
    *
    * EVERY write is idempotent under batch replay (a crash between the
    * sink writes and the checkpoint commit replays the batch under the
    * same batchId): the batch=N dirs are overwritten, and a replayed
    * fold skips what the first run already indexed, while sticky labels
    * make the replayed resolve identical. Readers see a `batch`
    * partition column under every sink root. */
  private[graft] def replaySafeStream[P](input: DataFrame, checkpointDir: String,
      labelsOut: String, mergesOut: String,
      extraSinks: Seq[(String, (P, DataFrame) => DataFrame)] = Nil)(
      prepare: (DataFrame, DataFrame => DataFrame) => (P, DataFrame),
      resolve: P => (DataFrame, DataFrame),
      fold: (P, DataFrame) => Unit): StreamingQuery =
    input.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        (extraSinks.map(_._1) ++ Seq(labelsOut, mergesOut))
          .foreach(migrateFlatSink(batch.sparkSession, _))
        val held = scala.collection.mutable.ListBuffer.empty[DataFrame]
        def hold(df: DataFrame): DataFrame = { held += df; df }
        def land(root: String, df: DataFrame): Unit =
          df.write.mode("overwrite").parquet(s"$root/batch=$batchId")
        try {
          val (p, rows) = prepare(batch, hold)
          if (rows.count() > 0) {
            val (labels, merges) = resolve(p)
            val l = hold(labels.localCheckpoint(true))
            extraSinks.foreach { case (root, sinkRows) => land(root, sinkRows(p, l)) }
            land(labelsOut, l)
            land(mergesOut, merges)
            fold(p, l)
          }
        } finally held.foreach(graft.ops.Checkpoint.release)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Continuous perceptual dedup with PERSISTED content-addressed
    * state: each micro-batch dedups against the band index built by
    * Media.writeImageDedupState (corpus side never shuffles), lands its
    * labels and merge events in `labelsOut/batch=N` and
    * `mergesOut/batch=N`, and folds its fresh hashes back into the
    * state so LATER batches see it — through [[replaySafeStream]], so
    * every write is replay-idempotent. Complements
    * [[streamingImageDedup]], whose watermark bounds state by TIME —
    * this state is permanent and cross-restart. The batch decodes ONCE:
    * its [[graft.media.Media.dedupIds]] projection feeds both the
    * resolve and the fold. */
  def incrementalDedupStream(images: DataFrame, bandsTable: String, stateDir: String,
                             buckets: Int, labelsOut: String, mergesOut: String,
                             checkpointDir: String): StreamingQuery =
    replaySafeStream[DataFrame](images, checkpointDir, labelsOut, mergesOut)(
      prepare = (batch, hold) => {
        val ids = hold(graft.media.Media.dedupIds(batch))
        (ids, ids)
      },
      resolve = ids => graft.media.Media.incrementalImageDedup(ids, bandsTable),
      fold = (ids, labels) =>
        graft.media.Media.appendImageDedupState(ids, labels, bandsTable, stateDir, buckets))

  /** Continuous TEXT near-dup dedup with persisted state — the text
    * analog of [[incrementalDedupStream]], same driver and idempotency
    * contract. Each micro-batch tokenizes/hashes ONLY its own docs,
    * exactly once (TextDedupState.prepare feeds resolve and fold); the
    * corpus never re-shuffles (bucketed index probes). */
  def incrementalTextDedupStream(docs: DataFrame, bandsTable: String, stateDir: String,
                                 buckets: Int, labelsOut: String, mergesOut: String,
                                 checkpointDir: String): StreamingQuery = {
    import graft.text.TextDedupState
    replaySafeStream[TextDedupState.PreparedDocs](docs, checkpointDir, labelsOut, mergesOut)(
      prepare = (batch, hold) => {
        val p = TextDedupState.prepare(batch)
        p.checkpoints.foreach(hold)
        (p, p.bands)
      },
      resolve = p => TextDedupState.incrementalTextDedup(p, bandsTable),
      fold = (p, labels) =>
        TextDedupState.appendTextDedupState(p, labels, bandsTable, stateDir, buckets))
  }

  /** Continuous SEMANTIC dedup with persisted state — the embedding
    * modality's analog of [[incrementalDedupStream]] (image) and
    * [[incrementalTextDedupStream]], same driver and idempotency
    * contract. Each micro-batch assigns/probes ONLY its own vectors
    * against the batch's cells' partitions; the corpus never
    * re-shuffles. The assignment runs once in the dedup and once in the
    * fold — a map-side kernel over a batch-sized input. */
  def incrementalSemDedupStream(vecs: DataFrame, stateDir: String, minCos: Double,
                                labelsOut: String, mergesOut: String,
                                checkpointDir: String): StreamingQuery =
    replaySafeStream[DataFrame](vecs, checkpointDir, labelsOut, mergesOut)(
      prepare = (batch, hold) => {
        val b = hold(batch.localCheckpoint(true))
        (b, b)
      },
      resolve = b => graft.ann.SemDedupState.incrementalSemDedup(b, stateDir, minCos),
      fold = (b, labels) => graft.ann.SemDedupState.appendSemDedupState(b, labels, stateDir))

  /** Incremental tileset maintenance — the reference's "encode new
    * files, merge, re-render" loop (README.md:97-107) as ONE streaming
    * query. Per micro-batch: (1) append the new (cell, meta) rows to the
    * sorted snapshot, (2) compute the tiles the batch touches at each
    * zoom (plus the spill ring where brushes exceed a pixel), (3)
    * re-render ONLY those tiles, reading the snapshot through indexed
    * cell-range scans (Parquet row-group pruning — cost ∝ affected
    * tiles' data, never the full dataset), (4) overwrite their PNGs.
    *
    * Zooms with step > 1 (z < dotBase) cannot re-render incrementally:
    * their step sampling depends on a global rank that every append
    * invalidates. They are instead re-rendered WHOLESALE on a batch
    * cadence (`lowZoomEvery`, default every 4th batch) inside the same
    * foreachBatch — cheap, because a low zoom has few tiles and the
    * rank pass is over the narrow projection only. Between refreshes the
    * low zooms lag by at most lowZoomEvery-1 batches; callers that need
    * them exact after the stream drains call `refreshLowZooms` once.
    * Step==1 tiles are byte-deterministic per batch (records re-sort
    * identically), so an incremental tileset equals the batch render of
    * the full data on every touched tile. */
  def incrementalTiles(stream: DataFrame, snapshotDir: String, tilesDir: String,
                       checkpointDir: String, zooms: Seq[Int], mapbits: Int,
                       p: graft.core.RenderParams, lowZoomEvery: Int = 4): StreamingQuery = {
    import graft.core.Cell
    require(p.circle <= 0, "cloud mode needs latitude-dependent rings; not supported incrementally")
    require(lowZoomEvery > 0, s"lowZoomEvery must be positive (got $lowZoomEvery): " +
      "0 would divide by zero per batch and a negative cadence never fires")
    val lowZooms = zooms.filter(z => p.pointParams(z)._1 > 1)
    val zArr = zooms.filter(z => p.pointParams(z)._1 <= 1).toArray
    val spills = zArr.map(z => graft.render.Render.brushSpills(p, z))
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val b = batch.select(col("cell"), col("meta")).persist()
        try {
          if (b.count() > 0) {
            // batchId-keyed overwrite: foreachBatch is at-least-once,
            // and a replayed flat append would duplicate (cell, meta)
            // rows in the snapshot FOREVER (double brightness on every
            // later render). Same idempotency shape as the dedup
            // streams; flat-era snapshots migrate like their sinks.
            migrateFlatSink(spark, snapshotDir)
            b.write.mode("overwrite").parquet(s"$snapshotDir/batch=$batchId")
            // The whole affected-tile scan/render block is guarded on
            // zArr.nonEmpty: when every requested zoom is step-sampled
            // (all low zooms), there is nothing to re-render per batch —
            // zArr.min would throw and orTree would recurse on an empty
            // range set — and the query proceeds straight to the
            // wholesale low-zoom cadence below.
            if (zArr.nonEmpty) {
            // tiles to RE-RENDER = touched + 1-tile spill ring (a new
            // record's brush splats into neighbors); tiles whose DATA a
            // re-render needs = render set + ITS spill ring (old records
            // in second-ring tiles splat into re-rendered ring tiles).
            // Bounded by batch size x zooms x 25.
            val keyed = b.select("cell").as[Long].distinct()
              .flatMap { c =>
                zArr.indices.flatMap { zi =>
                  val z = zArr(zi)
                  val tx = Cell.tileX(c, z); val ty = Cell.tileY(c, z)
                  val n = 1L << z
                  val rad = if (spills(zi)) 2 else 0
                  for {
                    dx <- -rad to rad; dy <- -rad to rad
                    nx = tx + dx; ny = ty + dy
                    if nx >= 0 && nx < n && ny >= 0 && ny < n
                  } yield (Cell.tileKey(z, nx.toInt, ny.toInt),
                    math.max(math.abs(dx), math.abs(dy)) <= math.min(rad, 1))
                }
              }
              .groupByKey(_._1).agg(max(col("_2")).as[Boolean]).collect()
            val affected: Set[Long] = keyed.filter(_._2).map(_._1).toSet
            val dataKeys: Set[Long] = keyed.map(_._1).toSet
            // one range scan covering every needed tile: the min-zoom
            // ANCESTOR ranges contain all deeper tiles' records. Sorted
            // adjacent ranges coalesce (Z-order neighbors fuse), and the
            // OR combines as a BALANCED tree — a left-deep reduce over
            // thousands of ranges overflows the analyzer stack.
            val zmin = zArr.min
            val raw = dataKeys.map { k =>
              val dz = Cell.tileKeyZ(k) - zmin
              Cell.tileKey(zmin, Cell.tileKeyX(k) >> dz, Cell.tileKeyY(k) >> dz)
            }.map { k =>
              (Cell.tileRangeLo(zmin, Cell.tileKeyX(k), Cell.tileKeyY(k)),
                Cell.tileRangeHi(zmin, Cell.tileKeyX(k), Cell.tileKeyY(k)))
            }.toSeq.sorted
            val merged = raw.foldLeft(List.empty[(Long, Long)]) {
              case ((lo0, hi0) :: rest, (lo, hi)) if lo <= hi0 + 1 =>
                (lo0, math.max(hi0, hi)) :: rest
              case (acc, r) => r :: acc
            }.reverse
            def orTree(cs: IndexedSeq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
              if (cs.length == 1) cs.head
              else orTree(cs.take(cs.length / 2)) || orTree(cs.drop(cs.length / 2))
            val cond = orTree(merged.map { case (lo, hi) =>
              col("cell") >= lo && col("cell") <= hi
            }.toIndexedSeq)
            val subset = spark.read.parquet(snapshotDir).filter(cond)
            // broadcast the affected-tile set instead of capturing it in
            // |zArr| task closures (the renderPyramidSalted hotB pattern)
            val affectedB = spark.sparkContext.broadcast(affected)
            val tiles = zArr.map { z =>
              graft.render.Render.renderTiles(Some(subset), None, z, mapbits, p,
                requireOwn = true,
                only = Some((tx, ty) => affectedB.value.contains(Cell.tileKey(z, tx, ty))))
            }.reduce(_ union _)
            graft.sinks.Sinks.writeTileset(tiles, tilesDir, snapshotDir)
            }
            // wholesale low-zoom cadence: batch 0 PLUS every
            // lowZoomEvery-th batch thereafter (anchored so the cadence
            // still lands on the same batches as before). Batch 0 is
            // REQUIRED: a short stream (fewer than lowZoomEvery
            // micro-batches under AvailableNow) would otherwise never
            // render the step-sampled shallow zooms at all — they
            // didn't lag, they didn't exist. Between refreshes the lag
            // stays <= lowZoomEvery-1 batches as documented.
            if (lowZooms.nonEmpty &&
                (batchId == 0L || batchId % lowZoomEvery == (lowZoomEvery - 1)))
              refreshLowZooms(spark, snapshotDir, tilesDir, lowZooms, mapbits, p)
          }
        } finally b.unpersist()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Wholesale re-render of the step-sampled low zooms from the current
    * snapshot: fresh global rank over the narrow (cell, meta) projection,
    * then the one-shuffle pyramid over just those zooms. Used on the
    * incremental cadence and as the caller's finalizer after a bounded
    * stream drains.
    *
    * Replace is SWAP-BASED, never delete-then-render: the new generation
    * renders into a sibling temp dir, then each zoom dir is renamed in
    * (old generation out first, deleted LAST) — a crash mid-refresh
    * leaves the previous tiles stale-but-present instead of absent, and
    * concurrent map readers see each zoom vanish only for the instant
    * between two renames, not for the whole render window. Wholesale
    * REPLACE is still the semantics: the global-rank step sample shifts
    * as the corpus grows, so a fresh render's tile set can SHRINK, and
    * an overlay would leave orphan tiles forever.
    *
    * `tilesDir` must be on the LOCAL filesystem: the tileset sink
    * (Sinks.writeTileset) and this swap use java.nio, matching the
    * reference's `render -o` directory-of-PNGs layout, which is a
    * local-serving artifact. snapshotDir (and the dedup/stream state
    * roots, see migrateFlatSink) ARE Hadoop-FS capable — only the
    * final PNG tree is local-only by design. */
  def refreshLowZooms(spark: SparkSession, snapshotDir: String, tilesDir: String,
                      zooms: Seq[Int], mapbits: Int, p: graft.core.RenderParams): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def deleteRecursive(d: java.nio.file.Path): Unit =
      if (Files.exists(d)) {
        import scala.jdk.CollectionConverters._
        val st = Files.walk(d)
        try st.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.delete)
        finally st.close()
      }
    // dot-prefixed siblings: never readable as zoom levels by clients
    // listing tilesDir; leftovers from a crashed refresh are reclaimed
    // at the next refresh before rendering begins
    val tmp = Paths.get(tilesDir, ".lowzoom.next")
    val old = Paths.get(tilesDir, ".lowzoom.old")
    // swap-in-progress marker: present only between the start and the
    // end of the per-zoom rename loop below, so a leftover .old tree is
    // distinguishable as (a) crash MID-SWAP — some zooms' previous
    // tiles live only in .old and must be restored — vs (b) crash
    // after a COMPLETED swap — .old holds the replaced generation plus
    // the zooms the new render legitimately dropped (the shrink case),
    // which must NOT be resurrected as orphan tiles.
    val swapMarker = Paths.get(tilesDir, ".lowzoom.swapping")
    deleteRecursive(tmp)
    // crash window repair BEFORE discarding the old generation: only
    // when the previous refresh died mid-swap, restore the zooms whose
    // live dir is absent with their .old copy present, so the
    // 'stale-but-present' guarantee survives a SECOND crash during the
    // follow-up render; after a completed swap the .old tree is litter
    // (a markerless .old also covers trees from builds predating the
    // marker — those are treated as litter, matching the shipped
    // pre-marker behavior, which deleted .old outright). Restores are
    // limited to CURRENTLY-REQUESTED zooms: a crash in the instant
    // between the completed swap loop and the marker delete must not
    // resurrect a zoom the caller no longer renders (the swap loop
    // below re-swaps every requested zoom this refresh, so a restored
    // shrink-dropped zoom is re-dropped within this very call — never
    // a permanent orphan).
    if (Files.exists(swapMarker) && Files.isDirectory(old)) {
      val requested = zooms.map(_.toString).toSet
      val st = Files.list(old)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.foreach { oz =>
          val name = oz.getFileName.toString
          val live = Paths.get(tilesDir, name)
          if (requested.contains(name) && !Files.exists(live))
            Files.move(oz, live, StandardCopyOption.ATOMIC_MOVE)
        }
      } finally st.close()
    }
    Files.deleteIfExists(swapMarker)
    deleteRecursive(old)
    val ranked = graft.render.Render.withGlobalRank(
      spark.read.parquet(snapshotDir).select(col("cell"), col("meta")))
    try {
      val tiles = graft.render.Render.renderPyramid(ranked, zooms, mapbits, p)
      graft.sinks.Sinks.writeTileset(tiles, tmp.toString, snapshotDir)
    } finally ranked.unpersist()
    Files.createDirectories(old)
    Files.createFile(swapMarker) // see the repair block above
    zooms.foreach { z =>
      val live = Paths.get(tilesDir, z.toString)
      val next = tmp.resolve(z.toString)
      if (Files.exists(live))
        Files.move(live, old.resolve(z.toString), StandardCopyOption.ATOMIC_MOVE)
      // a zoom that rendered no tiles in the new generation stays
      // absent — that IS the shrink case the wholesale replace exists for
      if (Files.exists(next))
        Files.move(next, live, StandardCopyOption.ATOMIC_MOVE)
    }
    // swap complete: from here a leftover .old tree is litter, and an
    // absent zoom dir means the new generation dropped it on purpose
    Files.deleteIfExists(swapMarker)
    // merge the ACTUALLY-RENDERED zoom range into the live metadata (the
    // temp render wrote its own metadata.json unaware of the live
    // range). After the swap a live zoom dir exists exactly when the
    // new generation rendered tiles there — merging the REQUESTED range
    // would advertise zoom levels whose tiles the step sample dropped
    // (clients would 404 on them).
    val rendered = zooms.filter(z => Files.exists(Paths.get(tilesDir, z.toString)))
    if (rendered.nonEmpty)
      graft.sinks.Sinks.mergeTilesetMetadata(tilesDir, snapshotDir, rendered.min, rendered.max)
    // old generation deleted LAST; temp now holds only metadata litter
    deleteRecursive(old); deleteRecursive(tmp)
  }

  /** Run a streaming query over a bounded source synchronously into a
    * memory sink named `name` (read it with `spark.table(name)`);
    * returns the already-drained StreamingQuery. */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }
}
