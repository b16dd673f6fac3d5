package graft.media

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import graft.core.Png

/** Decoded raster: interleaved RGB bytes + dims. */
case class DecodedImage(image_id: String, w: Int, h: Int, rgb: Array[Byte])

/** Per-image features extracted from pixels. */
case class ImageFeatures(image_id: String, w: Int, h: Int,
                         mean_r: Double, mean_g: Double, mean_b: Double,
                         luma_hist: Array[Long])

/**
 * Image payload operators: images ride through the engine as opaque
 * binary columns with typed metadata (w, h, fmt); the pixel work
 * happens in batch-shaped mapPartitions. Payloads no codec in the JVM
 * can read are STUBBED with deterministic fakes (clearly marked).
 *
 * Image dedup is one chain in nid space: [[dedupIds]] (the one decode
 * pass) -> [[dupEdges]] (ONE grouped banding pass, one shuffle: exact
 * copies and every Hamming <= 2 pair, each edge once; the kernel is
 * [[DupBands]]) -> ops.Components -> one name-resolve step. Batch,
 * curation, the state writers and the image streams all run it.
 */
object Media {
  /** Decode one payload. Real decoders: "raw" (interleaved RGB) and
    * EVERY other format via JDK ImageIO service discovery (in-memory
    * cache only), behind one header-checked read ([[imageioRead]]).
    * The JDK ships png/jpeg/gif/bmp/wbmp readers, and any codec jar
    * dropped on the classpath (e.g. a webp ImageIO plugin) registers
    * through the same SPI — so new formats start decoding with NO code
    * change here; the reader sniffs the bytes. A payload labelled
    * "png" that does not decode throws (the curation decode gate drops
    * it). STUB: other payloads no registered reader accepts fall back
    * to a deterministic fake raster from the byte hash so the pipeline
    * shape stays testable (no webp codec ships in this container). */
  def decode(id: String, bytes: Array[Byte], w: Int, h: Int, fmt: String): DecodedImage = fmt match {
    case "raw" =>
      require(bytes.length == w * h * 3, s"raw payload size mismatch for $id")
      DecodedImage(id, w, h, bytes)
    case "png" =>
      imageioRead(bytes).fold(
        why => throw new IllegalArgumentException(s"png payload $id: $why"),
        bufferedToDecoded(id, _))
    case _ =>
      // no reader / corrupt / bomb payload -> stub
      imageioRead(bytes).fold(_ => stubDecode(id, bytes, w, h), bufferedToDecoded(id, _))
  }

  /** Decoded-pixel ceiling for untrusted payloads: a decompression bomb
    * (e.g. a GIF declaring a 65535x65535 logical screen from a few
    * hundred input bytes) would otherwise allocate gigabytes INSIDE the
    * codec. 64 Mpx ≈ 192 MB of RGB — far above any sane training image,
    * far below heap-killing. */
  final val MaxDecodePixels: Long = 64L << 20

  /** ImageIO decode with the header dimensions checked BEFORE pixel
    * allocation (reader.getWidth/Height parse only the header). Catches
    * NonFatal only: an OutOfMemoryError or other VM error must
    * propagate and fail the task rather than be swallowed into a stub
    * decode on a wounded executor. Unreadable, truncated or over-cap
    * payloads return Left(reason). */
  private def imageioRead(bytes: Array[Byte]): Either[String, java.awt.image.BufferedImage] =
    try {
      javax.imageio.ImageIO.setUseCache(false) // never touch disk
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) Left(s"no image reader accepts these ${bytes.length} bytes")
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val dw = reader.getWidth(0).toLong
            val dh = reader.getHeight(0).toLong
            if (dw <= 0 || dh <= 0 || dw * dh > MaxDecodePixels)
              Left(s"header claims ${dw}x$dh pixels, outside the MaxDecodePixels cap ($MaxDecodePixels)")
            else Right(reader.read(0))
          } finally reader.dispose()
        }
      } finally iis.close() // dispose() never closes the reader's input
    } catch { case scala.util.control.NonFatal(e) => Left(s"unreadable image: $e") }

  /** BufferedImage -> interleaved RGB, read through [[Png.argbRow]] so
    * a gray payload decodes to the same pixels as its raw form. */
  private def bufferedToDecoded(id: String, bi: java.awt.image.BufferedImage): DecodedImage = {
    val dw = bi.getWidth; val dh = bi.getHeight
    val rgb = new Array[Byte](dw * dh * 3)
    val row = new Array[Int](dw)
    var y = 0
    while (y < dh) {
      Png.argbRow(bi, y, row)
      var x = 0
      while (x < dw) {
        val px = row(x); val o = (y * dw + x) * 3
        rgb(o) = (px >> 16).toByte
        rgb(o + 1) = (px >> 8).toByte
        rgb(o + 2) = px.toByte
        x += 1
      }
      y += 1
    }
    DecodedImage(id, dw, dh, rgb)
  }

  /** Clamp caller-supplied stub dimensions: metadata is as untrusted as
    * payload bytes — w*h*3 can overflow Int (wrapped undersized arrays
    * -> downstream index crashes) or allocate gigabytes past the
    * MaxDecodePixels cap the real decoders enforce. Degenerate or
    * oversized dims degrade to a small deterministic raster. */
  private def clampStubDims(w: Int, h: Int): (Int, Int) = {
    val px = w.toLong * h
    if (w <= 0 || h <= 0 || px > MaxDecodePixels) (8, 8) else (w, h)
  }

  /** STUB decode (no codec for this fmt in-container): deterministic
    * fake pixels from a hash of the payload. */
  private def stubDecode(id: String, bytes: Array[Byte], w0: Int, h0: Int): DecodedImage = {
    val (w, h) = clampStubDims(w0, h0)
    var s = java.util.Arrays.hashCode(bytes).toLong
    val rgb = new Array[Byte](w * h * 3)
    var i = 0
    while (i < rgb.length) {
      s = s * 6364136223846793005L + 1442695040888963407L
      rgb(i) = (s >>> 56).toByte
      i += 1
    }
    DecodedImage(id, w, h, rgb)
  }

  /** Channel means + 16-bin luma histogram. */
  def features(img: DecodedImage): ImageFeatures = {
    var r = 0L; var g = 0L; var b = 0L
    val hist = new Array[Long](16)
    var i = 0
    val n = img.w * img.h
    while (i < n) {
      val rr = img.rgb(3 * i) & 0xFF
      val gg = img.rgb(3 * i + 1) & 0xFF
      val bb = img.rgb(3 * i + 2) & 0xFF
      r += rr; g += gg; b += bb
      val luma = (rr * 299 + gg * 587 + bb * 114) / 1000
      hist(luma >> 4) += 1
      i += 1
    }
    ImageFeatures(img.image_id, img.w, img.h,
      r.toDouble / n, g.toDouble / n, b.toDouble / n, hist)
  }

  // ---------- perceptual image dedup ----------

  /** 64-bit difference hash (dHash, the classic perceptual image
    * fingerprint): grayscale -> 9x8 area-average downsample ->
    * horizontal luma-gradient sign bits. Pure integer arithmetic, so
    * it's deterministic and format-invariant: a PNG and a raw payload
    * of the same pixels hash identically, and small pixel edits move
    * only a few bits (Hamming-near). */
  def dhash64(img: DecodedImage): Long = {
    val gw = 9; val gh = 8
    val sum = new Array[Long](gw * gh)
    val cnt = new Array[Long](gw * gh)
    var y = 0
    while (y < img.h) {
      val gy = (y.toLong * gh / img.h).toInt
      var x = 0
      while (x < img.w) {
        val gx = (x.toLong * gw / img.w).toInt
        val o = (y * img.w + x) * 3
        val luma = (img.rgb(o) & 0xFF) * 299 +
          (img.rgb(o + 1) & 0xFF) * 587 + (img.rgb(o + 2) & 0xFF) * 114
        sum(gy * gw + gx) += luma
        cnt(gy * gw + gx) += 1
        x += 1
      }
      y += 1
    }
    // images narrower than the grid leave empty columns (avg 0) — still
    // deterministic and format-invariant, which is all dedup needs
    var bits = 0L
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw - 1) {
        val a = if (cnt(gy * gw + gx) == 0) 0L else sum(gy * gw + gx) / cnt(gy * gw + gx)
        val b = if (cnt(gy * gw + gx + 1) == 0) 0L else sum(gy * gw + gx + 1) / cnt(gy * gw + gx + 1)
        if (a > b) bits |= 1L << (gy * (gw - 1) + gx)
        gx += 1
      }
      gy += 1
    }
    bits
  }

  /** Re-encode decoded pixels as an (opaque-alpha) PNG payload — the
    * single source for "same pixels, different bytes" duplicates in
    * bench ground truth and tests. */
  def reencodePng(img: DecodedImage): Array[Byte] = {
    val rgba = new Array[Byte](img.w * img.h * 4)
    var i = 0
    while (i < img.w * img.h) {
      rgba(4 * i) = img.rgb(3 * i)
      rgba(4 * i + 1) = img.rgb(3 * i + 1)
      rgba(4 * i + 2) = img.rgb(3 * i + 2)
      rgba(4 * i + 3) = 0xFF.toByte
      i += 1
    }
    Png.encode(rgba, img.w, img.h)
  }

  /** images df (image_id, bytes, w, h, fmt) -> (image_id, dhash):
    * the only pass that reads the payload column; everything downstream
    * shuffles (String, Long) rows. A row whose payload [[decode]]
    * rejects (a `png` that does not decode or is over MaxDecodePixels,
    * a `raw` payload of the wrong size) is dropped, as the curation
    * decode gate drops it, instead of failing the job. */
  def dhashes(images: DataFrame): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    val src = images.select(col("image_id"), col("bytes"), col("w"), col("h"), col("fmt"))
    // Decode is the CPU-bound pass: when the input arrives in fewer
    // splits than cores, fan out BEFORE decoding (the one ReadBalance
    // guard — a no-op whenever the scan already has >= cores splits).
    graft.ops.ReadBalance.fanOut(src)
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.flatMap { case (id, bytes, w, h, fmt) =>
        val img = try Some(decode(id, bytes, w, h, fmt))
                  catch { case _: IllegalArgumentException => None }
        img.map(i => (id, dhash64(i)))
      })
      .toDF("image_id", "dhash")
  }

  /** Duplicate-graph edges over an (id, dhash) projection in ONE grouped
    * pass: every row explodes into its six level-1 band keys
    * ([[packedBandKeys]], the key the state index uses), the rows are
    * hash-partitioned on the key and sorted by (key, dhash, id), and
    * [[DupBands.edges]] streams each bucket: copies of a hash collapse
    * to their min id with one star edge per other copy (from band 0),
    * and distinct hashes at Hamming <= maxHamming pair up exactly once,
    * from the first band they share; a bucket of more than
    * [[DupBands.Cap]] distinct hashes recurses in the task over the
    * sub-bands of its residual bits, down to the terminal level whose
    * buckets fix 56 of the 64 bits (<= 2^8 distinct hashes). Recall at
    * Hamming <= 2 is 1.0 unconditionally, and one exchange carries only
    * (key, dhash, id) rows. */
  private def bandEdges[I](hashes: DataFrame, id: String, maxHamming: Int)(
      implicit rows: Encoder[(Long, Long, I)], pairs: Encoder[(I, I)]): Dataset[(I, I)] = {
    require(maxHamming <= 2, "chunk-pair banding only guarantees recall for Hamming <= 2")
    hashes.select(explode(packedBandKeys(col("dhash"))).as("key"), col("dhash"), col(id))
      .repartition(col("key"))
      .sortWithinPartitions(col("key"), col("dhash"), col(id))
      .as[(Long, Long, I)]
      .mapPartitions(DupBands.edges(_, maxHamming))
  }

  /** Near-duplicate image pairs (img_a, img_b) from (image_id, dhash)
    * rows, by the same one-pass banding as the engine's own dedup
    * ([[bandEdges]]). Identical hashes collapse to their min image_id,
    * and each other copy attaches to it by one Hamming-0 star edge: the
    * output is CONNECTIVITY-preserving (every true near-dup pair lies in
    * one connected component of it), not the full quadratic pair set
    * when exact duplicates exist. Distinct-hash inputs get the complete
    * pair set, each pair once. */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int = 2): DataFrame = {
    val spark = hashes.sparkSession
    import spark.implicits._
    bandEdges[String](hashes, "image_id", maxHamming).toDF("img_a", "img_b")
  }

  // ---------- the dedup chain, entirely in nid space ----------
  //
  // dedupIds -> dupEdges (one grouped banding pass) -> Components -> nid
  // labels -> one name-resolve step. Batch, phased, stateful and
  // streaming-state clustering all run it; curation enters at dupEdges
  // (imageDupLabelsNid) with its own one-pass features + dhash projection.

  /** images df (image_id, bytes, w, h, fmt) -> (image_id, dhash, nid):
    * the one payload-decode pass every dedup entry point starts from.
    * nid = xxhash64 of the string id, the Long node id components need
    * (collision odds ~n^2/2^65 — 1e-8 at a million images; at real
    * catalog scale swap in a precomputed numeric key). Eager
    * localCheckpoint = lineage-free, reclaimed by the ContextCleaner:
    * the projection feeds several consumers and each would otherwise
    * re-run the decode. */
  def dedupIds(images: DataFrame): DataFrame =
    dhashes(images).withColumn("nid", xxhash64(col("image_id"))).localCheckpoint(true)

  /** Duplicate-graph edges (a, b) as nids over a [[dedupIds]]
    * projection ([[bandEdges]]: exact copies and near pairs in one
    * shuffle), plus the distinct-hash rep table (dhash, nid): a lazy
    * aggregation that only the state writers read. Only nid + dhash are
    * read: no image_id string rides any shuffle here. */
  private[graft] def dupEdges(ids: DataFrame, maxHamming: Int): (DataFrame, DataFrame) = {
    val spark = ids.sparkSession
    import spark.implicits._
    (bandEdges[Long](ids, "nid", maxHamming).toDF("a", "b"),
      ids.groupBy(col("dhash")).agg(min(col("nid")).as("nid")))
  }

  /** Components over a dup-edge list: (nid, rep) for every node with an
    * edge, rep = the component's min nid. */
  private def componentLabels(edges: DataFrame): DataFrame =
    graft.ops.Components.connectedComponents(edges).withColumnRenamed("node", "nid")

  /** The name-resolve step over component `labels` (nid, rep): (image_id,
    * nid, rep) for every image, rep the image_id of its component's min
    * nid (singletons label themselves). Only nids that ARE a component
    * rep need resolving — a component-count-sized set — which keeps both
    * joins broadcastable (an unrestricted name map would be a corpus x
    * corpus shuffle join at scale). `hold` registers the labels
    * checkpoint ([[graft.ops.Checkpoint.holding]]). */
  private[graft] def resolveNames(ids: DataFrame, labels: DataFrame,
                                  hold: DataFrame => DataFrame = identity): DataFrame = {
    val held = hold(labels.localCheckpoint(true)) // duplicate-node-sized; feeds two joins + the rep set
    val repNames = ids.select(col("nid").as("rep"), col("image_id").as("rep_id"))
      .join(held.select(col("rep")).distinct(), "rep")
    ids.select(col("image_id"), col("nid")).join(held, Seq("nid"), "left")
      .join(repNames, Seq("rep"), "left")
      .select(col("image_id"), col("nid"), coalesce(col("rep_id"), col("image_id")).as("rep"))
  }

  /** Full image dedup: decode -> dhash -> banded pairs -> connected
    * components. Returns (image_id, rep); keep-one is
    * filter(image_id === rep) after a left join back to the table. */
  def imageDupClusters(images: DataFrame, maxHamming: Int = 2): DataFrame =
    imageDupClustersPhased(images, maxHamming)._1

  /** Duplicate labels entirely in nid space: (nid, rep) with singletons
    * mapped to themselves — the keep-best-per-cluster entry point
    * (`ids` needs only nid + dhash), so downstream per-cluster
    * aggregations move 8-byte keys only; attach names at the end by
    * joining back on nid. */
  def imageDupLabelsNid(ids: DataFrame, maxHamming: Int = 2): DataFrame =
    ids.select(col("nid")).join(componentLabels(dupEdges(ids, maxHamming)._1), Seq("nid"), "left")
      .select(col("nid"), coalesce(col("rep"), col("nid")).as("rep"))

  /** [[imageDupClusters]] with per-phase wall timings for the bench:
    * returns (labels, decodeSec, bandSec) — decode = payload scan ->
    * [[dedupIds]] (checkpoint-forced), band = the grouped banding pass
    * to the edge list (checkpoint-forced); components run eagerly
    * inside the returned labels' construction, and the rep-name joins
    * are what the caller's terminal action pays. */
  def imageDupClustersPhased(images: DataFrame, maxHamming: Int = 2): (DataFrame, Double, Double) = {
    val t0 = System.nanoTime()
    val ids = dedupIds(images)
    val tDecode = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val edges = dupEdges(ids, maxHamming)._1.localCheckpoint(true)
    val tBand = (System.nanoTime() - t1) / 1e9
    (resolveNames(ids, componentLabels(edges)).drop("nid"), tDecode, tBand)
  }

  // ---------- incremental image dedup against persisted state ----------

  /** Pack a level-1 quarter-pair band key into one Long — the
    * INDEXABLE band encoding (structs can't be bucket columns):
    * (band << 32) | (quarter_i << 16) | quarter_j. */
  private def packedBandKeys(dhash: Column): Column = {
    def quarter(i: Int) = shiftrightunsigned(dhash, i * 16).bitwiseAND(lit(0xFFFFL))
    array(DupBands.chunks.toSeq.zipWithIndex.map { case ((i, j, _, _), b) =>
      lit(b.toLong << 32).bitwiseOR(shiftleft(quarter(i), 16)).bitwiseOR(quarter(j))
    }: _*)
  }

  /** Build the persisted dedup state for [[incrementalImageDedup]]:
    * runs the full batch clustering, then lands `<table>` (catalog,
    * parquet at `dir/bands`): one row per (distinct dhash x 6 level-1
    * bands) — (band_key, dhash, rep_nid, rep) — BUCKETED by band_key,
    * so incremental probes join the corpus-sized side with zero
    * shuffle. Returns the labels (image_id, rep) for every image. At
    * 10^12 images the bands table is ~300 B/distinct hash; probes read
    * only matching buckets. Every checkpoint made on the way is freed
    * once the index is written; only the returned labels' stays. */
  def writeImageDedupState(images: DataFrame, dir: String, table: String,
                           buckets: Int, maxHamming: Int = 2): DataFrame =
    graft.ops.Checkpoint.holding { hold =>
      // ONE payload-decode pass feeds both the clustering and the index
      val ids = hold(dedupIds(images))
      val (edges, repIds) = dupEdges(ids, maxHamming)
      val labels = resolveNames(ids, componentLabels(edges), hold).localCheckpoint(true)
      // each distinct hash finds its label by its min member's nid: one
      // index row per (distinct hash, band)
      val distinctHash = repIds.join(labels.select(col("nid"), col("rep")), "nid")
        .select(col("dhash"), col("rep"), xxhash64(col("rep")).as("rep_nid"))
      graft.ops.StateLease.writeBandIndex(table, dir, buckets, rebuild = true)(
        distinctHash.select(explode(packedBandKeys(col("dhash"))).as("band_key"),
          col("dhash"), col("rep_nid"), col("rep")))
      labels.select(col("image_id"), col("rep"))
    }

  /** Deduplicate a NEW batch, given as its [[dedupIds]] projection,
    * against persisted state WITHOUT touching the old corpus — the only
    * formulation that survives continuous ingest at 10^12 images
    * (re-running [[imageDupClusters]] over everything per batch
    * re-decodes and re-shuffles the world). Callers that also fold
    * state ([[appendImageDedupState]]) reuse the same projection, so
    * the batch decodes ONCE.
    *
    * Within the batch: the one grouped banding pass (recall 1.0 at
    * Hamming <= maxHamming). Across the batch/corpus boundary: new
    * hashes probe the bucketed level-1 band index — the corpus side
    * never shuffles; only (new-hash, band) rows do — and verify by
    * exact Hamming against the matched member hash. The index keeps
    * EVERY band of every distinct hash and the probe join is uncapped,
    * so boundary recall is ALSO 1.0 at Hamming <= 2 by the same
    * pigeonhole; the cost guard is per-bucket join fan-out, bounded by
    * |batch| x hottest-bucket occupancy (not corpus^2).
    *
    * Old labels are STICKY: a new image joining an old cluster takes
    * the OLD rep. A new image bridging several old clusters reports a
    * merge instead of relabeling the corpus: returns
    * (newLabels(image_id, rep), merges(rep_a, merged_rep)) — apply
    * merges downstream as rep_a -> merged_rep, at most a
    * label-table-sized join, never a re-cluster. `hold` registers
    * every checkpoint made here, for a caller that frees them once the
    * labels and merges are landed ([[graft.ops.Checkpoint.holding]]). */
  def incrementalImageDedup(ids: DataFrame, bandsTable: String, maxHamming: Int = 2,
                            hold: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    val spark = ids.sparkSession
    val (batchEdges, repIds) = dupEdges(ids, maxHamming)
    // boundary probe: new distinct hashes explode their 6 band keys and
    // join the BUCKETED index — corpus side shuffle-free — then verify
    // by exact Hamming against the matched member hash. The hit set is
    // candidate-sized and eagerly checkpointed: BOTH the edge list and
    // the old-rep name map below derive from it, and everything this
    // function knows about the corpus flows through it — the index is
    // never scanned or aggregated in full.
    val probes = repIds
      .select(col("nid"), col("dhash").as("new_dhash"),
        explode(packedBandKeys(col("dhash"))).as("band_key"))
    val index = spark.table(bandsTable)
    val probeHits = hold(probes.join(index, "band_key")
      .filter(graft.text.TextOps.hamming64(col("new_dhash"), col("dhash")) <= maxHamming)
      .select(col("nid"), col("rep_nid"), col("rep"))
      .localCheckpoint(true))
    val newOldEdges = probeHits.select(col("nid").as("a"), col("rep_nid").as("b"))
      .distinct()
    val oldReps = probeHits.select(col("rep_nid"), col("rep")).distinct()
    val comp = graft.ops.Components.connectedComponents(batchEdges.unionByName(newOldEdges))
    // sticky labels + merge events: shared resolution (ops.StickyLabels,
    // one source with the text path)
    graft.ops.StickyLabels.resolve(comp, oldReps,
      ids.select(col("image_id"), col("nid")), "image_id", hold)
  }

  /** Fold a processed batch (its [[dedupIds]] projection; only
    * image_id + dhash are read) into the persisted dedup state so the
    * NEXT batch's probes see it: appends band rows for the batch's
    * distinct hashes that are NOT already indexed (presence is an
    * exact-dhash match detected through the band-0 bucket join —
    * identical hashes share every band, so one band suffices, and the
    * corpus side stays shuffle-free), labeled with the batch's FINAL
    * reps from [[incrementalImageDedup]]'s newLabels. The presence
    * check makes a replayed fold a no-op. `buckets` must match the
    * value the state was built with.
    *
    * Merge semantics: band rows of clusters ABSORBED by an earlier
    * merge keep their original rep — labels compose through the
    * accumulated merge tables (rep_a -> merged_rep), they are never
    * rewritten in place. Single-writer per corpus, ENFORCED by the
    * StateLease on `dir` (stale leases from crashed writers are stolen
    * after 15 min): a concurrent append throws instead of corrupting
    * the bucketed index. */
  def appendImageDedupState(ids: DataFrame, newLabels: DataFrame,
                            bandsTable: String, dir: String, buckets: Int): Unit =
    graft.ops.StateLease.writeBandIndex(bandsTable, dir, buckets, rebuild = false) {
      val distinctNew = ids.groupBy(col("dhash")).agg(min(col("image_id")).as("member_id"))
      def band0(dhash: Column): Column = { // packed (b=0, q0, q1) key
        def quarter(i: Int) = shiftrightunsigned(dhash, i * 16).bitwiseAND(lit(0xFFFFL))
        shiftleft(quarter(0), 16).bitwiseOR(quarter(1))
      }
      val idx0 = ids.sparkSession.table(bandsTable)
        .filter(col("band_key") < (1L << 32)) // band 0 rows only
        .select(col("band_key"), col("dhash").as("old_dhash"))
      val fresh = distinctNew.withColumn("band_key", band0(col("dhash")))
        .join(idx0, Seq("band_key"), "left")
        .groupBy(col("dhash"), col("member_id"))
        .agg(max(when(col("old_dhash") === col("dhash"), 1).otherwise(0)).as("present"))
        .filter(col("present") === 0)
        .select(col("dhash"), col("member_id"))
      fresh
        .join(newLabels.withColumnRenamed("image_id", "member_id"), "member_id")
        .select(explode(packedBandKeys(col("dhash"))).as("band_key"),
          col("dhash"), xxhash64(col("rep")).as("rep_nid"), col("rep"))
    }
}
