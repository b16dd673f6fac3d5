package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental SEMANTIC dedup against persisted state — the embedding
 * modality's analog of text/TextDedupState and Media's image-dedup
 * state, completing the set: a new batch of vectors dedups against
 * everything ever seen WITHOUT re-reading, re-assigning, or
 * re-shuffling the old corpus.
 *
 * Match semantics are EXACTLY [[Ann.semDedup]]'s: two vectors are
 * semantic duplicates iff they land in the SAME k-means cell (the
 * quantizer is FIXED at state-build time — re-clustering would move
 * cell boundaries and orphan history, the appendIvfIndex rule) and
 * their exact cosine is >= minCos. Because cells are fixed, the
 * incremental partition equals one-shot semDedup over the union,
 * regardless of batch boundaries (pinned by SemDedupStateSpec):
 * old-old pairs were linked when the old batch ingested; new-old pairs
 * probe ONLY the batch's cells via plan-time partition pruning (the
 * ivfTopKFromIndex collected-isin trick); new-new pairs are the
 * in-batch semDedup graph.
 *
 * State layout (a labeled IVF index):
 *   dir/centroids              (cid, cvec) — the fixed quantizer
 *   dir/vectors/cell=N/...     (vec_id, embedding, rep) at INGEST time
 * Index reps are sticky like band-index rows: merges compose as
 * (rep_a -> merged_rep) events downstream (ops.StickyLabels — shared
 * with both other modalities, so label semantics can never diverge);
 * rows are never rewritten. Writers (rebuild AND append) serialize on
 * ops.StateLease.withLease. vec_id must be a corpus-unique Long (it IS
 * the graph node id).
 */
object SemDedupState {

  /** Build the state: full [[Ann.semDedup]] over `vecs` (k-means
    * quantizer trained here), then persist centroids + the labeled
    * cell-partitioned vector index. Returns the labels (vec_id, rep). */
  def writeSemDedupState(vecs: DataFrame, k: Int, iters: Int, minCos: Double,
                         dir: String): DataFrame = {
    val (cids, cvecs) = Ann.kmeansCentroids(vecs, k, iters)
    val labeled = Ann.semDedup(vecs, cids, cvecs, minCos)
      .select(col("vec_id"), col("cell"), col("rep")).localCheckpoint(true)
    graft.ops.StateLease.withLease(dir) {
      val spark = vecs.sparkSession
      import spark.implicits._
      cids.zip(cvecs).toSeq.map { case (cid, v) => (cid, v.toSeq) }
        .toDF("cid", "cvec")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
      vecs.select(col("vec_id"), col("embedding"))
        .join(labeled, "vec_id")
        .select(col("vec_id"), col("embedding"), col("rep"), col("cell"))
        .sortWithinPartitions(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/vectors")
    }
    labeled.select(col("vec_id"), col("rep"))
  }

  /** Read the index's vectors pruned to `cells` ONLY — collected cell
    * ids become a static isin filter so partition pruning is
    * guaranteed at plan time (the ivfTopKFromIndex discipline,
    * including its partition-column type-inference dance). */
  private def prunedVectors(spark: SparkSession, dir: String,
                            cells: Array[Long]): DataFrame = {
    val idx = spark.read.parquet(s"$dir/vectors")
    val typedCells: Seq[Any] = idx.schema("cell").dataType match {
      case org.apache.spark.sql.types.IntegerType => cells.toSeq.map(_.toInt)
      case _ => cells.toSeq
    }
    idx.filter(col("cell").isin(typedCells: _*))
      .withColumn("cell", col("cell").cast("long"))
  }

  /** Dedup a NEW batch against the state without touching the old
    * corpus. Returns (labels(vec_id, rep), merges(rep_a, merged_rep)):
    * sticky old labels; a new vector bridging two old clusters emits a
    * merge event (shared ops.StickyLabels semantics). The old side
    * reads ONLY the batch's cells' partitions; the batch side
    * broadcasts onto that pruned scan, so the corpus never shuffles. */
  def incrementalSemDedup(newVecs: DataFrame, dir: String, minCos: Double,
                          maxBatchVectors: Long = 1L << 20,
                          maxCandPairs: Long = 1L << 33): (DataFrame, DataFrame) = {
    val spark = newVecs.sparkSession
    val (cids, cvecs) = Ann.collectCentroids(spark.read.parquet(s"$dir/centroids"))
    // ids + cell only (multi-consumer: in-batch pairs x2, probe, cells)
    val asg = Ann.ivfAssign(newVecs, cids, cvecs)
      .select(col("vec_id"), col("cell")).localCheckpoint(true)
    // "the batch is small" is ENFORCED, not assumed: the batch
    // broadcasts with its embeddings below, and an unguarded
    // whole-corpus micro-batch (an AvailableNow drain with no
    // maxFilesPerTrigger) would otherwise die as an opaque broadcast
    // OOM instead of this sizing error; the in-batch pair graph gets
    // semDedup's own quadratic-budget guard for the same reason
    val batchRows = asg.count()
    require(batchRows <= maxBatchVectors,
      s"incrementalSemDedup: batch of $batchRows vectors exceeds $maxBatchVectors — " +
        "feed smaller micro-batches (maxFilesPerTrigger / maxBytesPerTrigger) or " +
        "raise maxBatchVectors explicitly (the batch broadcasts with embeddings)")
    Ann.cellPairBudgetCheck(asg, maxCandPairs, "incrementalSemDedup")
    val cells = asg.select("cell").distinct().collect().map(_.getLong(0))

    // in-batch within-cell pairs: THE shared semDedup pair shape
    val inBatch = Ann.withinCellPairs(asg, newVecs, minCos)
      .select(col("vec_a").as("a"), col("vec_b").as("b"))

    // boundary probe: batch vectors (broadcast, embeddings included —
    // the batch is small by definition) against ONLY their cells'
    // index partitions. Edges link the new node to the old row's
    // STICKY REP — the old component's identity — so bridged old
    // clusters merge exactly like the band-index paths. The hit set is
    // candidate-sized and checkpointed; nothing ever scans the index
    // in full (the probeHits invariant).
    val batchSide = broadcast(
      newVecs.select(col("vec_id"), col("embedding"))
        .join(asg, "vec_id")
        .select(col("vec_id").as("new_id"), col("embedding").as("ev"), col("cell")))
    val probeHits = prunedVectors(spark, dir, cells)
      .join(batchSide, Seq("cell"))
      .filter(Ann.cosine(col("embedding"), col("ev")) >= minCos)
      .select(col("new_id"), col("rep"))
      .distinct()
      .localCheckpoint(true)
    val newOldEdges = probeHits.select(col("new_id").as("a"), col("rep").as("b"))
    val oldReps = probeHits.select(col("rep").as("rep_nid"), col("rep")).distinct()

    val comp = graft.ops.Components.connectedComponents(
      inBatch.unionByName(newOldEdges))
    val ids = newVecs.select(col("vec_id").cast("long").as("vec_id"))
      .withColumn("nid", col("vec_id"))
    graft.ops.StickyLabels.resolve(comp, oldReps, ids, "vec_id")
  }

  /** Fold a processed batch into the state so the NEXT batch sees it:
    * assign against the index's own centroids, drop vec_ids already
    * present in their cells (batch-replay idempotency — the presence
    * probe reads only the batch's cell partitions, id column only),
    * and append (vec_id, embedding, rep) rows partitioned by cell.
    * Lease-guarded single writer per corpus. */
  def appendSemDedupState(newVecs: DataFrame, newLabels: DataFrame, dir: String): Unit =
    graft.ops.StateLease.withLease(dir) {
      val spark = newVecs.sparkSession
      val (cids, cvecs) = Ann.collectCentroids(spark.read.parquet(s"$dir/centroids"))
      // embedding-carrying checkpoint is consumed entirely within this
      // call — release it (leaking one embedding batch of executor
      // storage per micro-batch drained is the leak class every
      // per-batch checkpoint must avoid)
      val asg = Ann.ivfAssign(newVecs, cids, cvecs).localCheckpoint(true)
      try {
        val cells = asg.select("cell").distinct().collect().map(_.getLong(0))
        val present = prunedVectors(spark, dir, cells).select(col("vec_id"))
        val fresh = asg.join(present, Seq("vec_id"), "left_anti")
        fresh
          .join(newLabels.select(col("vec_id").cast("long").as("vec_id"), col("rep")), "vec_id")
          .select(col("vec_id"), col("embedding"), col("rep"), col("cell"))
          .sortWithinPartitions(col("cell"))
          .write.mode("append").partitionBy("cell").parquet(s"$dir/vectors")
      } finally graft.ops.Checkpoint.release(asg)
    }
}
