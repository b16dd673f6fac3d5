package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Incremental TEXT near-dup dedup against persisted state — the text
 * analog of Media.writeImageDedupState / incrementalImageDedup, and the
 * continuous-ingest shape for a 100 TB document corpus: a new batch
 * dedups against everything ever seen WITHOUT re-tokenizing,
 * re-hashing, or re-shuffling the old corpus.
 *
 * Match semantics are EXACTLY the batch MinHash-LSH pipeline's
 * (q28/q42, geometry single-sourced from TextOps.Lsh*): two documents
 * are near-dups iff they share any LSH band key of their minhash
 * signatures; additionally EVERY distinct text — including docs too
 * short/non-latin for LSH banding — carries one md5 "band" row
 * (band = -1, key in a disjoint >= 2^62 namespace, match verified by
 * exact text_md5 equality), so cross-batch EXACT copies link no matter
 * their eligibility and the incremental partition equals one-shot
 * clustering regardless of batch boundaries. The persisted state is
 * `<table>` (catalog, parquet at `dir/bands`): one row per
 * (distinct-md5 rep doc x (bands + 1)) — (band, band_key, text_md5,
 * rep) — BUCKETED by band_key so incremental probes join the
 * corpus-sized side with ZERO shuffle (read via spark.table, never
 * read.parquet: bucket metadata lives in the catalog).
 *
 * A batch is hashed ONCE: [[prepare]] (the text analog of
 * Media.dedupIds) feeds both [[incrementalTextDedup]] and
 * [[appendTextDedupState]].
 *
 * Exact duplicates (identical text — the bulk of web duplication)
 * collapse by an md5 pregroup before banding, so a million-copy
 * document contributes ONE set of band rows, never a mega-bucket; the
 * pregroup's star edges preserve connectivity, so the induced partition
 * equals the plain batch clustering's.
 *
 * Labels are STICKY and merges compose — identical semantics to the
 * image path via the shared ops.StickyLabels. Appends are serialized
 * per corpus by ops.StateLease. doc_id must be a corpus-unique Long
 * (it IS the graph node id — no separate nid hash needed).
 */
object TextDedupState {
  /** md5 "band" key: xxhash64 of the md5 string forced into a
    * namespace disjoint from the < 2^31 LSH band keys. The key only
    * SEEDS the bucket join — matches verify by exact text_md5
    * equality, so a 64-bit collision can never merge clusters. */
  private def md5Key(md5Col: Column): Column =
    xxhash64(md5Col).bitwiseAND(lit(0x3FFFFFFFFFFFFFFFL)).bitwiseOR(lit(1L << 62))

  /** A batch of documents hashed once by [[prepare]]: `ids` (doc_id as
    * Long, lazy over the input), the md5-pregroup `starEdges` and the
    * `bands` rows, both CHECKPOINTED — the callers that own the batch
    * release `checkpoints` once the batch is folded. */
  final case class PreparedDocs(ids: DataFrame, starEdges: DataFrame, bands: DataFrame) {
    def checkpoints: Seq[DataFrame] = Seq(starEdges, bands)
  }

  /** Batch preparation over (doc_id, text): star edges from the md5
    * pregroup plus band rows — the LSH bands of eligible reps PLUS one
    * md5 row (band = -1) for EVERY rep. Both are checkpointed: bands
    * feed the pair join (which scans twice) plus the probe/index writes
    * (CLAUDE.md multi-consumer invariant).
    *
    * Band keys and the md5 digest compute MAP-SIDE off the scan, so
    * the checkpointed projection — (doc_id, 32-char md5, <= bands
    * 8-byte keys) — is all that ever shuffles: the full text column
    * never leaves the scan (it used to ride the pregroup join, a
    * corpus-text shuffle at state-build time). Signatures compute per
    * DOC, not per rep — identical texts produce identical keys, so the
    * rep band rows are unchanged; the trade is minhash CPU on
    * duplicate copies for zero text bytes on any exchange. The narrow
    * checkpoint is released HERE once both derived checkpoints have
    * materialized (leaking one per micro-batch inflates executor
    * storage batch over batch). */
  def prepare(docs: DataFrame): PreparedDocs = {
    val keyed = docs.select(col("doc_id").cast("long").as("doc_id"),
        md5(col("text")).as("text_md5"),
        when(TextOps.lshEligible(col("text")),
          TextOps.minhashBandKeys(col("text"), TextOps.LshShingle,
            TextOps.LshBands, TextOps.LshRows))
          .otherwise(typedLit(Array.empty[Long])).as("bks"))
      .localCheckpoint(true)
    try {
      val groups = keyed.groupBy(col("text_md5")).agg(min(col("doc_id")).as("grep"))
      val withRep = keyed.join(groups, "text_md5")
      val starEdges = withRep.filter(col("doc_id") =!= col("grep"))
        .select(col("doc_id").as("a"), col("grep").as("b"))
        .localCheckpoint(true)
      val reps = withRep.filter(col("doc_id") === col("grep"))
      val keyBands = reps.select(col("doc_id"), col("text_md5"),
        posexplode(col("bks")).as(Seq("band", "band_key")))
      val md5Bands = reps.select(col("doc_id"), col("text_md5"),
        lit(-1).as("band"), md5Key(col("text_md5")).as("band_key"))
      val bands = keyBands.unionByName(md5Bands).localCheckpoint(true)
      PreparedDocs(docs.select(col("doc_id").cast("long").as("doc_id")), starEdges, bands)
    } finally graft.ops.Checkpoint.release(keyed)
  }

  /** In-batch near-dup pairs from prepared band rows: the capped LSH
    * pair join over the LSH rows only (md5 rows are redundant in-batch
    * — identical texts already collapsed into one rep). */
  private def batchPairs(bands: DataFrame,
                         hold: DataFrame => DataFrame = identity): DataFrame =
    TextOps.cappedCandidatePairs(
      bands.filter(col("band") =!= -1).select(col("doc_id"), col("band_key")),
      "band_key", cap = TextOps.LshCap, hold)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))

  /** Build the persisted state: batch-cluster `docs` (md5 pregroup +
    * capped LSH pairs + connected components — the q42 partition),
    * land the bucketed band index, return the labels (doc_id, rep).
    * Every checkpoint made on the way is freed once the index is
    * written; only the returned labels' stays. */
  def writeTextDedupState(docs: DataFrame, dir: String, table: String,
                          buckets: Int): DataFrame =
    graft.ops.Checkpoint.holding { hold =>
      val p = prepare(docs)
      p.checkpoints.foreach(hold)
      val comp = graft.ops.Components
        .connectedComponents(p.starEdges.unionByName(batchPairs(p.bands, hold)))
        .withColumnRenamed("node", "doc_id")
      val labels = p.ids
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
        .localCheckpoint(true)
      graft.ops.StateLease.writeBandIndex(table, dir, buckets, rebuild = true)(
        p.bands
          .join(labels, "doc_id")
          .select(col("band"), col("band_key"), col("text_md5"), col("rep")))
      labels
    }

  /** Dedup a NEW prepared batch against the persisted band index
    * WITHOUT touching the old corpus: within the batch, the full
    * md5-pregroup + capped-LSH clustering; across the boundary, the
    * batch's band rows (LSH + md5) probe the BUCKETED index (corpus side
    * never shuffles; only (doc_id, band_key) rows do) — a shared LSH
    * band key IS a match (the batch criterion) and md5 rows match on
    * verified exact text, so boundary semantics equal re-clustering the
    * union for eligible AND ineligible docs. Old labels are sticky;
    * bridges emit merges (see ops.StickyLabels). Returns
    * (labels(doc_id, rep), merges(rep_a, merged_rep)); `hold` registers
    * the checkpoints made here ([[graft.ops.Checkpoint.holding]]). */
  def incrementalTextDedup(batch: PreparedDocs, bandsTable: String,
                           hold: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    val spark = batch.bands.sparkSession
    // boundary probe: batch band rows join the bucketed index; md5-band
    // hits additionally verify exact text equality. The hit set is
    // candidate-sized and checkpointed — the edge list AND the old-rep
    // set both derive from it, and nothing ever scans the index in full
    val idx = spark.table(bandsTable)
      .select(col("band").as("i_band"), col("band_key"),
        col("text_md5").as("i_md5"), col("rep"))
    val probeHits = hold(batch.bands.select(col("doc_id"), col("text_md5"), col("band_key"))
      .join(idx, "band_key")
      .filter(col("i_band") =!= -1 || col("i_md5") === col("text_md5"))
      .select(col("doc_id"), col("rep"))
      .distinct()
      .localCheckpoint(true))
    val newOldEdges = probeHits.select(col("doc_id").as("a"), col("rep").as("b"))
    val oldReps = probeHits.select(col("rep").as("rep_nid"), col("rep")).distinct()
    val comp = graft.ops.Components.connectedComponents(
      batch.starEdges.unionByName(batchPairs(batch.bands, hold)).unionByName(newOldEdges))
    graft.ops.StickyLabels.resolve(comp, oldReps,
      batch.ids.withColumn("nid", col("doc_id")), "doc_id", hold)
  }

  /** Fold a processed batch into the state so the NEXT batch sees it:
    * append band rows for the batch's distinct-md5 rep docs whose text
    * is NOT already indexed (presence = exact text_md5 match through
    * the md5-band bucket join — covers LSH-ineligible docs too, and
    * the corpus side stays shuffle-free), labeled with the batch's
    * FINAL reps. The presence check makes a replayed fold a no-op.
    * Single-writer per corpus, enforced by ops.StateLease. */
  def appendTextDedupState(batch: PreparedDocs, newLabels: DataFrame,
                           bandsTable: String, dir: String, buckets: Int): Unit =
    graft.ops.StateLease.writeBandIndex(bandsTable, dir, buckets, rebuild = false) {
      val bands = batch.bands
      val idxMd5 = bands.sparkSession.table(bandsTable).filter(col("band") === -1)
        .select(col("band_key"), col("text_md5").as("old_md5"))
      val fresh = bands.filter(col("band") === -1)
        .join(idxMd5, Seq("band_key"), "left")
        .groupBy(col("doc_id"), col("text_md5"))
        .agg(max(when(col("old_md5") === col("text_md5"), 1).otherwise(0)).as("present"))
        .filter(col("present") === 0)
        .select(col("doc_id"))
      bands.join(fresh, "doc_id")
        .join(newLabels.select(col("doc_id").cast("long").as("doc_id"), col("rep")), "doc_id")
        .select(col("band"), col("band_key"), col("text_md5"), col("rep"))
    }
}
