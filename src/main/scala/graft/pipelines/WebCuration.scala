package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Per-stage survivor counts — the telemetry a curation run publishes
  * (every public pipeline reports its funnel; silent attrition is how
  * bad filters hide). */
case class CurationCounts(pages: Long, extracted: Long, langKept: Long,
                          qualityKept: Long, lmKept: Long, exactKept: Long,
                          neardupKept: Long, totalTokens: Long, sequences: Long)

/**
 * End-to-end web curation: the complete WARC -> training-data path,
 * composed ENTIRELY from the library's first-class operators (each
 * independently oracle-checked / golden-tested on its own):
 *
 *   WARC record split (sources.WarcSource)
 *     -> HTML main-content extraction (q60)
 *     -> language filter (q23 heuristic)
 *     -> trained model-based quality filter (q63)
 *     -> bigram-LM perplexity filter (q65) — catches right-words-
 *        wrong-order pages the bag-of-words quality model keeps
 *     -> PII redaction (q53) — BEFORE dedup, so identical pages
 *        differing only in redacted spans collapse
 *     -> exact dedup (q20, min-doc_id keeper)
 *     -> MinHash-LSH near-dup keep-one (q28/q42 geometry)
 *     -> learned-vocab BPE token counts (q52)
 *     -> sequence packing at seqLen (q62)
 *     -> curated parquet (url, ts, text, n_toks, cum, first_seq, last_seq)
 *
 * Scale shape: text never rides a shuffle anywhere — dedup moves
 * 16-byte digests and 8-byte band keys, clustering runs in id space,
 * packing runs over the narrow (doc_id, n_toks, h) projection and the
 * curated text joins back by id only for the final write. The two
 * text-carrying checkpoints (extract, redact) exist because each feeds
 * several downstream consumers and holds the output of an expensive
 * regex/decode pass (the multi-consumer invariant); both are
 * unpersisted before returning — the returned frame reads the written
 * parquet, pinning nothing.
 */
object WebCuration {
  /** @param maxAvgLmCost CCNet-style perplexity ceiling: drop documents
    *   whose average bigram cost (micro-log10, TextOps.lmScore units)
    *   exceeds it, and documents too short to assess. Pass
    *   graft.text.LmModel.midMax to keep the training corpus's head +
    *   middle terciles; the default Long.MaxValue disables the stage
    *   (thresholds are corpus-specific knobs, like `lang`). */
  /** The stateless (map-only) front of the funnel, shared by [[run]]
    * and [[runStream]]: id derivation + extract -> language -> quality
    * -> optional LM ceiling -> PII redaction. All frames are lazy
    * except where the caller's `ckpt` hook injects a checkpoint
    * (extracted and redacted each feed multiple consumers and hold an
    * expensive regex/decode pass — the multi-consumer invariant). */
  private[pipelines] case class Funnel(extracted: DataFrame, langed: DataFrame,
                                       quality: DataFrame, fluent: DataFrame,
                                       redacted: DataFrame)

  private[pipelines] def funnelStages(pages: DataFrame, lang: String,
                                      maxAvgLmCost: Long,
                                      ckpt: DataFrame => DataFrame): Funnel = {
    // stable corpus-unique Long ids from the record identity
    val extracted = ckpt(pages.select(
      xxhash64(col("warc_file"), col("url"), col("warc_date")).as("doc_id"),
      col("url"), col("ts"),
      TextOps.htmlColumns(col("html")).toMap.apply("main_text").as("text"))
      .filter(length(col("text")) > 0))
    val langed = extracted.filter(TextOps.langGuess(col("text")) === lang)
    val quality = langed.filter(TextOps.qualityScore(col("text")) >= 0)
    val fluent =
      if (maxAvgLmCost == Long.MaxValue) quality
      else quality
        .withColumn("_lmc", TextOps.lmCost(col("text")))
        .withColumn("_nb", greatest(TextOps.tokenCount(col("text")).cast("long") - 1L, lit(0L)))
        // when() guards the ANSI integral divide: a bare AND conjunct
        // may be reordered and divide by zero on a 1-token doc
        .filter(when(col("_nb") > 0, expr("_lmc div _nb") <= maxAvgLmCost)
          .otherwise(lit(false)))
        .drop("_lmc", "_nb")
    val red = ckpt(fluent.select(col("doc_id"), col("url"), col("ts"),
      TextOps.piiColumns(col("text")).toMap.apply("red_text").as("text")))
    Funnel(extracted, langed, quality, fluent, red)
  }

  def run(spark: SparkSession, warcGlob: String, outDir: String,
          lang: String = "en", seqLen: Long = 256L,
          maxAvgLmCost: Long = Long.MaxValue): (DataFrame, CurationCounts) = {
    val pages = graft.sources.WarcSource.readWarc(spark, warcGlob)
      .filter(col("rec_type") === "response" && col("html").isNotNull)
    val nPages = pages.count()

    val f = funnelStages(pages, lang, maxAvgLmCost, _.localCheckpoint(true))
    val (extracted, red) = (f.extracted, f.redacted)
    try {
      val nExtracted = extracted.count()
      val nLang = f.langed.count()
      val nQuality = f.quality.count()
      val nFluent = if (maxAvgLmCost == Long.MaxValue) nQuality else f.fluent.count()
      try {
        // exact dedup: keep the smallest doc_id per digest
        val exact = red.join(
          TextOps.dedupExact(red).select(col("keep_id").as("doc_id")), "doc_id")
        val nExact = exact.count()

        // near-dup keep-one over the exact survivors (ineligible docs —
        // too short/non-latin for banding — pass through as singletons)
        val bands = exact.filter(TextOps.lshEligible(col("text")))
          .select(col("doc_id"), explode(TextOps.minhashBandKeys(col("text"),
            TextOps.LshShingle, TextOps.LshBands, TextOps.LshRows)).as("band_key"))
        val pairs = TextOps.cappedCandidatePairs(bands, "band_key", cap = TextOps.LshCap)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        val labels = graft.ops.Components.labelAll(
          exact.select(col("doc_id")), pairs, "doc_id")
        val kept = exact.join(
          labels.filter(col("doc_id") === col("rep")).select(col("doc_id")), "doc_id")

        // narrow packing projection — the curated TEXT never enters the
        // prefix-sum shuffle; it joins back by doc_id for the write
        val toks = kept.select(col("doc_id"),
          TextOps.bpeVocabTokenCount(col("text")).as("n_toks"),
          TextOps.sampleHash(col("doc_id")).as("h"))
        val seqs = TextOps.sequencePack(toks, "n_toks", "h", "doc_id", seqLen)
          .select(col("doc_id"), col("n_toks"), col("cum"),
            col("first_seq"), col("last_seq"))
        kept.join(seqs, "doc_id")
          .select(col("doc_id"), col("url"), col("ts"), col("text"),
            col("n_toks"), col("cum"), col("first_seq"), col("last_seq"))
          .write.mode("overwrite").parquet(outDir)

        val out = spark.read.parquet(outDir)
        val agg = out.agg(count(lit(1)), coalesce(sum(col("n_toks")), lit(0L)),
          coalesce(max(col("last_seq")) + 1, lit(0L))).head()
        (out, CurationCounts(nPages, nExtracted, nLang, nQuality, nFluent,
          nExact, agg.getLong(0), agg.getLong(1), agg.getLong(2)))
      } finally red.unpersist()
    } finally extracted.unpersist()
  }

  /** Continuous crawl ingestion: the [[run]] funnel per micro-batch,
    * with near-dup dedup against PERSISTED state (text.TextDedupState)
    * so every batch dedups against everything EVER curated — exact
    * copies via the md5 band rows, near-dups via the bucketed LSH band
    * index, keepers chosen sticky (a doc whose resolved rep is itself
    * is its cluster's first-ever member and is kept; a doc matching an
    * already-curated cluster, or an in-batch dup, drops). Each batch
    * tokenizes/hashes only its own docs; the curated corpus never
    * re-shuffles.
    *
    * Runs on the shared replay-safe driver
    * (streaming.StreamOps.replaySafeStream): sinks are batchId-keyed
    * overwrite dirs, `outDir/curated/batch=N` (url, ts, redacted text,
    * n_toks), `outDir/labels/batch=N`, `outDir/merges/batch=N`, each
    * migrated from the flat-era layout; the state fold runs last; every
    * per-batch checkpoint (both funnel checkpoints, the prepared text
    * batch, the labels) is released after the batch. Sequence packing
    * is a GLOBAL prefix sum and stays a batch job over the curated
    * corpus (run TextOps.sequencePack over `outDir/curated` when
    * cutting a training snapshot); per-doc token counts are emitted
    * here.
    *
    * Bootstrap contract: `bandsTable`/`stateDir` must exist —
    * TextDedupState.writeTextDedupState over the initial corpus
    * (possibly empty) creates them. */
  def runStream(spark: SparkSession, warcDir: String, outDir: String,
                bandsTable: String, stateDir: String, buckets: Int,
                checkpointDir: String, lang: String = "en",
                maxAvgLmCost: Long = Long.MaxValue): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.text.TextDedupState
    val pages = graft.sources.WarcSource.warcStream(spark, warcDir)
      .filter(col("rec_type") === "response" && col("html").isNotNull)
    // prepared batch: the funnel's redacted docs + their hashing, which
    // runs only once the driver has found the funnel output non-empty
    type Batch = (DataFrame, () => TextDedupState.PreparedDocs)
    val curated: (Batch, DataFrame) => DataFrame = { case ((red, _), labels) =>
      // keepers: docs whose resolved rep is themselves (first-ever member)
      red.join(labels.filter(col("doc_id") === col("rep")).select("doc_id"), "doc_id")
        .withColumn("n_toks", TextOps.bpeVocabTokenCount(col("text")))
    }
    graft.streaming.StreamOps.replaySafeStream[Batch](pages, checkpointDir,
      s"$outDir/labels", s"$outDir/merges", Seq(s"$outDir/curated" -> curated))(
      prepare = (batch, hold) => {
        val red = funnelStages(batch, lang, maxAvgLmCost,
          df => hold(df.localCheckpoint(true))).redacted
        lazy val docs = {
          val p = TextDedupState.prepare(red.select(col("doc_id"), col("text")))
          p.checkpoints.foreach(hold)
          p
        }
        ((red, () => docs), red)
      },
      resolve = { case (_, docs) => TextDedupState.incrementalTextDedup(docs(), bandsTable) },
      fold = { case ((_, docs), labels) =>
        TextDedupState.appendTextDedupState(docs(), labels, bandsTable, stateDir, buckets) })
  }
}
