package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-stage survivor counts for the image funnel — the same
  * silent-attrition telemetry [[CurationCounts]] publishes for text. */
case class ImageCurationCounts(images: Long, decoded: Long, sizeKept: Long,
                               entropyKept: Long, kept: Long)

/**
 * End-to-end image curation: the LAION/DataComp-shaped filter funnel
 * over an image+caption-style table, composed from the library's
 * first-class media operators:
 *
 *   decode gate (undecodable payloads drop; codec-less formats take the
 *     documented stub path and pass through)
 *     -> size + aspect filter (min pixels, max aspect ratio)
 *     -> low-information filter (occupied luma-histogram buckets — the
 *        flat/solid-image drop)
 *     -> perceptual near-dup clustering (dHash + recursive sub-banding,
 *        unconditional Hamming<=2 recall)
 *     -> keep-BEST per cluster by resolution (struct-max argmax, the
 *        q55 idiom — plain dedup keeps an arbitrary member; curation
 *        keeps the highest-resolution copy)
 *     -> curated parquet (image_id, w, h, pixels, dhash, cluster_size)
 *
 * Scale shape: the payload decodes ONCE — features and dHash come from
 * the same DecodedImage in one batch-shaped pass, checkpointed because
 * it feeds the gates, both dedup sides and the final name join (the
 * multi-consumer invariant). Every dedup/keep-best shuffle carries
 * 8-byte nids (imageDupLabelsNid — no image_id string rides a shuffle);
 * the image_id attaches at the end via one id-keyed join; the bytes
 * column never leaves the decode scan.
 */
object ImageCuration {
  def run(spark: SparkSession, images: DataFrame, outDir: String,
          minPixels: Long = 32L * 32L, maxAspect: Int = 4,
          minLumaBuckets: Int = 3, maxHamming: Int = 2): (DataFrame, ImageCurationCounts) = {
    import spark.implicits._
    val nImages = images.count()

    // ONE decode pass, behind the shared ReadBalance guard: inputs with
    // fewer splits than cores would leave the host idle on the
    // CPU-bound pass
    val feats = graft.ops.ReadBalance.fanOut(
        images.select(col("image_id"), col("bytes"), col("w"), col("h"), col("fmt")))
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.flatMap { case (id, bytes, w, h, fmt) =>
        scala.util.Try {
          val img = graft.media.Media.decode(id, bytes, w, h, fmt)
          val f = graft.media.Media.features(img)
          (id, f.w, f.h, f.w.toLong * f.h, f.luma_hist.count(_ > 0L).toLong,
            graft.media.Media.dhash64(img))
        }.toOption
      }).toDF("image_id", "w", "h", "pixels", "luma_buckets", "dhash")
      .withColumn("nid", xxhash64(col("image_id")))
      .localCheckpoint(true)
    try {
      val nDecoded = feats.count()

      val sized = feats.filter(col("pixels") >= minPixels &&
        greatest(col("w"), col("h")) <= least(col("w"), col("h")) * maxAspect)
      val nSized = sized.count()
      val informative = sized.filter(col("luma_buckets") >= minLumaBuckets)
        .localCheckpoint(true) // feeds dedup ids, keep-best scores, name join
      try {
        val nInformative = informative.count()

        // nid-space clustering + keep-best by resolution; rep rides
        // every shuffle as an 8-byte key, never image_id. Tie-break via
        // bitwise NOT (~nid = -nid-1, same total order as -nid): an
        // adversarial id hashing to Long.MinValue would overflow unary
        // minus under ANSI and abort the run. `scored` feeds BOTH the
        // argmax and the kept filter — eager checkpoint, or components
        // + the pixels join re-run per consumer.
        val labels = graft.media.Media.imageDupLabelsNid(
          informative.select(col("nid"), col("dhash")), maxHamming)
        val scored = labels.join(informative.select(col("nid"), col("pixels")), "nid")
          .localCheckpoint(true)
        try {
          val best = scored.groupBy("rep")
            .agg(max(struct(col("pixels"), bitwise_not(col("nid")).as("mnid"))).as("b"),
              count(lit(1)).as("cluster_size"))
          val keptNids = scored.join(best, "rep")
            .filter(col("pixels") === col("b.pixels") && col("nid") === bitwise_not(col("b.mnid")))
            .select(col("nid"), col("cluster_size"))

          informative.join(keptNids, "nid")
            .select(col("image_id"), col("w"), col("h"), col("pixels"),
              col("dhash"), col("cluster_size"))
            .write.mode("overwrite").parquet(outDir)

          val out = spark.read.parquet(outDir)
          (out, ImageCurationCounts(nImages, nDecoded, nSized, nInformative, out.count()))
        } finally scored.unpersist()
      } finally informative.unpersist()
    } finally feats.unpersist()
  }
}
