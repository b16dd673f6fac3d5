package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.media.Media

/** Image-payload curation: the image table plus ~2% planted PNG
  * re-encodes, clustered by decode -> dhash -> banding -> components. */
class Dedup(baseRows: Long) extends Workload {
  val name = "dedup"
  val itemsUnit = "images"
  private def dir(ctx: Ctx) = s"${ctx.work}/dedup"
  private var rows = 0L
  private var planted = 0L
  private var inputMb = 0.0
  private var last: DataFrame = _

  def setup(ctx: Ctx): Unit = {
    prepare(ctx, ctx.rows(baseRows), s"${dir(ctx)}/input")
    val in = ctx.spark.read.parquet(s"${dir(ctx)}/input")
    rows = in.count()
    planted = in.filter(col("image_id").endsWith("_re")).count()
    inputMb = Files2.sizeOf(s"${dir(ctx)}/input") / 1e6
  }

  /** Image table plus a same-pixels PNG copy (`<id>_re`) of every 50th image. */
  private def prepare(ctx: Ctx, n: Long, path: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val imgs = graft.tables.ImageTable.generate(spark, n, ctx.seed, partitions = ctx.cpus * 2)
      .select("image_id", "bytes", "w", "h", "fmt").cache()
    val dups = imgs.filter(pmod(xxhash64(col("image_id")), lit(50)) === 0)
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.map { case (id, b, w, h, fmt) =>
        (id + "_re", Media.reencodePng(Media.decode(id, b, w, h, fmt)), w, h, "png")
      }).toDF("image_id", "bytes", "w", "h", "fmt")
    imgs.unionByName(dups).write.mode("overwrite").parquet(path)
    imgs.unpersist()
  }

  def op(ctx: Ctx, i: Int): OpOut = {
    last = run(ctx, s"${dir(ctx)}/input")
    OpOut(rows, "dedup")
  }

  private def run(ctx: Ctx, path: String): DataFrame = {
    val input = ctx.spark.read.parquet(path)
    val (labels, tDecode, tBand) = ctx.layer("media.dedup")(Media.imageDupClustersPhased(input, maxHamming = 2))
    ctx.record("media.decode_s", tDecode)
    ctx.record("media.band_s", tBand)
    ctx.record("media.decode_mb_per_s_per_core", if (tDecode > 0) inputMb / tDecode / ctx.cpus else 0.0)
    // the engine runs ops.Components eagerly inside the call above, so
    // its time is part of media.dedup_s; this span is the rep-name joins
    ctx.layer("media.label") {
      val cl = labels.localCheckpoint(true)
      // spanning-forest edges of the duplicate graph: rows labelled with another rep
      ctx.record("media.edges", cl.filter(col("image_id") =!= col("rep")).count().toDouble)
      cl
    }
  }

  /** ops.Components on its own: the duplicate graph of the input, built
    * from the public Media functions (dhash, banded near-dup pairs) and
    * keyed by the same xxhash64 node ids the engine's dedup uses; the
    * median of three connectedComponents calls. */
  override def runLayers(ctx: Ctx): Map[String, Double] = {
    val hashes = Media.dhashes(ctx.spark.read.parquet(s"${dir(ctx)}/input")).localCheckpoint(true)
    val edges = Media.imageNearDupPairs(hashes, maxHamming = 2)
      .select(xxhash64(col("img_a")).as("a"), xxhash64(col("img_b")).as("b"))
      .localCheckpoint(true)
    val times = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      graft.ops.Components.connectedComponents(edges).count()
      (System.nanoTime() - t0) / 1e9
    }
    Map("ops.components_s" -> Stats.median(times))
  }

  /** Every planted copy lands in its source's cluster. */
  def check(ctx: Ctx, fault: Boolean): Seq[String] = {
    var clusters = last
    if (fault) {
      val victim = clusters.filter(col("image_id").endsWith("_re")).select("image_id").head().getString(0)
      // move one planted copy into a cluster of its own
      clusters = clusters.withColumn("rep",
        when(col("image_id") === victim, lit("planted-fault")).otherwise(col("rep")))
    }
    val re = clusters.filter(col("image_id").endsWith("_re"))
      .select(expr("substring(image_id, 1, length(image_id) - 3)").as("src_id"), col("rep").as("rep_re"))
    val co = re.join(clusters.select(col("image_id").as("src_id"), col("rep").as("rep_src")), "src_id")
      .filter(col("rep_re") === col("rep_src")).count()
    if (co != planted || planted == 0) Seq(s"dedup: $co of $planted planted copies co-cluster with their source")
    else Nil
  }
}
