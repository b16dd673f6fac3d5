package graft.perfbench

import org.apache.spark.sql.functions._
import graft.core.{Cell, Png, RenderParams}
import graft.render.Render

/** The headline tileset build: encode -> PIP (64 triangles) -> ranked
  * snapshot -> pyramid render at zooms 0-8. */
class Pyramid(baseRows: Long) extends Workload {
  val name = "pyramid"
  val itemsUnit = "tiles"
  val zooms: Seq[Int] = 0 to 8
  val params = RenderParams()
  private val polys = graft.join.PipJoin.trianglesFromKeys(0L until 64L)
  private def dir(ctx: Ctx) = s"${ctx.work}/pyramid"

  def setup(ctx: Ctx): Unit =
    graft.tables.ImageTable.generate(ctx.spark, ctx.rows(baseRows), ctx.seed, partitions = ctx.cpus * 2)
      .write.mode("overwrite").parquet(s"${dir(ctx)}/images")

  def op(ctx: Ctx, i: Int): OpOut =
    OpOut(build(ctx, s"${dir(ctx)}/images", s"${dir(ctx)}/run"), "build")

  /** One tileset build from the image table at `imgPath` into `out`. */
  private def build(ctx: Ctx, imgPath: String, out: String): Long = {
    ctx.layer("encode", "encode.s") {
      // geotag -> Morton cell -> range-partitioned sorted snapshot
      ctx.spark.read.parquet(imgPath).select(
        col("image_id"), col("phash"),
        graft.functions.geotag_lat(col("phash")).as("lat"),
        graft.functions.geotag_lon(col("phash")).as("lon"),
        graft.functions.geotag_cell(col("phash")).as("cell"),
        col("phash").bitwiseAND(lit(0xFFL)).as("meta"))
        .repartitionByRange(ctx.cpus * 2, col("cell"))
        .sortWithinPartitions(col("cell"), col("meta"))
        .write.mode("overwrite").parquet(s"$out/sorted")
    }
    val hits = ctx.layer("join.pip") {
      val points = ctx.spark.read.parquet(s"$out/sorted").select(col("phash").as("id"),
        graft.functions.cell_x(col("cell")).as("x32"), graft.functions.cell_y(col("cell")).as("y32"))
      graft.join.PipJoin.join(ctx.spark, points, polys).count()
    }
    ctx.record("join.pip_hits", hits.toDouble)
    ctx.layer("render.rank") {
      Render.writeRankedSnapshot(
        ctx.spark.read.parquet(s"$out/sorted").select(col("cell"), col("meta")), s"$out/ranked")
    }
    val tiles = ctx.layer("render.pyramid") {
      Render.renderPyramid(Render.readRankedSnapshot(ctx.spark, s"$out/ranked"),
        zooms, 48, params).count()
    }
    ctx.record("render.tiles", tiles.toDouble)
    tiles
  }

  /** Tile count = distinct step-sampled tile keys over the ranked
    * snapshot (counted here, not by the renderer), and every PNG decodes
    * at 256x256. */
  def check(ctx: Ctx, fault: Boolean): Seq[String] = {
    val spark = ctx.spark
    import spark.implicits._
    val ranked = Render.readRankedSnapshot(spark, s"${dir(ctx)}/run/ranked")
    val steps = zooms.map(z => z -> params.pointParams(z)._1.toLong)
    val expected = ranked.select(col("cell"), col("rank")).as[(Long, Long)].collect()
      .flatMap { case (cell, rank) =>
        steps.collect { case (z, st) if rank % st == 0 =>
          Cell.tileKey(z, Cell.tileX(cell, z), Cell.tileY(cell, z)) }
      }.toSet
    // (tile key, decodes as a 256x256 PNG), decoded on the executors
    var tiles = Render.renderPyramid(ranked, zooms, 48, params).map { t =>
      val ok = try { val (_, w, h) = Png.decode(t.png); w == 256 && h == 256 }
               catch { case scala.util.control.NonFatal(_) => false }
      (Cell.tileKey(t.z, t.x, t.y), ok)
    }.collect().toSeq
    if (fault) tiles = tiles.drop(1)
    val keys = tiles.map(_._1)
    val bad = tiles.count(!_._2)
    Seq(
      if (keys.size != keys.distinct.size) Some("pyramid: a tile was rendered twice") else None,
      if (keys.toSet != expected)
        Some(s"pyramid: rendered ${keys.size} tiles, independent count ${expected.size}") else None,
      if (bad > 0) Some(s"pyramid: $bad of ${tiles.size} tiles are not 256x256 PNGs") else None,
    ).flatten
  }

  /** Listener counters summed over the render spans of one unit. */
  override def unitLayers(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    val c = new GroupCounters
    spans.filter(_.name.startsWith("render.")).foreach(s => c.add(ctx.listener.group(s.id.toString)))
    Map("render.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
      "render.shuffle_records" -> c.shuffleRecords.toDouble,
      "render.tasks" -> c.tasks.toDouble)
  }

  /** The incremental tileset stream: the same render and snapshot layers
    * used the opposite way (many small selective renders plus writes). */
  override def runLayers(ctx: Ctx): Map[String, Double] =
    new Incremental(baseRows = 1000, batchRows = 200).measure(ctx)
}
