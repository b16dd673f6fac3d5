package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.RenderParams
import graft.render.Render
import graft.streaming.StreamOps
import scala.jdk.CollectionConverters._

/** Writes beside reads: a seeded snapshot and tileset, then small append
  * batches streamed through StreamOps.incrementalTiles. Each batch
  * re-renders its high-zoom tiles from pruned range scans; every 4th batch
  * also re-ranks and re-renders the step-sampled low zooms wholesale.
  * Measured per layer inside the pyramid workload's traced run. */
class Incremental(baseRows: Long, batchRows: Int) {
  val zooms: Seq[Int] = 0 to 13
  val lowZoomEvery = 4
  val params = RenderParams()
  private val lowZooms = zooms.filter(z => params.pointParams(z)._1 > 1)
  private val highZooms = zooms.filter(z => params.pointParams(z)._1 <= 1)

  private class Dirs(root: String) {
    val in = s"$root/in"; val snap = s"$root/snap"; val tiles = s"$root/tiles"
    val ckpt = s"$root/ckpt"; val stage = s"$root/stage"
  }

  /** One seeded stream: the first batch (it always refreshes the low
    * zooms), then one cadence of `lowZoomEvery` traced batches (one of
    * them refreshes), then the output check. Returns per-layer medians;
    * failed checks go to `ctx.failures`. */
  def measure(ctx: Ctx): Map[String, Double] = {
    val d = new Dirs(s"${ctx.work}/incremental")
    seed(ctx, d, ctx.rows(baseRows))
    batch(ctx, d, 0L, "refresh_batch")
    val sc = ctx.spark.sparkContext
    ctx.takeLayers()
    sc.addSparkListener(ctx.listener)
    ctx.tracer.enabled = true
    val t0 = ctx.tracer.now()
    val recs = try (1 to lowZoomEvery).map { b =>
      val kind = if (b % lowZoomEvery == lowZoomEvery - 1) "refresh_batch" else "batch"
      val landed = System.currentTimeMillis()
      val runId = batch(ctx, d, b.toLong, kind)
      // the stream's jobs run under its own job group (the run id)
      ctx.tracer.alias(runId)
      org.apache.spark.BenchBus.drain(sc)
      ctx.record("streaming.scan_mb", ctx.listener.group(runId).inputBytes / 1e6)
      ctx.record("sinks.tiles_written", Incremental.filesSince(d.tiles, landed).toDouble)
      ctx.takeLayers()
    } finally {
      ctx.tracer.enabled = false
      org.apache.spark.BenchBus.drain(sc)
      sc.removeSparkListener(ctx.listener)
    }
    val spans = ctx.tracer.withJobSpans(ctx.listener).filter(_.start >= t0)
    val self = Tracer.selfTimes(spans)
    val selfStreaming = spans.filter(_.name.startsWith("streaming.")).map(s => self(s.id) / 1e9)
    def checked(f: Boolean): Seq[String] =
      try check(ctx, d, f)
      catch { case scala.util.control.NonFatal(e) => Seq(s"incremental: output check threw $e") }
    if (ctx.fault) ctx.cleanFailures ++= checked(false)
    ctx.failures ++= checked(ctx.fault)
    recs.flatMap(_.keys).distinct.map(k => k -> Stats.median(recs.flatMap(_.get(k)))).toMap +
      ("self.streaming_s" -> Stats.median(selfStreaming))
  }

  /** Fresh snapshot of `rows` generated points plus its full tileset. */
  private def seed(ctx: Ctx, d: Dirs, rows: Long): Unit = {
    Files2.delete(d.in.stripSuffix("/in"))
    Files.createDirectories(Paths.get(d.in))
    graft.tables.ImageTable.generateGeo(ctx.spark, rows, ctx.seed, ctx.cpus * 2).toDF()
      .select(col("cell"), col("meta")).write.parquet(s"${d.snap}/batch=-1")
    val full = ctx.spark.read.parquet(d.snap)
    val high = highZooms.map(z => Render.renderTiles(Some(full), None, z, 48, params)).reduce(_ union _)
    graft.sinks.Sinks.writeTileset(high, d.tiles, d.snap)
    StreamOps.refreshLowZooms(ctx.spark, d.snap, d.tiles, lowZooms, 48, params)
  }

  /** Generated rows of append batch `b` (their own id range, same seed). */
  private def rowsOf(ctx: Ctx, b: Long): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val seed2 = ctx.seed * 31 + 7
    (0 until batchRows).map { j =>
      val phash = graft.tables.ImageTable.splitmix64(seed2, b * batchRows + j)
      val (_, _, cell, meta) = graft.tables.ImageTable.geotagPhash(phash)
      (cell, meta)
    }.toDF("cell", "meta")
  }

  /** Land batch `b` as one file and run the stream until it is drained;
    * the layer time `streaming.<kind>_s` runs from the file landing to the
    * tiles being written. Returns the stream's run id. */
  private def batch(ctx: Ctx, d: Dirs, b: Long, kind: String): String = {
    val staged = s"${d.stage}/b$b"
    rowsOf(ctx, b).coalesce(1).write.mode("overwrite").parquet(staged)
    val part = Files.list(Paths.get(staged)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    ctx.layer("streaming." + kind) {
      Files.move(part, Paths.get(d.in, f"b$b%06d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      val stream = ctx.spark.readStream.schema("cell BIGINT, meta BIGINT").parquet(d.in)
      val q = StreamOps.incrementalTiles(stream, d.snap, d.tiles, d.ckpt, zooms, 48, params, lowZoomEvery)
      q.awaitTermination()
      q.runId.toString
    }
  }

  /** After the stream drains and the low zooms are refreshed, the tileset
    * on disk equals a batch render of the final snapshot, byte for byte. */
  private def check(ctx: Ctx, d: Dirs, fault: Boolean): Seq[String] = {
    StreamOps.refreshLowZooms(ctx.spark, d.snap, d.tiles, lowZooms, 48, params)
    val full = ctx.spark.read.parquet(d.snap).select(col("cell"), col("meta"))
    val ranked = Render.withGlobalRank(full)
    val expected = (highZooms.map(z => Render.renderTiles(Some(full), None, z, 48, params)) :+
      Render.renderPyramid(ranked, lowZooms, 48, params)).reduce(_ union _)
      .collect().map(t => ((t.z, t.x, t.y), t.png)).toMap
    ranked.unpersist()
    var onDisk = Incremental.readTiles(d.tiles)
    if (fault && onDisk.nonEmpty) {
      val (k, png) = onDisk.head
      val bad = png.clone(); bad(bad.length / 2) = (bad(bad.length / 2) ^ 1).toByte
      onDisk = onDisk.updated(k, bad)
    }
    val stale = expected.count { case (k, png) => onDisk.get(k).exists(t => !java.util.Arrays.equals(t, png)) }
    Seq(
      if (onDisk.keySet != expected.keySet)
        Some(s"incremental: tile sets differ (${onDisk.keySet.diff(expected.keySet).size} extra, " +
          s"${expected.keySet.diff(onDisk.keySet).size} missing)") else None,
      if (stale > 0) Some(s"incremental: $stale tiles differ from the batch render") else None,
      if (expected.isEmpty) Some("incremental: empty tileset") else None,
    ).flatten
  }
}

object Incremental {
  /** z/x/y.png tiles of a tileset directory. */
  def readTiles(root: String): Map[(Int, Int, Int), Array[Byte]] = {
    val base = Paths.get(root)
    val s = Files.walk(base)
    try s.iterator().asScala.filter(f => f.getFileName.toString.endsWith(".png")).map { f =>
      val r = base.relativize(f)
      ((r.getName(0).toString.toInt, r.getName(1).toString.toInt,
        r.getName(2).toString.stripSuffix(".png").toInt), Files.readAllBytes(f))
    }.toMap
    finally s.close()
  }

  /** Tile files modified at or after `t0Ms` (epoch ms). */
  def filesSince(root: String, t0Ms: Long): Long = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.count(f => f.getFileName.toString.endsWith(".png") &&
      Files.getLastModifiedTime(f).toMillis >= t0Ms)
    finally s.close()
  }
}
