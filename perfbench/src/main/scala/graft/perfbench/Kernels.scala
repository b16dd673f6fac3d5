package graft.perfbench

import graft.core.{Cell, Png, RenderParams, ToneMap}
import graft.render.{FeatCmd, Render}

/** Single-thread kernel timings on fixed generated inputs: Morton encode,
  * canvas accumulation, tone map and PNG encode of one tile. */
object Kernels {
  def run(seed: Long): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    // Morton encode
    val n = 4000000
    val xs = Array.fill(n)(rnd.nextInt()); val ys = Array.fill(n)(rnd.nextInt())
    var sink = 0L
    val encNs = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink ^= Cell.encode(xs(i), ys(i)); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    // one zoom-10 tile per command set, 300 own-tile points each
    val p = RenderParams()
    val z = 10
    val tiles = (0 until 48).map { t =>
      val tx = 300 + t; val ty = 400 + (t * 7) % 50
      val lo = Cell.tileRangeLo(z, tx, ty); val hi = Cell.tileRangeHi(z, tx, ty)
      val key = Cell.tileKey(z, tx, ty)
      val recs = Array.fill(300) {
        val c = lo + (java.lang.Long.remainderUnsigned(rnd.nextLong(), hi - lo + 1))
        FeatCmd(key, -1, Array(c), rnd.nextInt(256).toLong, own = true)
      }
      Render.sortRecs(recs)
      (tx, ty, recs)
    }
    val canvas = collection.mutable.ArrayBuffer.empty[Double]
    val tone = collection.mutable.ArrayBuffer.empty[Double]
    val png = collection.mutable.ArrayBuffer.empty[Double]
    val bytes = collection.mutable.ArrayBuffer.empty[Double]
    (0 until 4).foreach { round =>
      var c0 = 0L; var c1 = 0L; var c2 = 0L; var b = 0L
      tiles.foreach { case (tx, ty, recs) =>
        val t0 = System.nanoTime()
        val cv = Render.renderCanvas(recs, z, tx, ty, 48, p)
        val t1 = System.nanoTime()
        val rgba = ToneMap(cv, p)
        val t2 = System.nanoTime()
        val out = Png.encode(rgba, p.tilesize, p.tilesize)
        val t3 = System.nanoTime()
        c0 += t1 - t0; c1 += t2 - t1; c2 += t3 - t2; b += out.length
      }
      if (round > 0) { // round 0 warms the JIT
        canvas += c0 / 1e3 / tiles.size; tone += c1 / 1e3 / tiles.size
        png += c2 / 1e3 / tiles.size; bytes += b.toDouble / tiles.size
      }
    }
    if (sink == 42L) print("")
    Map(
      "core.cell_encode_ns" -> Stats.median(encNs.drop(1)),
      "core.canvas_us_per_tile" -> Stats.median(canvas.toSeq),
      "core.tonemap_us_per_tile" -> Stats.median(tone.toSeq),
      "core.png_us_per_tile" -> Stats.median(png.toSeq),
      "core.png_bytes_per_tile" -> Stats.median(bytes.toSeq))
  }
}
