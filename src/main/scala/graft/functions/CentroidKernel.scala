package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/**
 * Scoring loop for the IVF coarse quantizer: rank the (small,
 * expression-constant) centroid set against one float embedding by
 * exact cosine. The FP op sequence is IDENTICAL to the DuckDB oracle's
 * `cos DESC, cid ASC` window (sequential left-to-right dot folds,
 * cos = dot / sqrt(nn * cc)), so assignments and probes match
 * bit-for-bit. NaN follows SQL descending-sort order (NaN largest):
 * comparisons use java.lang.Double.compare. [[assign]] and [[probe]]
 * are the static entry points of the nearest_centroid(s) kernels;
 * `cids` must be ascending and `selfDots` = [[selfDot]] of each vector.
 */
object CentroidKernel {
  /** Nearest centroid id of `v` (tie to the smaller cid). */
  def assign(v: ArrayData, cids: Array[Long], cvecs: Array[Array[Double]],
             selfDots: Array[Double]): Long =
    cids(rank(v, cvecs, selfDots, 1)(0))

  /** The `n` nearest centroid ids of `v` in (cos desc, cid asc) order. */
  def probe(v: ArrayData, cids: Array[Long], cvecs: Array[Array[Double]],
            selfDots: Array[Double], n: Int): ArrayData =
    new GenericArrayData(rank(v, cvecs, selfDots, n).map(cids))

  /** indices of the `n` best centroids in (cos desc, cid asc) order.
    * Selection is repeated strict-argmax so equal-cos ties resolve to
    * the smaller cid, exactly like row_number() OVER (ORDER BY cos
    * DESC, cid). */
  private def rank(v: ArrayData, cvecs: Array[Array[Double]], selfDots: Array[Double],
                   n: Int): Array[Int] = {
    val dim = v.numElements()
    var nn = 0.0
    var i = 0
    while (i < dim) { val f = v.getFloat(i).toDouble; nn += f * f; i += 1 }
    val kk = cvecs.length
    val cos = new Array[Double](kk)
    var c = 0
    while (c < kk) {
      val cv = cvecs(c)
      val m = math.min(dim, cv.length)
      var s = 0.0
      i = 0
      while (i < m) { s += v.getFloat(i).toDouble * cv(i); i += 1 }
      cos(c) = s / math.sqrt(nn * selfDots(c))
      c += 1
    }
    val used = new Array[Boolean](kk)
    val out = new Array[Int](math.min(n, kk))
    var r = 0
    while (r < out.length) {
      var best = -1
      c = 0
      while (c < kk) {
        if (!used(c) && (best < 0 || java.lang.Double.compare(cos(c), cos(best)) > 0)) best = c
        c += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    out
  }

  def selfDot(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }
}
