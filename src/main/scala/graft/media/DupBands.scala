package graft.media

/**
 * The near-duplicate banding kernel behind [[Media]]'s image dedup.
 *
 * A 64-bit dhash splits into four 16-bit quarters; level-1 band b keys
 * on the pair of quarters `chunks(b)._1/_2`. Two hashes at Hamming <= 2
 * differ in at most two quarters, so (pigeonhole) they share at least
 * one band. The same holds one level down: a bucket's members agree on
 * its two quarters and differ only in the 32-bit residual of the other
 * two, which splits into four 8-bit chunks and six sub-bands, and so on
 * to 4-bit chunks of a 16-bit residual. A bucket at that terminal level
 * fixes 56 of the 64 bits, so it holds at most 2^8 distinct hashes.
 *
 * [[edges]] streams the rows of one sorted partition bucket by bucket.
 * Exactly-once rule: a pair is emitted only from the FIRST band (at
 * every level on the way down) that its two hashes share. Which band
 * that is depends on `a ^ b` alone ([[firstShared]]), so every bucket
 * holding the pair decides the same way without seeing the others.
 */
private[media] object DupBands {
  /** Band b of a residual keys on its chunks (i, j); (k, l) are the other
    * two, the residual the next level sub-bands. */
  val chunks: Array[(Int, Int, Int, Int)] = Array(
    (0, 1, 2, 3), (0, 2, 1, 3), (0, 3, 1, 2), (1, 2, 0, 3), (1, 3, 0, 2), (2, 3, 0, 1))

  /** A bucket with more distinct hashes than this recurses into sub-bands
    * instead of checking all its pairs (a quadratic-safety cap). */
  val Cap = 64

  private def chunk(r: Long, bits: Int, n: Int): Long =
    (r >>> (n * (bits / 4))) & ((1L << (bits / 4)) - 1)

  /** Band b's key over a `bits`-wide residual: chunks (i, j), packed. */
  private def bandKey(r: Long, bits: Int, b: Int): Long = {
    val (i, j, _, _) = chunks(b)
    (chunk(r, bits, i) << (bits / 4)) | chunk(r, bits, j)
  }

  /** The `bits / 2`-wide residual band b leaves: chunks (k, l), packed. */
  private def residual(r: Long, bits: Int, b: Int): Long = {
    val (_, _, k, l) = chunks(b)
    (chunk(r, bits, k) << (bits / 4)) | chunk(r, bits, l)
  }

  /** The first band in which two `bits`-wide residuals that differ by
    * `x` agree, or -1 when `x` touches three or four chunks. */
  private def firstShared(x: Long, bits: Int): Int =
    chunks.indexWhere { case (i, j, _, _) => chunk(x, bits, i) == 0 && chunk(x, bits, j) == 0 }

  /** True when every band on `path` ((bits, band), outermost first) is the
    * first one two hashes differing by `x` share at its level. */
  private def firstOnPath(x: Long, path: List[(Int, Int)]): Boolean = {
    var r = x
    path.forall { case (bits, b) =>
      val first = firstShared(r, bits) == b
      r = residual(r, bits, b)
      first
    }
  }

  /**
   * Duplicate-graph edges from (level-1 key, dhash, id) rows, hash
   * partitioned on the key and sorted by (key, dhash, id) in each
   * partition. Within each key's run:
   *  - copies of one hash collapse to the first (min) id; in band 0 only
   *    (each row has exactly one band-0 key) every other copy emits a
   *    star edge (rep, copy);
   *  - distinct hashes at Hamming <= maxHamming emit (rep_a, rep_b) by
   *    the first-shared-band rule, recursing into sub-bands for a bucket
   *    of more than [[Cap]] distinct hashes.
   * Every star edge and every near pair therefore appears exactly once.
   */
  def edges[I](rows: Iterator[(Long, Long, I)], maxHamming: Int): Iterator[(I, I)] = {
    val in = rows.buffered
    new Iterator[Iterator[(I, I)]] {
      def hasNext: Boolean = in.hasNext
      def next(): Iterator[(I, I)] = bucket(in, maxHamming)
    }.flatten
  }

  /** One key's run of `in`: its star edges, streamed while the run is
    * read (a million copies of one image hold one entry in memory, not
    * a million edges), then its near pairs. */
  private def bucket[I](in: BufferedIterator[(Long, Long, I)], maxHamming: Int): Iterator[(I, I)] = {
    val key = in.head._1
    val band = (key >>> 32).toInt
    val hashes = Array.newBuilder[Long]
    val reps = scala.collection.mutable.ArrayBuffer.empty[I]
    var last = 0L
    val stars = Iterator.continually(in).takeWhile(i => i.hasNext && i.head._1 == key).flatMap { i =>
      val (_, h, id) = i.next()
      if (reps.nonEmpty && h == last) { if (band == 0) Iterator.single((reps.last, id)) else Iterator.empty }
      else { hashes += h; reps += id; last = h; Iterator.empty }
    }
    stars ++ {
      val hs = hashes.result()
      val near = scala.collection.mutable.ArrayBuffer.empty[(I, I)]
      pairs(hs, hs.indices.toArray, List((64, band)), maxHamming)((a, b) => near += ((reps(a), reps(b))))
      near.iterator
    }
  }

  /** Near pairs among `members` (indices of distinct hashes in `hs` that
    * share every band on `path`): all pairs when the bucket holds at
    * most [[Cap]] members or sits at the terminal level, else the pairs
    * of each sub-band bucket of the members' residuals. */
  private def pairs(hs: Array[Long], members: Array[Int], path: List[(Int, Int)], maxHamming: Int)(
      emit: (Int, Int) => Unit): Unit = {
    val bits = path.last._1
    if (members.length <= Cap || bits == 16) {
      var a = 0
      while (a < members.length) {
        var b = a + 1
        while (b < members.length) {
          val x = hs(members(a)) ^ hs(members(b))
          if (java.lang.Long.bitCount(x) <= maxHamming && firstOnPath(x, path)) emit(members(a), members(b))
          b += 1
        }
        a += 1
      }
    } else {
      val sub = bits / 2
      val resid = members.map(m => path.foldLeft(hs(m)) { case (r, (w, b)) => residual(r, w, b) })
      chunks.indices.foreach { b =>
        // (sub-band key << 32 | member position), sorted: runs are buckets
        val keyed = resid.indices.map(n => (bandKey(resid(n), sub, b) << 32) | n).toArray.sorted
        var s = 0
        while (s < keyed.length) {
          var e = s + 1
          while (e < keyed.length && (keyed(e) >>> 32) == (keyed(s) >>> 32)) e += 1
          if (e - s >= 2)
            pairs(hs, keyed.slice(s, e).map(k => members(k.toInt)), path :+ ((sub, b)), maxHamming)(emit)
          s = e
        }
      }
    }
  }
}
