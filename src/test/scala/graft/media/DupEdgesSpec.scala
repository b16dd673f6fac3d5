package graft.media

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.SparkProbe

/** The one-pass banding kernel against brute force: the duplicate graph
  * it emits connects exactly the Hamming <= 2 truth, carries one star
  * edge per non-rep copy of a hash and every near pair exactly once, in
  * nid space (dupEdges) and on string ids (imageNearDupPairs). */
class DupEdgesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Hashes of the planted corpus, one entry per row (repeats are exact
    * copies): random hashes; Hamming-1 and Hamming-2 neighbours of some
    * of them, and a chain of both; 200 copies of one hash; a hot level-1
    * bucket (70 distinct hashes that share three quarters, whose planted
    * Hamming-2 pair shares only hot bands) with three copies of one of
    * its hashes; and a doubly-hot one (the fillers also share half of
    * the varying quarter, so the sub-buckets that hold the pair are hot
    * too). */
  private lazy val hashes: Seq[Long] = {
    val rnd = new scala.util.Random(20261020L)
    def flip(h: Long, bits: Int): Long = {
      val at = rnd.shuffle((0 until 64).toList).take(bits)
      at.foldLeft(h)((x, b) => x ^ (1L << b))
    }
    val base = Seq.fill(1500)(rnd.nextLong())
    val near1 = base.take(120).map(flip(_, 1))
    val near2 = base.slice(120, 240).map(flip(_, 2))
    val chain = base.slice(240, 300).flatMap { h => val m = flip(h, 1); Seq(m, flip(m, 2)) }
    val copies = Seq.fill(200)(base(400))
    val q3 = 0xABCDL << 48
    val hot = (10 to 77).map(i => q3 | ((i.toLong * 0x0101L) << 32)) ++
      Seq(q3 | (0xFF00L << 32), q3 | (0xFC00L << 32))
    val r3 = 0x1234L << 48
    val doublyHot = (1 to 68).map(i => r3 | ((i.toLong << 8) << 32)) ++
      Seq(r3 | (0xFF00L << 32) | 0x5L, r3 | (0xFC00L << 32) | 0x5L)
    base ++ near1 ++ near2 ++ chain ++ copies ++ hot ++ Seq.fill(3)(hot(5)) ++ doublyHot
  }

  private def within2(a: Long, b: Long): Boolean = java.lang.Long.bitCount(a ^ b) <= 2

  /** Unordered pairs of distinct hashes at Hamming <= 2. */
  private lazy val truePairs: Set[(Long, Long)] = {
    val hs = hashes.distinct.toArray
    (for { i <- hs.indices; j <- i + 1 until hs.length if within2(hs(i), hs(j)) }
      yield (math.min(hs(i), hs(j)), math.max(hs(i), hs(j)))).toSet
  }

  /** The connected components of `edges` over `nodes`, as a partition. */
  private def partition[I](nodes: Seq[I], edges: Seq[(I, I)]): Set[Set[I]] = {
    val parent = scala.collection.mutable.HashMap[I, I]()
    nodes.foreach(n => parent(n) = n)
    def find(x: I): I = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    nodes.groupBy(find).values.map(_.toSet).toSet
  }

  /** Every check on one id space: `edges` over rows `ids(i)` <-> `hashes(i)`,
    * with `rep` the min id of each hash. */
  private def checkEdges[I](ids: Seq[I], edges: Seq[(I, I)])(implicit ord: Ordering[I]): Unit = {
    val hashOf = ids.zip(hashes).toMap
    val rep = ids.zip(hashes).groupBy(_._2).map { case (h, rows) => h -> rows.map(_._1).min }
    val truth = partition(ids, ids.zip(hashes).flatMap { case (id, h) => Seq((id, rep(h))) } ++
      truePairs.toSeq.map { case (a, b) => (rep(a), rep(b)) })
    val got = partition(ids, edges)
    val sameComponents = got == truth
    assert(sameComponents, s"components differ from brute-force Hamming <= 2 truth: " +
      s"${got.diff(truth).size} of ${got.size} not in the truth's ${truth.size}")

    val unordered = edges.map { case (a, b) => if (ord.lt(a, b)) (a, b) else (b, a) }
    val twice = unordered.groupBy(identity).collect { case (e, n) if n.size > 1 => e }
    assert(twice.size == 0, s"${twice.size} edges emitted more than once, e.g. ${twice.take(3)}")
    assert(edges.forall { case (a, b) => a != b }, "self-loop edge")

    val (stars, near) = edges.partition { case (a, b) => hashOf(a) == hashOf(b) }
    val copies = ids.filter(id => rep(hashOf(id)) != id)
    val oneStarPerCopy = stars.map { case (a, b) => if (rep(hashOf(a)) == a) b else a }.sorted == copies.sorted
    assert(oneStarPerCopy, "not exactly one star edge per non-rep copy")
    assert(stars.forall { case (a, b) => a == rep(hashOf(a)) || b == rep(hashOf(b)) },
      "a star edge misses its hash's rep")
    assert(near.forall { case (a, b) => a == rep(hashOf(a)) && b == rep(hashOf(b)) },
      "a near pair joins non-rep copies")
    val nearHashes = near.map { case (a, b) =>
      val (x, y) = (hashOf(a), hashOf(b)); (math.min(x, y), math.max(x, y)) }
    assert(nearHashes.size == truePairs.size && nearHashes.toSet == truePairs,
      s"near pairs ${nearHashes.size} (${nearHashes.toSet.size} distinct) vs truth ${truePairs.size}")
  }

  test("planted corpus: the banding pass is exact, and exactly once, in nid space") {
    import spark.implicits._
    assert(hashes.length > 2000 && truePairs.nonEmpty)
    // nids in no relation to hash order, so rep choice is exercised
    val nids = hashes.indices.map(i => java.lang.Long.rotateLeft(i * 0x9E3779B97F4A7C15L, 17) ^ 0x5DEECE66DL)
    val ids = nids.zip(hashes).toDF("nid", "dhash")
    checkEdges(nids, Media.dupEdges(ids, maxHamming = 2)._1.as[(Long, Long)].collect().toSeq)
    val labels = Media.imageDupLabelsNid(ids).as[(Long, Long)].collect().toSeq
    assert(labels.groupBy(_._2).values.map(_.map(_._1).toSet).toSet ==
      partition(nids, Media.dupEdges(ids, maxHamming = 2)._1.as[(Long, Long)].collect().toSeq))
  }

  test("planted corpus: imageNearDupPairs runs the same kernel on string ids") {
    import spark.implicits._
    val names = hashes.indices.map(i => f"img${(i * 7919) % hashes.length}%05d")
    val pairs = Media.imageNearDupPairs(names.zip(hashes).toDF("image_id", "dhash"), maxHamming = 2)
      .as[(String, String)].collect().toSeq
    checkEdges(names, pairs)
  }

  test("materializing dupEdges runs one exchange and at most two jobs") {
    import spark.implicits._
    val ids = hashes.indices.takeRight(300).map(i => (i.toLong, hashes(i))).toDF("nid", "dhash")
      .localCheckpoint(true)
    val edges = Media.dupEdges(ids, maxHamming = 2)._1
    val (n, jobs) = SparkProbe.jobsIn(spark)(edges.collect().length)
    assert(n > 0)
    assert(jobs <= 2, s"materializing the edges ran $jobs jobs")
    val exchanges = SparkProbe.allNodes(edges.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"${exchanges.size} exchanges: ${edges.queryExecution.executedPlan}")
    assert(exchanges.head.output.map(_.name).toSet == Set("key", "dhash", "nid"))
  }
}
