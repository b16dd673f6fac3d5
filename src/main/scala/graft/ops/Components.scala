package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed connected components over an edge list, for collapsing
 * near-duplicate pair graphs (MinHash/SimHash/embedding LSH output)
 * into clusters: every node gets the component's minimum id as its
 * representative, so "keep one doc per duplicate cluster" is a single
 * `filter(doc_id === rep)` afterwards.
 *
 * Algorithm: alternating large-star / small-star (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", SoCC'14) — the
 * published O(log^2 n)-round MapReduce formulation. Each round is two
 * Long-key aggregations + one equi-join; no adjacency list ever
 * materializes in one task, so a 10^12-edge graph shuffles only
 * (Long, Long) rows hashed across the cluster. Rounds localCheckpoint
 * eagerly (lineage would otherwise double per iteration), and
 * convergence is an O(1)-row checksum action per round, not a diff join.
 *
 * Hub hardening: a giant star-shaped component (one node adjacent to
 * a large fraction of the graph — the all-near-dup pathology) makes the
 * re-parent JOIN hot-key: every edge of the hub hashes to one task.
 * Nodes whose degree exceeds `hubDegree` are therefore routed through
 * BROADCAST joins (their (u, m) rows are few by construction — at most
 * 2|E|/hubDegree — and the split happens map-side via a broadcast
 * anti/inner pair, so the hub's edges never hash-partition on the hub
 * id at all). When the hub set is somehow too large to broadcast, the
 * plain shuffle join stands and AQE's skew-join splitting is the
 * fallback.
 */
object Components {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-round telemetry: edge count after the round and how many
    * hub-degree nodes the round's star transforms routed through the
    * broadcast path. */
  case class RoundStats(round: Int, edges: Long, hubNodes: Long)

  /** Max broadcast-side rows for the hub routing (u, m) pairs. */
  private val MaxHubBroadcast = 4000000L

  /** Join `rows` (u, ...) with the re-parent map `m` (u, m, deg) on u,
    * skew-safely: hub-degree u's route through broadcast joins (the
    * map-side split keeps their rows out of the hash exchange
    * entirely); everything else takes the plain shuffle join. Returns
    * (joined rows with column m, hub count). */
  private def skewSafeReparent(rows: DataFrame, mIn: DataFrame, hubDegree: Long,
                               hold: DataFrame => DataFrame): (DataFrame, Long) = {
    // materialize the re-parent map ONCE (eager, lineage-free, held
    // until the round's edges are): the hub count probe and the join(s)
    // below all read it — without this each consumer re-runs the degree
    // aggregation
    val m = hold(mIn.localCheckpoint(true))
    val hubs = m.filter(col("deg") > hubDegree).select(col("u"), col("m"))
    val hubCount = hubs.count()
    if (hubCount == 0 || hubCount > MaxHubBroadcast)
      (rows.join(m.select(col("u"), col("m")), "u"), if (hubCount == 0) 0L else -hubCount)
    else {
      val nonhubM = m.filter(col("deg") <= hubDegree).select(col("u"), col("m"))
      val plain = rows.join(broadcast(hubs.select("u")), Seq("u"), "left_anti")
        .join(nonhubM, "u")
      val viaHub = rows.join(broadcast(hubs), "u")
      (plain.unionByName(viaHub), hubCount)
    }
  }

  /** large-star: every neighbor v > u re-parents to m(u) = min(N(u) ∪ {u}).
    * Input/output edges are (a, b) Long columns, orientation-free. */
  private def largeStar(edges: DataFrame, hubDegree: Long,
                        hold: DataFrame => DataFrame): (DataFrame, Long) = {
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    val m = sym.groupBy("u").agg(min(col("v")).as("minv"), count(lit(1)).as("deg"))
      .select(col("u"), least(col("u"), col("minv")).as("m"), col("deg"))
    val (joined, hubs) = skewSafeReparent(sym.filter(col("v") > col("u")), m, hubDegree, hold)
    (joined.select(col("v").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct(), hubs)
  }

  /** small-star: orient (max, min); every small neighbor and u itself
    * re-parent to the minimum neighbor. */
  private def smallStar(edges: DataFrame, hubDegree: Long,
                        hold: DataFrame => DataFrame): (DataFrame, Long) = {
    val oriented = edges.select(
      greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
    val m = oriented.groupBy("u")
      .agg(min(col("v")).as("m"), count(lit(1)).as("deg"))
    val (joined, hubs) = skewSafeReparent(oriented, m, hubDegree, hold)
    val moved = joined
      .select(col("v").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
    (moved.unionByName(m.select(col("u").as("a"), col("m").as("b"))).distinct(), hubs)
  }

  /** Order-independent O(1) fingerprint of an edge set: (count, xor of
    * row hashes). Equal fingerprints across a round == converged (the
    * star transforms only ever move edges toward the component min, so
    * a stable set is the fixpoint, not a coincidence). */
  private def fingerprint(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }

  /**
   * Connected components of the undirected graph in `edges` (columns
   * `a`, `b`: Long node ids). Returns (node, rep) for every node that
   * appears in an edge; rep = min node id of its component. Callers
   * join this back to the full entity table and coalesce(rep, id) for
   * singletons.
   */
  def connectedComponents(edges: DataFrame, maxIter: Int = 32,
                          smallGraphEdges: Long = 1L << 20,
                          hubDegree: Long = 1L << 20): DataFrame =
    connectedComponentsWithStats(edges, maxIter, smallGraphEdges, hubDegree)._1

  /** Component labels for EVERY id in `ids` (single column `idCol`):
    * connected components over `pairs` (columns a, b), rep = component
    * min, ids absent from the pair graph label themselves. The ONE
    * labeling idiom — q42/q55 minhash clusters and span-dedup clusters
    * must mean the same thing, so both route through here. */
  def labelAll(ids: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val labels = connectedComponents(pairs).withColumnRenamed("node", idCol)
    ids.select(col(idCol))
      .join(labels, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("rep"), col(idCol)).as("rep"))
  }

  /** [[connectedComponents]] plus the per-round telemetry (empty when
    * the driver fast path ran). Returned to the caller instead of a
    * JVM-global var: concurrent calls in one session each get their own
    * stats. A pathological giant component (everything near-dup of
    * everything) maximizes round count and lights up `hubNodes`, so ops
    * monitors round growth here / in the logs rather than discovering
    * it as an unexplained wall-clock cliff. */
  def connectedComponentsWithStats(edges: DataFrame, maxIter: Int = 32,
                                   smallGraphEdges: Long = 1L << 20,
                                   hubDegree: Long = 1L << 20): (DataFrame, Seq[RoundStats]) = {
    // the checkpoint's own job counts the edges: the small-graph gate
    // costs no action of its own
    val (input, inputEdges) = org.apache.spark.sql.graft.Bridge.localCheckpointCounted(
      edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct())
    // Small-graph fast path: a pair graph that fits on the driver skips
    // the ~6-shuffle-per-round distributed loop (same move Spark itself
    // makes when it broadcasts a small join side). The distributed path
    // below is the 100 TB shape; ComponentsSpec exercises both.
    if (inputEdges <= smallGraphEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // collect(), NOT toLocalIterator(): the iterator launches one job
      // PER PARTITION (dozens of sequential ~100ms scheduling round
      // trips for a few MB of edges — it dominated every small-graph
      // caller's wall time), while the gate already bounds the pull at
      // smallGraphEdges (2^20) pairs of Longs ≈ 16 MB — driver-safe.
      input.as[(Long, Long)].collect().foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      Checkpoint.release(input)
      // one row per node, rep = its root = the component min: a local
      // relation, so reading the labels runs no job and no shuffle
      return (parent.keysIterator.map(v => (v, find(v))).toSeq.toDF("node", "rep"), Nil)
    }
    var cur = input
    var fp = fingerprint(cur)
    var stats = Vector.empty[RoundStats]
    var it = 0
    var converged = inputEdges == 0L
    while (!converged && it < maxIter) {
      // the round's two re-parent maps are dead once `next` is materialized
      val (next, lsHubs, ssHubs) = Checkpoint.holding { hold =>
        val (ls, lsHubs) = largeStar(cur, hubDegree, hold)
        val (next0, ssHubs) = smallStar(ls, hubDegree, hold)
        (next0.localCheckpoint(true), lsHubs, ssHubs)
      }
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      Checkpoint.release(cur) // next is materialized: the old round is dead
      cur = next
      it += 1
      // negative hubNodes = hub set exceeded the broadcast cap and the
      // round fell back to the plain join (AQE skew split territory).
      // A fallback in EITHER star phase must survive into the stat —
      // max() would mask -N behind the other phase's healthy 0.
      val roundHubs =
        if (lsHubs < 0 || ssHubs < 0) math.min(lsHubs, ssHubs)
        else math.max(lsHubs, ssHubs)
      stats = stats :+ RoundStats(it, nfp._1, roundHubs)
      log.info(s"connectedComponents round $it: ${nfp._1} edges (input $inputEdges, " +
        s"hub nodes $roundHubs)")
      // star rounds can transiently inflate the edge set; sustained
      // blow-up is the giant-component signature — surface it loudly
      if (nfp._1 > 8 * inputEdges)
        log.warn(s"connectedComponents round $it edge count ${nfp._1} exceeds 8x the " +
          s"input ($inputEdges): likely a giant component; expect many more rounds")
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint is a star forest oriented (member -> min): a is the node,
    // b the representative; roots themselves appear only on the b side
    (cur.select(col("a").as("node"), col("b").as("rep"))
      .unionByName(cur.select(col("b").as("node"), col("b").as("rep")))
      .groupBy("node").agg(min(col("rep")).as("rep")), stats)
  }
}
