package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (array<float>) — the
 * training-pipeline ANN operators. Brute-force cosine top-k is the
 * exact baseline; random-hyperplane LSH bucketing and IVF coarse
 * quantization are the scale paths (candidates only meet inside a
 * bucket/cell — the shuffle is on a small key, never an all-pairs
 * cross product, and never carries the embedding arrays).
 */
object Ann {
  /** Sequential-fold dot product of two float/double arrays (elements
    * widened to double, summed left-to-right — the same order DuckDB's
    * list functions use, so results are bit-identical). Native
    * codegen'd expression (the HOF fold is interpreted and dominates
    * ANN time). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(graft.functions.DotProductExpr(expression(a), expression(b)))
  }

  /** Cosine with a zero-magnitude guard: a zero vector scores 0.0
    * (orthogonal-to-everything) instead of NaN — Spark sorts NaN as
    * LARGEST, so an unguarded zero corpus vector would rank as the #1
    * neighbor of every query and pass every cos >= minCos filter. The
    * oracle data contains no zero vectors, so DuckDB parity (which
    * reproduces the unguarded arithmetic) is unaffected. */
  def cosine(a: Column, b: Column): Column = {
    val denom = dot(a, a) * dot(b, b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / sqrt(denom))
  }

  /** Exact cosine top-k: broadcast the (small) query set, window top-k
    * per query. At scale this is the rerank stage after LSH prefilter. */
  def bruteForceTopK(vecs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = vecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(queries.select(col("qid"), col("qvec"))))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosine(col("embedding"), col("qvec")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Random-hyperplane (SimHash-style) signature of an embedding:
    * `planes` sign bits packed into a Long. Native codegen'd kernel
    * (graft.text.RhpSig) whose plane components are pure-integer mixes
    * that the DuckDB oracle reproduces exactly — the projections fold
    * doubles in the same sequential order, so the sign bits (hence
    * buckets and candidate sets) match bit-for-bit. */
  def rhpSignature(v: Column, planes: Int): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(graft.functions.RhpSigExpr(expression(v), planes))
  }

  /** Deterministic random projection to `planes` output dimensions
    * (Johnson–Lindenstrauss reduction on the portable plane matrix the
    * LSH signatures quantize) — the standard pre-clustering /
    * pre-index dimensionality cut. Map-only codegen kernel; at 100 TB
    * this is a pure scan→project stage and downstream ops shuffle
    * `planes` doubles per row instead of the full embedding. */
  def randomProjection(v: Column, planes: Int): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(graft.functions.RhpProjectExpr(expression(v), planes))
  }

  /** (band, key) struct array of a vector's LSH band keys. Defaults
    * (64 planes, 8 bands of 8 rows) give 256 possible keys per band —
    * at round-1's 16/4 the 4-bit keys made every bucket hold n/16 of
    * the corpus, i.e. near-all-pairs at scale. */
  def rhpBandCols(sig: Column, planes: Int, bands: Int): Column = {
    require(bands >= 1 && planes % bands == 0,
      s"bands ($bands) must divide planes ($planes) — a non-dividing split silently drops signature bits")
    val rows = planes / bands
    require(rows <= 32,
      s"rows per band ($rows) must be <= 32: 1L << 64 wraps to 1 in Scala, collapsing " +
        "every band key to 0 and turning the LSH join into an all-pairs cross product")
    val mask = (1L << rows) - 1
    array((0 until bands).map(b =>
      struct(lit(b).as("band"), shiftrightunsigned(sig, b * rows).bitwiseAND(mask).as("key"))): _*)
  }

  /** Exploded (vec_id, bk) band rows for LSH self/probe joins — ids and
    * band keys ONLY: the embedding arrays never ride the band shuffle. */
  def rhpBands(vecs: DataFrame, planes: Int = 64, bands: Int = 8): DataFrame =
    vecs.select(col("vec_id"),
      explode(rhpBandCols(rhpSignature(col("embedding"), planes), planes, bands)).as("bk"))

  /** Embedding near-duplicate pairs at scale: LSH-bucketed candidate
    * self-join + exact cosine rerank at `minCos`. The 100 TB shuffle
    * shape: the band self-join carries (vec_id, bk) ONLY — ~16 bytes/
    * band-row, never the float arrays; the distinct candidate pairs
    * (ids only) then hash-join the embeddings back once per side for
    * the rerank. Approximate by construction: pairs whose signatures
    * share no band are not considered (recall rises with `bands`).
    * The exact all-pairs q31 variant is oracle-scale only. Repeated
    * callers: pass `spark.table` of a [[writeBucketedEmbeddings]] table
    * and the rerank's corpus side reads pre-hashed with NO shuffle. */
  def nearDupLsh(vecs: DataFrame, minCos: Double,
                 planes: Int = 64, bands: Int = 8): DataFrame = {
    // eager checkpoint: BOTH self-join sides consume the band rows, and
    // aliased projections defeat exchange reuse — without this the RHP
    // signature pass over the full corpus runs twice (CLAUDE.md
    // multi-consumer invariant)
    val b = rhpBands(vecs, planes, bands).localCheckpoint(true)
    val a2 = b.select(col("vec_id").as("vec_a"), col("bk"))
    val b2 = b.select(col("vec_id").as("vec_b"), col("bk"))
    val pairs = a2.join(b2, Seq("bk")).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    val ea = vecs.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val eb = vecs.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    pairs.join(ea, Seq("vec_a")).join(eb, Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"), cosine(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Persist the embedding table BUCKETED (and sorted) by vec_id — the
    * rerank-join analog of [[writeIvfIndex]]'s build-once index.
    * [[nearDupLsh]] and [[lshTopK]] hash-join the full embedding table
    * by vec_id for their exact-cosine rerank; fed a plain table that
    * re-shuffles the corpus on EVERY call, but fed
    * `spark.table(name)` written here, the scan is already hash-
    * partitioned on disk: only the (small) candidate side exchanges,
    * and the corpus side reads bucket-aligned with zero shuffle
    * (asserted in PlanSpec). Bucket layout lives in the session
    * catalog, not the parquet footers — hence saveAsTable, and readers
    * must go through `spark.table`, not `read.parquet`. Size `buckets`
    * like shuffle partitions (cores to a few x cores per executor
    * fleet). */
  def writeBucketedEmbeddings(vecs: DataFrame, table: String, path: String,
                              buckets: Int): Unit = {
    val spark = vecs.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    vecs.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, "vec_id").sortBy("vec_id")
      .option("path", path)
      .saveAsTable(table)
  }

  // ---------- IVF-flat ----------

  /** Collect a small (cid, cvec) centroid table to driver arrays sorted
    * by cid ascending (the kernel's tie order). cvec may be
    * array<float> or array<double> (floats widen exactly). */
  def collectCentroids(cents: DataFrame): (Array[Long], Array[Array[Double]]) = {
    val rows = cents.select(col("cid").cast("long"), col("cvec")).collect()
      .map { r =>
        val v = r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray
        (r.getLong(0), v)
      }.sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** Map-side nearest-centroid assignment (exact cosine, tie to the
    * smaller cid): a zero-shuffle codegen kernel over the embedding
    * column — the 100 TB replacement for crossJoin+Window argmax. */
  def nearestCentroid(v: Column, cids: Array[Long], cvecs: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(graft.functions.NearestCentroidExpr(
      expression(v), cids.toSeq, cvecs.map(_.toSeq).toSeq))
  }

  /** Map-side n-nearest-centroid probe list in (cos desc, cid asc)
    * order. */
  def nearestCentroids(v: Column, cids: Array[Long], cvecs: Array[Array[Double]], n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(graft.functions.NearestCentroidsExpr(
      expression(v), cids.toSeq, cvecs.map(_.toSeq).toSeq, n))
  }

  /** IVF-flat coarse quantization: assign every vector to its nearest
    * centroid by cosine (ties by centroid id). Map-only — the centroid
    * set rides inside the codegen'd expression; no shuffle, no window. */
  def ivfAssign(vecs: DataFrame, cids: Array[Long], cvecs: Array[Array[Double]]): DataFrame =
    vecs.select(col("vec_id"), col("embedding"),
      nearestCentroid(col("embedding"), cids, cvecs).as("cell"))

  def ivfAssign(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val (cids, cvecs) = collectCentroids(cents)
    ivfAssign(vecs, cids, cvecs)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, public method):
    * k-means cells via the FIXED coarse quantizer, then keep ONE
    * representative per within-cell cosine-threshold duplicate group —
    * the cluster-level redundancy pass that pairwise LSH near-dup
    * (q39/q44) misses at lower thresholds. Returns every vector as
    * (vec_id, cell, rep, keep): rep = the minimum vec_id of the
    * vector's within-cell connected component of the cos >= minCos
    * pair graph (itself when isolated), keep = 1 iff vec_id == rep.
    *
    * Scale shape: assignment is the map-side codegen kernel (zero
    * shuffle); the within-cell candidate self-join carries (cell,
    * vec_id) rows ONLY — embeddings re-join by id for the exact cosine,
    * so no array column ever rides a corpus shuffle; components run in
    * 8-byte id space (Components.labelAll: driver union-find on small
    * graphs, large/small-star beyond 2^20 edges). Per-cell cost is
    * quadratic BY DESIGN (SemDeDup's own bound): size k so cells hold
    * ~sqrt-of-corpus vectors; the candidate-pair budget guard fails
    * LOUDLY (like RangeJoin's explosion guard) instead of launching an
    * accidental all-pairs job when k is far too small for the corpus.
    * Cross-cell near-duplicates are invisible by construction — the
    * documented SemDeDup recall tradeoff (boundary pairs split across
    * cells), which is what buys the quadratic bound. */
  def semDedup(vecs: DataFrame, cids: Array[Long], cvecs: Array[Array[Double]],
               minCos: Double, maxCandPairs: Long = 1L << 33): DataFrame = {
    // ids+cell only — candidate-sized; feeds the guard, both self-join
    // sides and the final cell re-attach (multi-consumer invariant)
    val asg = ivfAssign(vecs, cids, cvecs)
      .select(col("vec_id"), col("cell")).localCheckpoint(true)
    cellPairBudgetCheck(asg, maxCandPairs, "semDedup")
    val pairs = withinCellPairs(asg, vecs, minCos)
    val labels = graft.ops.Components.labelAll(
      vecs.select(col("vec_id")),
      pairs.select(col("vec_a").as("a"), col("vec_b").as("b")), "vec_id")
    labels.join(asg, Seq("vec_id"))
      .select(col("vec_id"), col("cell"), col("rep"),
        when(col("vec_id") === col("rep"), lit(1)).otherwise(lit(0)).as("keep"))
  }

  /** Loud quadratic-budget guard over a (vec_id, cell) assignment: the
    * within-cell candidate pair count must stay under `maxCandPairs` —
    * a too-coarse quantizer fails with sizing guidance instead of
    * launching an accidental near-all-pairs job. */
  private[graft] def cellPairBudgetCheck(asg: DataFrame, maxCandPairs: Long,
                                         who: String): Unit = {
    val hist = asg.groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) DIV 2")).as("pairs")).head()
    val cand0 = if (hist.isNullAt(0)) 0L else hist.getLong(0)
    require(cand0 <= maxCandPairs,
      s"$who: ~$cand0 within-cell candidate pairs exceed the $maxCandPairs budget — " +
        "the quantizer is far too coarse for this corpus; raise k (cells should hold " +
        "roughly sqrt-of-corpus vectors) or raise maxCandPairs explicitly")
  }

  /** THE within-cell cos-threshold pair graph (single source — the
    * batch operator, the incremental state's in-batch edges, and the
    * profiler all use this exact shape): (cell, vec_id)-only self-join,
    * embeddings re-joined by id for the exact cosine — no array column
    * ever rides the cell shuffle. `asg` must be checkpointed by the
    * caller (it feeds BOTH self-join sides). */
  private[graft] def withinCellPairs(asg: DataFrame, vecs: DataFrame,
                                     minCos: Double): DataFrame = {
    val a = asg.select(col("cell"), col("vec_id").as("vec_a"))
    val b = asg.select(col("cell"), col("vec_id").as("vec_b"))
    val ea = vecs.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val eb = vecs.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b, Seq("cell")).filter(col("vec_a") < col("vec_b"))
      .join(ea, Seq("vec_a")).join(eb, Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"), cosine(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  def semDedup(vecs: DataFrame, k: Int, iters: Int, minCos: Double): DataFrame = {
    val (cids, cvecs) = kmeansCentroids(vecs, k, iters)
    semDedup(vecs, cids, cvecs, minCos)
  }

  /** IVF-probed ANN top-k: queries probe their `nprobe` nearest
    * centroid cells (map-side kernel); candidates are the vectors
    * assigned to those cells via a BROADCAST join on the cell id (the
    * big vector side never shuffles — with K centroids a hash exchange
    * would collapse into <=K partitions); exact cosine rerank. Each
    * vector lives in exactly one cell and probe cells are distinct per
    * query, so candidate pairs are unique by construction (no distinct
    * pass). Recall < 1 by construction (cells not probed are never
    * scanned) — the complementary scale path to lshTopK. */
  def ivfTopK(vecs: DataFrame, queries: DataFrame,
              cids: Array[Long], cvecs: Array[Array[Double]],
              k: Int, nprobe: Int): DataFrame = {
    val asg = ivfAssign(vecs, cids, cvecs)
    val probes = queries.select(col("qid"), col("qvec"),
      explode(nearestCentroids(col("qvec"), cids, cvecs, nprobe)).as("cell"))
    val cand = asg.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosine(col("embedding"), col("qvec")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  def ivfTopK(vecs: DataFrame, queries: DataFrame, cents: DataFrame,
              k: Int, nprobe: Int = 2): DataFrame = {
    val (cids, cvecs) = collectCentroids(cents)
    ivfTopK(vecs, queries, cids, cvecs, k, nprobe)
  }

  /** Persist the IVF index — build once, query forever (the ANN analog
    * of Render.writeRankedSnapshot): `dir/centroids` holds the tiny
    * (cid, cvec) table; `dir/vectors` holds the assigned vector table
    * Hive-partitioned BY CELL, so a probe reads only its cells'
    * directories (partition pruning — the scan cost is
    * |probed cells| / K of the corpus, not a full pass). */
  def writeIvfIndex(vecs: DataFrame, cents: DataFrame, dir: String): Unit = {
    val (cids, cvecs) = collectCentroids(cents)
    cents.select(col("cid").cast("long").as("cid"), col("cvec"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    ivfAssign(vecs, cids, cvecs)
      .sortWithinPartitions(col("cell")) // one file per (task, cell) run
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/vectors")
  }

  /** Append new vectors to a persisted IVF index: assign against the
    * index's OWN centroids (the coarse quantizer is fixed at build
    * time — re-clustering would move cell boundaries and orphan the
    * existing layout) and land them in their cells' partitions.
    * Map-only + one partitioned append; the existing corpus is never
    * read or rewritten. */
  def appendIvfIndex(spark: SparkSession, vecs: DataFrame, dir: String): Unit = {
    val (cids, cvecs) = collectCentroids(spark.read.parquet(s"$dir/centroids"))
    ivfAssign(vecs, cids, cvecs)
      .sortWithinPartitions(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/vectors")
  }

  /** Query a persisted IVF index. The probe-cell set is collected
    * (<= |queries| * nprobe longs) into a static `isin` filter so
    * partition pruning is guaranteed at plan time (no reliance on
    * runtime DPP), then candidates join the broadcast probe table on
    * the cell id exactly like the in-memory path. */
  def ivfTopKFromIndex(spark: SparkSession, dir: String, queries: DataFrame,
                       k: Int, nprobe: Int = 2): DataFrame = {
    val cents = spark.read.parquet(s"$dir/centroids")
    val (cids, cvecs) = collectCentroids(cents)
    val probes = queries.select(col("qid"), col("qvec"),
      explode(nearestCentroids(col("qvec"), cids, cvecs, nprobe)).as("cell"))
      .localCheckpoint(true)
    val cells = probes.select("cell").distinct().collect().map(_.getLong(0))
    val asg = spark.read.parquet(s"$dir/vectors")
    // partition-column type inference may read cell back as INT (small
    // cids): isin with Long literals would wrap the column in a cast,
    // which can defeat the plan-time pruning this collect exists to
    // guarantee — match the literals to the INFERRED type instead
    val typedCells: Seq[Any] = asg.schema("cell").dataType match {
      case org.apache.spark.sql.types.IntegerType => cells.toSeq.map(_.toInt)
      case _ => cells.toSeq
    }
    val pruned = asg.filter(col("cell").isin(typedCells: _*))
      .withColumn("cell", col("cell").cast("long"))
    val cand = pruned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosine(col("embedding"), col("qvec")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Deterministic Lloyd k-means for the IVF coarse quantizer: init =
    * the k lowest-vec_id embeddings; each iteration assigns via the
    * map-side kernel and recomputes centroids as QUANTIZED means —
    * per-component sums of floor(v * quant + 0.5) as exact integers
    * (order-independent, so the result is deterministic under any
    * partitioning) divided by (count * quant). Empty clusters keep
    * their previous centroid. The DuckDB oracle
    * (graft.oracle.VecSql.kmeansCentsCte) replicates the identical
    * integer/double arithmetic, so centroids match bit-for-bit.
    *
    * Scale shape: assignment is map-only; the per-iteration aggregate
    * shuffles only k*dim partial sums per partition (posexplode feeds a
    * partial-aggregating groupBy); the k x dim result is collected to
    * the driver (bounded, independent of n). */
  def kmeansCentroids(vecs: DataFrame, k: Int, iters: Int,
                      quant: Long = 1L << 20): (Array[Long], Array[Array[Double]]) = {
    val init = vecs.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(k).collect()
    val cids = init.map(_.getLong(0))
    // accept array<float> OR array<double>, like collectCentroids
    var cvecs = init.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    val qd = quant.toDouble
    var it = 0
    while (it < iters) {
      val asg = ivfAssign(vecs, cids, cvecs)
      val sums = asg.select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(floor(col("v").cast("double") * qd + lit(0.5))).as("s"),
          count(lit(1)).as("cnt"))
        .collect()
      val byCell = sums.groupBy(_.getLong(0))
      cvecs = cids.zip(cvecs).map { case (cid, old) =>
        byCell.get(cid) match {
          case Some(rows) =>
            val arr = old.clone()
            rows.foreach { r =>
              arr(r.getInt(1)) = r.getLong(2).toDouble / (r.getLong(3) * quant).toDouble
            }
            arr
          case None => old
        }
      }
      it += 1
    }
    (cids, cvecs)
  }

  // ---------- LSH top-k ----------

  /** Query-side multi-probe masks: the exact key plus every <=maxFlips
    * bit flip of an LSH band key. Cost rides on the QUERY band rows
    * only — the huge vector side is untouched. */
  def probeMasks(rows: Int, maxFlips: Int): Seq[Long] = {
    require(maxFlips >= 0 && maxFlips <= 2,
      s"maxFlips=$maxFlips unsupported: only <=2-flip masks are generated — a silent " +
        "cap would deliver less recall than the documented collision model promises")
    val one = (0 until rows).map(i => 1L << i)
    val two = for { i <- 0 until rows; j <- i + 1 until rows } yield (1L << i) | (1L << j)
    Seq(0L) ++ (if (maxFlips >= 1) one else Nil) ++ (if (maxFlips >= 2) two else Nil)
  }

  /** LSH-bucketed ANN top-k: bucket = signature band; candidates share
    * a (possibly multi-probed) band key; exact cosine rerank inside
    * buckets. The band join carries ids and keys only — embeddings are
    * hash-joined back for the rerank, like nearDupLsh. Per-band
    * collision probability rises from p^r to sum_{f<=maxFlips}
    * C(r,f) p^(r-f) (1-p)^f at a cost of (1 + r + C(r,2))x QUERY band
    * rows only. Recall < 1 by construction; IVF is the high-recall
    * path. Repeated callers: a [[writeBucketedEmbeddings]] table makes
    * the rerank's corpus side shuffle-free, as with [[nearDupLsh]]. */
  def lshTopK(vecs: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 64, bands: Int = 8, maxFlips: Int = 2): DataFrame = {
    val rows = planes / bands
    val v = rhpBands(vecs, planes, bands)
    val masks = probeMasks(rows, maxFlips)
    val q = queries.select(col("qid"),
      explode(rhpBandCols(rhpSignature(col("qvec"), planes), planes, bands)).as("bk"))
      .withColumn("mk", explode(array(masks.map(lit): _*)))
      .select(col("qid"),
        struct(col("bk.band").as("band"),
          col("bk.key").bitwiseXOR(col("mk")).as("key")).as("bk"))
    val cand = v.join(q, v("bk") === q("bk"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
      .dropDuplicates("qid", "vec_id")
    val ev = vecs.select(col("vec_id"), col("embedding"))
    val eq = queries.select(col("qid"), col("qvec"))
    val scored = cand.join(ev, Seq("vec_id")).join(broadcast(eq), Seq("qid"))
      .select(col("qid"), col("vec_id"), cosine(col("embedding"), col("qvec")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }
}
