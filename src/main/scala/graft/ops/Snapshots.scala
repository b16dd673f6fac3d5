package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/**
 * Iceberg-shaped table layer over parquet (no Iceberg jar ships in
 * /opt/spark/jars): immutable data files + manifest JSON + an atomically
 * swapped SNAPSHOT pointer. Gives the engine's encode output
 * snapshot/append/time-travel semantics and the checkpoint table the
 * north rule requires (per-partition lineage + row-count metrics;
 * resume from last committed snapshot).
 *
 * Layout:
 *   root/data/<snap>/part-*.parquet   immutable data files
 *   root/manifests/<snap>.json        file list + row counts
 *   root/SNAPSHOT                     current snapshot id (atomic rename)
 */
object Snapshots {
  private[ops] def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, s)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def currentSnapshot(root: String): Option[Long] = {
    val p = Paths.get(root, "SNAPSHOT")
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  /** Commit a DataFrame as the next snapshot. `parents` lists the
    * snapshot ids whose data files this snapshot carries forward
    * (append semantics: pass currentSnapshot). Returns the new id.
    * Committers serialize on a StateLease under `root`: two concurrent
    * commits would otherwise both read snapshot N and both write
    * data/N+1 (interleaved part files, last manifest wins — a silently
    * corrupted chain). */
  def commit(root: String, df: DataFrame, parents: Seq[Long] = Nil): Long =
    StateLease.withLease(root)(commitLocked(root, df, parents))

  /** Files.list streams hold a directory fd until closed — drain and
    * close eagerly (a long-running incremental driver polls these per
    * batch and would otherwise leak fds until GC). */
  private[ops] def listNames(d: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val st = Files.list(d)
    try st.iterator().asScala.toSeq finally st.close()
  }

  private def commitLocked(root: String, df: DataFrame, parents: Seq[Long]): Long = {
    val snap = currentSnapshot(root).getOrElse(0L) + 1
    val dataDir = s"$root/data/$snap"
    df.write.mode("overwrite").parquet(dataDir)
    val files = listNames(Paths.get(dataDir))
      .filter(_.toString.endsWith(".parquet")).map(_.toString).sorted
    val rows = df.sparkSession.read.parquet(dataDir).count()
    val manifest =
      s"""{"snapshot": $snap, "parents": [${parents.mkString(",")}],
         | "rows": $rows,
         | "files": [${files.map(f => "\"" + f + "\"").mkString(",")}]}""".stripMargin
    write(s"$root/manifests/$snap.json", manifest)
    write(s"$root/SNAPSHOT", snap.toString)
    snap
  }

  private def manifestFiles(root: String, snap: Long): Seq[String] = {
    val txt = Files.readString(Paths.get(s"$root/manifests/$snap.json"))
    val filesPart = txt.split("\"files\":")(1)
    "\"([^\"]+)\"".r.findAllMatchIn(filesPart).map(_.group(1)).toSeq
  }

  private def manifestParents(root: String, snap: Long): Seq[Long] = {
    val txt = Files.readString(Paths.get(s"$root/manifests/$snap.json"))
    val p = txt.split("\"parents\": \\[")(1).split("]")(0).trim
    if (p.isEmpty) Nil else p.split(",").map(_.trim.toLong).toSeq
  }

  /** Read a snapshot (defaults to current): the union of its own data
    * files and all ancestors' (append chains). */
  def read(spark: SparkSession, root: String, snapshot: Option[Long] = None): DataFrame = {
    val snap = snapshot.orElse(currentSnapshot(root))
      .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))
    def allFiles(s: Long): Seq[String] =
      manifestFiles(root, s) ++ manifestParents(root, s).flatMap(allFiles)
    spark.read.parquet(allFiles(snap).distinct: _*)
  }

  /** Append: commit new data whose read() also includes the current
    * snapshot's files — the reference's encode-new + merge
    * incrementality (README.md:97-107) without rewriting history.
    * The parent pointer is read INSIDE the lease — reading it before
    * acquisition would reintroduce the lost-parent race. */
  def append(root: String, df: DataFrame): Long =
    StateLease.withLease(root)(commitLocked(root, df, currentSnapshot(root).toSeq))
}

/** One lineage record per completed work unit (bucket of the tile
  * keyspace): the checkpoint table the tiling job resumes from. */
case class LineageRow(snapshot: Long, bucket: Int, rows: Long, tiles: Long, committed_at: Long)

/**
 * Resumable tiling job: the tile keyspace is split into `buckets` cell
 * ranges; each bucket renders + writes independently and commits a
 * lineage row. A killed job re-runs only uncommitted buckets, so the
 * final tile set is exactly-once per bucket.
 */
object CheckpointedTiles {
  def lineageDir(out: String) = s"$out/_lineage"

  /** Buckets with a lineage row from ANY snapshot generation — file
    * presence only. For progress/monitoring against the live data,
    * use the snapshot-filtered overload: after the source advances, a
    * bucket's stale row still exists here while run()'s resume logic
    * correctly treats it as uncommitted and will re-render it. */
  def committed(out: String): Set[Int] = {
    val d = Paths.get(lineageDir(out))
    if (!Files.exists(d)) Set.empty
    else Snapshots.listNames(d)
      .map(_.getFileName.toString)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toInt).toSet
  }

  /** Buckets committed AT `snapshot` — the same generation filter
    * run()'s resume uses, so this is the honest completion signal. */
  def committed(out: String, snapshot: Long): Set[Int] =
    lineage(out).filter(_.snapshot == snapshot).map(_.bucket).toSet

  def lineage(out: String): Seq[LineageRow] = {
    val d = Paths.get(lineageDir(out))
    if (!Files.exists(d)) Nil
    else Snapshots.listNames(d).filter(_.toString.endsWith(".json")).map { p =>
      val t = Files.readString(p)
      def f(k: String) = s""""$k": (-?\\d+)""".r.findFirstMatchIn(t).get.group(1).toLong
      LineageRow(f("snapshot"), f("bucket").toInt, f("rows"), f("tiles"), f("committed_at"))
    }.sortBy(_.bucket)
  }

  /**
   * Render zoom `z` tiles of `snapshotRoot`'s current snapshot into
   * `out`, bucketed by level-L quadtree cell (L = bucketLevel, so
   * 4^L buckets). Each bucket reads its own cell range PLUS the ring of
   * neighboring level-L cells (so brush spill crosses bucket borders
   * correctly) but emits only tiles whose level-L ancestor is the
   * bucket — exactly-once per tile. Already-committed buckets are
   * skipped (resume). `failAtBucket` injects a crash for tests.
   * Returns the number of buckets run this invocation.
   */
  def run(spark: SparkSession, snapshotRoot: String, out: String, z: Int,
          mapbits: Int, bucketLevel: Int = 1,
          failAtBucket: Option[Int] = None): Int =
    // single writer per tileset: two concurrent resumers would race the
    // same uncommitted bucket's overwrite (interleaved part files from
    // two jobs) before the loser's ATOMIC_MOVE even fails; the lease's
    // post-run fence check fails THIS run loudly if a rival resumer
    // stale-stole the lease mid-run
    StateLease.withLease(out)(
      runLocked(spark, snapshotRoot, out, z, mapbits, bucketLevel, failAtBucket))

  private def runLocked(spark: SparkSession, snapshotRoot: String, out: String, z: Int,
                        mapbits: Int, bucketLevel: Int,
                        failAtBucket: Option[Int]): Int = {
    import graft.core.Cell
    require(z >= bucketLevel, "zoom must be at least the bucket level")
    val snap = Snapshots.currentSnapshot(snapshotRoot).getOrElse(0L)
    // resume ONLY buckets committed from THIS snapshot: if the snapshot
    // advanced since the crash, stale buckets re-render — otherwise a
    // resumed run silently mixes two data generations in one tileset
    val done = lineage(out).filter(_.snapshot == snap).map(_.bucket).toSet
    val L = bucketLevel
    val nSide = 1 << L
    var ran = 0
    val params = graft.core.RenderParams()
    // step-sampled zooms (z < dotBase) draw every step-th record by
    // GLOBAL rank: rank once over the whole snapshot (outside the
    // bucket loop, so every bucket sees the same total order) — a bare
    // (cell, meta) projection would make pointCmds' rank filter throw
    val needRank = params.pointParams(z)._1 > 1
    // read the SAME snapshot the lineage rows will record: re-reading
    // the pointer here would let a commit landing between the two reads
    // mis-stamp every bucket (rendered N+1 data, recorded N — a later
    // resume would then re-render the whole tileset as "stale"). The
    // empty-root case fails loudly HERE for the same reason: falling
    // back to a fresh pointer read would reopen the race for the very
    // first commit.
    if (snap == 0L)
      throw new IllegalStateException(
        s"no snapshot at $snapshotRoot — commit one before running the tiling job")
    val raw = Snapshots.read(spark, snapshotRoot, Some(snap))
    val table = if (needRank)
      graft.render.Render.withGlobalRank(raw.select(col("cell"), col("meta")))
    else raw
    val ptCols =
      if (needRank) Seq(col("cell"), col("meta"), col("rank"))
      else Seq(col("cell"), col("meta"))
    try {
    for (by <- 0 until nSide; bx <- 0 until nSide) {
      val b = by * nSide + bx
      if (!done.contains(b)) {
        if (failAtBucket.contains(b))
          throw new RuntimeException(s"injected failure at bucket $b")
        // input: the bucket's ring of level-L cells (spill sources)
        val ranges = Cell.kRing(L, bx, by, 1)
          .map { case (rx, ry) => (Cell.tileRangeLo(L, rx, ry), Cell.tileRangeHi(L, rx, ry)) }
        val cond = ranges.map { case (lo, hi) => col("cell").between(lo, hi) }.reduce(_ || _)
        val pts = table.filter(cond).select(ptCols: _*)
        // lineage row count covers the bucket's OWN cell range only —
        // counting the ring input would tally border rows in up to 9
        // buckets and make summed lineage rows useless as a
        // reconciliation signal
        val rows = table.filter(col("cell")
          .between(Cell.tileRangeLo(L, bx, by), Cell.tileRangeHi(L, bx, by))).count()
        // output: only tiles whose level-L ancestor is this bucket
        val shift = z - L
        val tiles = graft.render.Render
          .renderTiles(Some(pts), None, z, mapbits, params,
            requireOwn = true,
            only = Some((tx, ty) => (tx >> shift) == bx && (ty >> shift) == by))
          .cache()
        val nTiles = tiles.count()
        tiles.toDF().write.mode("overwrite").parquet(s"$out/bucket=$b")
        tiles.unpersist()
        val rec = s"""{"snapshot": $snap, "bucket": $b, "rows": $rows, "tiles": $nTiles, "committed_at": ${System.currentTimeMillis()}}"""
        // ONE atomic-commit idiom (Snapshots.write): tmp write +
        // ATOMIC_MOVE + REPLACE_EXISTING — the replace matters so a
        // resume after the snapshot advanced can overwrite the stale
        // $b.json on every filesystem provider
        Snapshots.write(s"${lineageDir(out)}/$b.json", rec)
        ran += 1
      }
    }
    } finally if (needRank) table.unpersist()
    ran
  }
}
