package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.media.Media
import graft.tables.ImageTable
import graft.text.TextDedupState

/**
 * End-to-end crash recovery for the incremental dedup state, BOTH
 * modalities: a writer dies right after its append (band rows landed,
 * the batch's labels never reached the caller's sink, its lease file
 * left behind with a dead heartbeat), the retrying driver's next
 * attempt steals the stale lease after the timeout and replays the
 * WHOLE batch (incremental resolve + append). The recovered state must
 * equal a never-crashed run exactly: no duplicate band rows (the
 * md5/dhash presence check makes the replayed append a no-op), the
 * never-crashed run's labels, lease released. The lease-steal and
 * stream-replay idempotency are tested separately (StateLeaseSpec,
 * StreamReplaySpec); this spec exercises the full recovery path in one
 * story — plus the crash-restore contract of the low-zoom tile swap.
 */
class CrashRecoverySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Leftover lease of a crashed writer: file present, token nobody
    * holds, mtime past the lease window (heartbeat dead). */
  private def plantStaleLease(dir: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(dir, ".writer_lease")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, "dead-writer-token")
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 20 * 60 * 1000L))
    p
  }

  // -------- text --------

  private def textDoc(family: Int, variant: Int): String = {
    val r = new scala.util.Random(family * 1000)
    val core = Seq.fill(40)("abcdefghijklmnopqrstuvwxyz".charAt(r.nextInt(26)).toString +
      (if (r.nextInt(4) == 0) " " else "")).mkString
    if (variant == 0) core else core + " v"
  }

  private def textDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("text: kill mid-append, steal stale lease, replay batch -> state equals never-crashed run") {
    val a = (0 until 10).map(i => (i.toLong, textDoc(i, 0)))
    val b = (20 until 26).map(i => (i.toLong, textDoc(i, 0))) ++
      Seq((200L, textDoc(3, 1))) // boundary near-dup of an A doc
    val base = java.nio.file.Files.createTempDirectory("crashtext").toString

    // reference: the never-crashed run
    val refTbl = "crash_text_ref"
    val refA = TextDedupState.writeTextDedupState(textDf(a), s"$base/ref", refTbl, buckets = 4)
    val refB = TextDedupState.prepare(textDf(b))
    val (refBl, _) = TextDedupState.incrementalTextDedup(refB, refTbl)
    TextDedupState.appendTextDedupState(refB, refBl, refTbl, s"$base/ref", buckets = 4)

    // crashing run: same batches
    val tbl = "crash_text_crashed"
    val stA = TextDedupState.writeTextDedupState(textDf(a), s"$base/st", tbl, buckets = 4)
    val pb = TextDedupState.prepare(textDf(b))
    val (bl, _) = TextDedupState.incrementalTextDedup(pb, tbl)
    // CRASH: bands appended, labels never landed, stale lease left over
    TextDedupState.appendTextDedupState(pb, bl, tbl, s"$base/st", buckets = 4)
    val lease = plantStaleLease(s"$base/st")

    // RECOVERY: driver retries the whole batch; acquire() must steal
    val pbR = TextDedupState.prepare(textDf(b))
    val (blR, _) = TextDedupState.incrementalTextDedup(pbR, tbl)
    def labels(d: DataFrame): Map[Long, Long] =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(blR) == labels(bl),
      "replayed incremental resolve diverged from the pre-crash resolve")
    TextDedupState.appendTextDedupState(pbR, blR, tbl, s"$base/st", buckets = 4)
    assert(!java.nio.file.Files.exists(lease), "recovery writer leaked its lease")

    // recovered state == never-crashed state (bands as a multiset, labels as a set)
    def bandRows(t: String): Seq[(Int, Long, String, Long)] =
      spark.table(t).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq.sorted
    assert(bandRows(tbl) == bandRows(refTbl),
      "recovered band index differs from the never-crashed run")
    assert(labels(stA) ++ labels(blR) == labels(refA) ++ labels(refBl),
      "recovered labels differ from the never-crashed run")

    // and the NEXT batch behaves identically on both states
    val c = Seq((300L, textDoc(22, 1))) // near-dup of a batch-B doc
    val (clRec, _) = TextDedupState.incrementalTextDedup(TextDedupState.prepare(textDf(c)), tbl)
    val (clRef, _) = TextDedupState.incrementalTextDedup(TextDedupState.prepare(textDf(c)), refTbl)
    assert(clRec.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      clRef.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  // -------- image --------

  test("image: kill mid-append, steal stale lease, replay batch -> state equals never-crashed run") {
    import spark.implicits._
    val originals = (0L until 30L).map(i => ImageTable.row(99L, i))
    def re(i: Int, tag: String) = {
      val o = originals(i)
      val img = Media.decode(o.image_id, o.bytes, o.w, o.h, o.fmt)
      o.copy(image_id = o.image_id + tag, bytes = Media.reencodePng(img), fmt = "png")
    }
    val aRows = originals.take(20)
    val bRows = originals.drop(20) ++ Seq(re(5, "_rb")) // boundary dup of an A image
    val base = java.nio.file.Files.createTempDirectory("crashimage").toString

    val refTbl = "crash_img_ref"
    val refA = Media.writeImageDedupState(spark.createDataset(aRows).toDF(), s"$base/ref", refTbl, buckets = 4)
    val (refBl, _) = Media.incrementalImageDedup(Media.dedupIds(spark.createDataset(bRows).toDF()), refTbl)
    Media.appendImageDedupState(Media.dedupIds(spark.createDataset(bRows).toDF()), refBl, refTbl, s"$base/ref", buckets = 4)

    val tbl = "crash_img_crashed"
    val stA = Media.writeImageDedupState(spark.createDataset(aRows).toDF(), s"$base/st", tbl, buckets = 4)
    val (bl, _) = Media.incrementalImageDedup(Media.dedupIds(spark.createDataset(bRows).toDF()), tbl)
    // CRASH: bands appended, labels never landed, stale lease left over
    Media.appendImageDedupState(
      Media.dedupIds(spark.createDataset(bRows).toDF()), bl, tbl, s"$base/st", buckets = 4)
    val lease = plantStaleLease(s"$base/st")

    // RECOVERY: replay the whole batch
    val (blR, _) = Media.incrementalImageDedup(Media.dedupIds(spark.createDataset(bRows).toDF()), tbl)
    def labels(d: DataFrame): Map[String, String] =
      d.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels(blR) == labels(bl),
      "replayed incremental resolve diverged from the pre-crash resolve")
    Media.appendImageDedupState(Media.dedupIds(spark.createDataset(bRows).toDF()), blR, tbl, s"$base/st", buckets = 4)
    assert(!java.nio.file.Files.exists(lease), "recovery writer leaked its lease")

    def bandRows(t: String): Seq[(Long, Long, Long, String)] =
      spark.table(t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq.sorted
    assert(bandRows(tbl) == bandRows(refTbl),
      "recovered band index differs from the never-crashed run")
    assert(labels(stA) ++ labels(blR) == labels(refA) ++ labels(refBl),
      "recovered labels differ from the never-crashed run")
  }

  // -------- low-zoom tile swap (StreamOps.refreshLowZooms) --------

  /** The tiles dir of a refresh that crashed: `.lowzoom.old/<z>/0/0.png`
    * holding the bytes `old-<z>` for each of `oldZooms`, no live zoom
    * dirs, plus the `.lowzoom.swapping` marker when the crash hit
    * mid-swap. refreshLowZooms then runs against a MISSING snapshot
    * dir, so its repair step runs and the render after it fails. */
  private def crashedRefresh(oldZooms: Seq[Int], midSwap: Boolean,
                             requested: Seq[Int]): java.nio.file.Path = {
    import java.nio.file.Files
    val tiles = Files.createTempDirectory("lowzoomcrash")
    oldZooms.foreach { z =>
      val t = tiles.resolve(s".lowzoom.old/$z/0/0.png")
      Files.createDirectories(t.getParent)
      Files.write(t, s"old-$z".getBytes("UTF-8"))
    }
    if (midSwap) Files.createFile(tiles.resolve(".lowzoom.swapping"))
    intercept[org.apache.spark.sql.AnalysisException] {
      graft.streaming.StreamOps.refreshLowZooms(spark, tiles.resolve("no_snapshot").toString,
        tiles.toString, requested, 48, graft.core.RenderParams())
    }
    assert(!Files.exists(tiles.resolve(".lowzoom.old")) &&
      !Files.exists(tiles.resolve(".lowzoom.swapping")), "repair left the old tree behind")
    tiles
  }

  private def tileText(tiles: java.nio.file.Path, z: Int): String =
    new String(java.nio.file.Files.readAllBytes(tiles.resolve(s"$z/0/0.png")), "UTF-8")

  test("low-zoom swap crashed mid-swap: a requested zoom comes back with its old bytes") {
    val tiles = crashedRefresh(Seq(3), midSwap = true, requested = Seq(3))
    assert(tileText(tiles, 3) == "old-3")
  }

  test("low-zoom swap crashed mid-swap: a zoom no longer requested is not resurrected") {
    val tiles = crashedRefresh(Seq(2, 3), midSwap = true, requested = Seq(3))
    assert(tileText(tiles, 3) == "old-3")
    assert(!java.nio.file.Files.exists(tiles.resolve("2")),
      "a zoom outside the requested set came back as an orphan tile dir")
  }

  test("low-zoom .old tree without the swap marker is litter: nothing is restored") {
    val tiles = crashedRefresh(Seq(3), midSwap = false, requested = Seq(3))
    assert(!java.nio.file.Files.exists(tiles.resolve("3")),
      "a completed swap's replaced generation was resurrected")
  }
}
