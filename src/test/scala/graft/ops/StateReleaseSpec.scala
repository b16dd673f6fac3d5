package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.media.Media
import graft.tables.ImageTable
import graft.text.TextDedupState

/** The batch state builds free every checkpoint they make except the
  * one the caller gets back: the persisted-RDD set after a call holds
  * exactly one new entry (the returned labels, or Components' last
  * round, which its labels read). */
class StateReleaseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` and returns its result with the ids of the RDDs it
    * left persisted. */
  private def leftBy[T](body: => T): (T, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = body
    (out, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  private def describe(ids: Set[Int]): String =
    ids.map(spark.sparkContext.getPersistentRDDs(_).toDebugString).mkString("\n")

  private def base(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("writeImageDedupState keeps only the returned labels' checkpoint") {
    import spark.implicits._
    val originals = (0L until 24L).map(i => ImageTable.row(91L, i))
    // re-encoded copies: exact-copy star edges, so components run
    val copies = originals.take(6).map { o =>
      val img = Media.decode(o.image_id, o.bytes, o.w, o.h, o.fmt)
      o.copy(image_id = o.image_id + "_re", bytes = Media.reencodePng(img), fmt = "png")
    }
    val images: DataFrame = spark.createDataset(originals ++ copies).toDF()
    val (labels, left) = leftBy(
      Media.writeImageDedupState(images, s"${base("img_release")}/state", "img_release_bands", buckets = 4))
    assert(left.size == 1, s"${left.size} RDDs left persisted:\n${describe(left)}")
    val reps = labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(reps.size == originals.size + copies.size)
    copies.foreach(c => assert(reps(c.image_id) == reps(c.image_id.stripSuffix("_re"))))
  }

  test("writeTextDedupState keeps only the returned labels' checkpoint") {
    import spark.implicits._
    def doc(family: Int, variant: Int): String = {
      val r = new scala.util.Random(family * 7919L)
      val core = Seq.fill(60)("abcdefghijklmnopqrstuvwxyz".charAt(r.nextInt(26)).toString +
        (if (r.nextInt(4) == 0) " " else "")).mkString
      if (variant == 0) core else core + " v"
    }
    // families of an original, a near-dup and an exact copy: md5 star
    // edges plus collided LSH buckets
    val docs = (0 until 8).flatMap { f =>
      Seq((f * 10L, doc(f, 0)), (f * 10L + 1, doc(f, 1)), (f * 10L + 2, doc(f, 0)))
    }.toDF("doc_id", "text")
    val (labels, left) = leftBy(
      TextDedupState.writeTextDedupState(docs, s"${base("txt_release")}/state", "txt_release_bands", buckets = 4))
    assert(left.size == 1, s"${left.size} RDDs left persisted:\n${describe(left)}")
    val reps = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps.size == docs.count())
    (0 until 8).foreach(f => assert(reps(f * 10L + 2) == reps(f * 10L)))
  }

  test("distributed connected components keep only the last round's checkpoint") {
    import spark.implicits._
    // a long chain plus two stars: several star rounds, each making two
    // re-parent maps
    val edges = ((0L until 40L).map(i => (i, i + 1)) ++
      (101L to 130L).map(i => (100L, i)) ++ (201L to 220L).map(i => (i, 200L))).toDF("a", "b")
    val ((labels, stats), left) = leftBy(
      Components.connectedComponentsWithStats(edges, smallGraphEdges = 0))
    assert(stats.size >= 2, s"only ${stats.size} rounds ran")
    assert(left.size == 1, s"${left.size} RDDs left persisted:\n${describe(left)}")
    val reps = labels.as[(Long, Long)].collect().toMap
    assert((0L to 40L).forall(reps(_) == 0L))
    assert((100L to 130L).forall(reps(_) == 100L))
    assert((200L to 220L).forall(reps(_) == 200L))
  }
}
