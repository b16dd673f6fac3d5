package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.media.Media
import graft.tables.ImageTable

/** The replay-safe contract of every persisted-state dedup stream —
  * image, text and WebCuration — as one table: a batch that
  * Spark replays under the same batchId (a crash between the sinks and
  * the commit) rewrites identical labels, merges and curated rows and
  * adds no index rows; flat-era sink files migrate to `batch=legacy`;
  * no checkpoint a micro-batch makes stays persisted after it. */
class StreamReplaySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Everything a stream leaves behind, as sorted row strings. */
  private case class Outputs(labels: Seq[String], merges: Seq[String],
                             curated: Seq[String], indexRows: Long)

  private def rows(dir: String): Seq[String] =
    if (!new java.io.File(dir).exists()) Nil
    else spark.read.parquet(dir).collect().map(_.toString).toSeq.sorted

  /** One persisted-state stream rooted at `base`, with catalog table `tbl`. */
  private abstract class Subject(val name: String) {
    def bootstrap(base: String, tbl: String): Unit
    def start(base: String, tbl: String, in: String, ckpt: String): StreamingQuery
    /** The two micro-batches: the second depends on the first's fold. */
    def feeds: Seq[StreamFixture => Unit]
    def labelsOut(base: String): String = s"$base/labels"
    def mergesOut(base: String): String = s"$base/merges"
    def curatedOut(base: String): Option[String] = None
    def indexRows(base: String, tbl: String): Long = spark.table(tbl).count()
    /** Label rows in this stream's schema, for the flat-era migration. */
    def legacyLabels: DataFrame

    def fixture(base: String, tbl: String): StreamFixture =
      new StreamFixture(base, (in, ckpt) => start(base, tbl, in, ckpt))
    def outputs(base: String, tbl: String): Outputs =
      Outputs(rows(labelsOut(base)), rows(mergesOut(base)),
        curatedOut(base).map(rows).getOrElse(Nil), indexRows(base, tbl))
  }

  // ---- image ----
  private val originals = (0L until 40L).map(i => ImageTable.row(55L, i))
  private def re(i: Int, tag: String) = {
    val o = originals(i)
    val img = Media.decode(o.image_id, o.bytes, o.w, o.h, o.fmt)
    o.copy(image_id = o.image_id + tag, bytes = Media.reencodePng(img), fmt = "png")
  }
  private def images(rs: Seq[graft.tables.ImageRow]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rs).toDF()
  }

  private val image = new Subject("image") {
    def bootstrap(base: String, tbl: String): Unit =
      Media.writeImageDedupState(images(originals.take(20)), s"$base/state", tbl, buckets = 4)
    def start(base: String, tbl: String, in: String, ckpt: String): StreamingQuery =
      streaming.StreamOps.incrementalDedupStream(
        spark.readStream.schema(images(originals.take(1)).schema).parquet(in),
        tbl, s"$base/state", 4, labelsOut(base), mergesOut(base), ckpt)
    def feeds: Seq[StreamFixture => Unit] = Seq(
      // fresh originals + a copy of a STATE image
      _.feed(images(originals.slice(20, 30) :+ re(3, "_s")), "b0"),
      // fresh originals + copies of a BATCH-0 image and a state image
      _.feed(images(originals.slice(30, 40) ++ Seq(re(25, "_t"), re(4, "_u"))), "b1"))
    def legacyLabels: DataFrame = {
      import spark.implicits._
      Seq(("legacy_img", "legacy_img")).toDF("image_id", "rep")
    }
  }

  // ---- text ----
  private def doc(family: Int, variant: Int): String = {
    val r = new scala.util.Random(family * 1000)
    val core = Seq.fill(40)("abcdefghijklmnopqrstuvwxyz".charAt(r.nextInt(26)).toString +
      (if (r.nextInt(4) == 0) " " else "")).mkString
    if (variant == 0) core else core + " v"
  }
  private def docs(rs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rs.toDF("doc_id", "text")
  }

  private val text = new Subject("text") {
    def bootstrap(base: String, tbl: String): Unit =
      graft.text.TextDedupState.writeTextDedupState(
        docs((0 until 6).map(i => (i.toLong, doc(i, 0)))), s"$base/state", tbl, buckets = 4)
    def start(base: String, tbl: String, in: String, ckpt: String): StreamingQuery =
      streaming.StreamOps.incrementalTextDedupStream(
        spark.readStream.schema(docs(Seq((0L, "x"))).schema).parquet(in),
        tbl, s"$base/state", 4, labelsOut(base), mergesOut(base), ckpt)
    def feeds: Seq[StreamFixture => Unit] = Seq(
      // a fresh doc, a near-dup of a state doc, another fresh doc
      _.feed(docs(Seq((50L, doc(50, 0)), (51L, doc(2, 1)), (52L, doc(52, 0)))), "b0"),
      // a near-dup of a batch-0 doc, an exact copy of a state doc, a fresh doc
      _.feed(docs(Seq((60L, doc(50, 1)), (61L, doc(3, 0)), (62L, doc(62, 0)))), "b1"))
    def legacyLabels: DataFrame = {
      import spark.implicits._
      Seq((9000L, 9000L)).toDF("doc_id", "rep")
    }
  }

  // ---- WebCuration ----
  private val web = new Subject("WebCuration") {
    import WebCurationSpec._
    private val d1 = "2024-04-01T00:00:00Z"
    def bootstrap(base: String, tbl: String): Unit =
      graft.text.TextDedupState.writeTextDedupState(
        docs(Nil), s"$base/state", tbl, buckets = 4)
    def start(base: String, tbl: String, in: String, ckpt: String): StreamingQuery =
      graft.pipelines.WebCuration.runStream(spark, in, s"$base/out", tbl,
        s"$base/state", buckets = 4, checkpointDir = ckpt)
    def feeds: Seq[StreamFixture => Unit] = Seq(
      // a keeper + a German page the funnel drops
      _.feed("b0")(warcFile(_, Seq(
        response("http://a.example.org/1", d1, s"<html><body>$coreA alpha</body></html>"),
        response("http://de.example.org/", d1,
          "<html><body>der schnelle tisch und die reihe der wert</body></html>")))),
      // an exact copy and a near-dup of the keeper, a new keeper
      _.feed("b1")(warcFile(_, Seq(
        response("http://mirror.example.org/copy", d1, s"<html><body>$coreA alpha</body></html>"),
        response("http://a.example.org/2", d1, s"<html><body>$coreA alpha v</body></html>"),
        response("http://b.example.org/", d1, s"<html><body>$coreB beta</body></html>")))))
    override def labelsOut(base: String): String = s"$base/out/labels"
    override def mergesOut(base: String): String = s"$base/out/merges"
    override def curatedOut(base: String): Option[String] = Some(s"$base/out/curated")
    def legacyLabels: DataFrame = {
      import spark.implicits._
      Seq((9000L, 9000L)).toDF("doc_id", "rep")
    }
  }

  private val subjects = Seq(image, text, web)

  /** Spark jobs launched by `f`, counted by a listener. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.TestBus.drain(sc)
      (r, n.get())
    } finally sc.removeSparkListener(l)
  }

  subjects.foreach { s =>
    test(s"${s.name} stream: replaying the last micro-batch rewrites identical outputs") {
      val base = java.nio.file.Files.createTempDirectory(s"replay_${s.name}").toString
      val tbl = s"replay_${s.name.toLowerCase}_bands"
      s.bootstrap(base, tbl)
      val fx = s.fixture(base, tbl)
      val jobs = s.feeds.map { feed => feed(fx); jobsOf(fx.runOnce()) }
      assert(jobs.map(_._1) == Seq(Seq(0L), Seq(1L)), s"one micro-batch per feed: $jobs")
      val before = s.outputs(base, tbl)
      assert(before.labels.nonEmpty && before.indexRows > 0)
      val ((last, ran), replayJobs) = jobsOf(fx.replayLast())
      assert(last == 1L && ran == Seq(1L), s"restart must replay batch $last, ran $ran")
      info(s"jobs per micro-batch: ${jobs.map(_._2).mkString(", ")}; replay: $replayJobs")
      val after = s.outputs(base, tbl)
      assert(after.labels == before.labels, "replayed labels differ")
      assert(after.merges == before.merges, "replayed merges differ")
      assert(after.curated == before.curated, "replayed curated rows differ")
      assert(after.indexRows == before.indexRows, "replay added index rows")
    }
  }

  subjects.foreach { s =>
    test(s"${s.name} stream: three micro-batches release every checkpoint they make") {
      val base = java.nio.file.Files.createTempDirectory(s"release_${s.name}").toString
      val tbl = s"release_${s.name.toLowerCase}_bands"
      s.bootstrap(base, tbl)
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      val fx = s.fixture(base, tbl)
      s.feeds.foreach { feed => feed(fx); fx.runOnce() }
      val (_, ran) = fx.replayLast()
      assert(ran.nonEmpty, "the replay ran no micro-batch")
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      assert(left.isEmpty, "checkpoint RDDs still persisted after 3 micro-batches:\n" +
        left.map(sc.getPersistentRDDs(_).toDebugString).mkString("\n"))
    }
  }

  subjects.foreach { s =>
    test(s"${s.name} stream: flat-era label files migrate to batch=legacy") {
      val base = java.nio.file.Files.createTempDirectory(s"flat_${s.name}").toString
      val tbl = s"flat_${s.name.toLowerCase}_bands"
      s.bootstrap(base, tbl)
      // a sink written by the old flat-append layout: part files at its root
      val out = s.labelsOut(base)
      s.legacyLabels.coalesce(1).write.parquet(s"$base/legacy_stage")
      val flat = new java.io.File(s"$base/legacy_stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.copy(flat.toPath, java.nio.file.Paths.get(out, flat.getName))
      val fx = s.fixture(base, tbl)
      s.feeds.head(fx); fx.runOnce()
      assert(new java.io.File(s"$out/batch=legacy/${flat.getName}").exists(),
        "flat file did not move under batch=legacy")
      assert(!new java.io.File(s"$out/${flat.getName}").exists())
      val got = spark.read.parquet(out)
      val batches = got.select(col("batch").cast("string")).distinct().collect()
        .map(_.getString(0)).toSet
      assert(batches == Set("legacy", "0"), s"batches read back: $batches")
      assert(got.filter(col("batch") === "legacy").count() == 1)
      assert(got.filter(col("batch") === "0").count() > 0)
    }
  }
}
