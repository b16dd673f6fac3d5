package graft.render

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Global rank: a (cell, meta)-sorted parquet table is ranked in place
  * (file offset + row index, no shuffle); every other input, and every
  * sorted-looking input whose rows turn out not to be sorted, is ranked
  * by the range shuffle. Either way rank i holds the i-th (cell, meta)
  * of the sorted rows. The path taken is observed with a SparkListener:
  * the in-place write runs no shuffle stage, the shuffle path does. */
class RankSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private type Key = (Long, Long)

  /** A new directory holding one parquet file per non-empty element of
    * `files`, each file's rows in the order given. */
  private def writeFiles(files: Seq[Seq[Key]], emptyFile: Boolean = false): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("rank").toString + "/a b%20"
    // an empty frame writes one schema-only file
    if (emptyFile) Seq.empty[Key].toDF("cell", "meta").write.parquet(dir)
    if (files.nonEmpty)
      spark.sparkContext.parallelize(files, files.size).flatMap(identity)
        .toDF("cell", "meta").write.mode("append").parquet(dir)
    dir
  }

  private def scan(dir: String): DataFrame =
    spark.read.parquet(dir).select(col("cell"), col("meta"))

  /** What a Spark action did, counted by a listener. */
  private case class Run(jobs: Int, stages: Int, tasks: Long, shuffleRecords: Long)

  private def observed(f: => Unit): Run = {
    val jobs, stages = new AtomicInteger
    val tasks, shuffle = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks.toLong)
        val m = e.stageInfo.taskMetrics
        if (m != null) shuffle.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      f
      org.apache.spark.TestBus.drain(sc)
      Run(jobs.get, stages.get, tasks.get, shuffle.get)
    } finally sc.removeSparkListener(l)
  }

  /** (cell, meta) at rank 0, 1, ...; fails if the ranks are not exactly
    * 0 until n. */
  private def byRank(ranked: DataFrame): Seq[Key] = {
    import spark.implicits._
    val rows = ranked.select(col("rank"), col("cell"), col("meta")).as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(rows.map(_._1) == rows.indices.map(_.toLong), "ranks are not 0 until n")
    rows.map(r => (r._2, r._3))
  }

  /** Rank `points` into a snapshot; (cell, meta) by rank and the run. */
  private def snapshot(points: DataFrame): (Seq[Key], Run) = {
    val out = Files.createTempDirectory("ranked").toString + "/r"
    val run = observed(Render.writeRankedSnapshot(points, out))
    (byRank(Render.readRankedSnapshot(spark, out)), run)
  }

  private def assertInPlace(run: Run): Unit = {
    assert(run.shuffleRecords == 0, s"in-place rank shuffled: $run")
    assert(run.stages == run.jobs && run.jobs <= 2, s"in-place rank ran more than 2 one-stage jobs: $run")
  }

  private def assertShuffled(run: Run): Unit =
    assert(run.shuffleRecords > 0, s"rank did not take the shuffle path: $run")

  /** Keys with many ties: a few small cells, the extremes, and any Long. */
  private val key: Gen[Key] = for {
    cell <- Gen.frequency(4 -> Gen.choose(-4L, 4L), 1 -> Gen.oneOf(Long.MinValue, Long.MaxValue),
      1 -> Gen.choose(Long.MinValue, Long.MaxValue))
    meta <- Gen.choose(0L, 3L)
  } yield (cell, meta)

  /** Sorted rows cut into 1-4 consecutive files (some possibly empty, and
    * a cut may fall inside a run of equal cells). */
  private val sortedFiles: Gen[(Seq[Key], Seq[Seq[Key]])] = for {
    rows <- Gen.listOf(key)
    k <- Gen.choose(1, 4)
    cuts <- Gen.listOfN(k - 1, Gen.choose(0, rows.size))
  } yield {
    val s = rows.sorted
    val bounds = 0 +: cuts.sorted :+ s.size
    (s, bounds.zip(bounds.drop(1)).map { case (a, b) => s.slice(a, b) })
  }

  test("property: in-place and shuffle ranks hold the same (cell, meta) at every rank") {
    val prop = Prop.forAllNoShrink(sortedFiles) { case (rows, files) =>
      val dir = writeFiles(files)
      val (inPlace, run) = snapshot(scan(dir))
      val (shuffled, _) = snapshot(scan(dir).repartition(3))
      Prop(inPlace == rows) :| s"in-place ranks differ from the sorted rows over ${files.map(_.size)}" &&
        Prop(shuffled == inPlace) :| "shuffle and in-place ranks differ" &&
        Prop(run.shuffleRecords == 0) :| s"a sorted table was not ranked in place: $run"
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(12).withMaxSize(200)
      .withInitialSeed(Seed(20261020L)).withWorkers(1)
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("withGlobalRank ranks a sorted table in place, matching the shuffle path") {
    val rows = (0 until 500).map(i => ((i / 7).toLong - 30, (i % 7).toLong))
    val dir = writeFiles(rows.grouped(120).toSeq)
    var ranked: DataFrame = null
    val run = observed { ranked = Render.withGlobalRank(scan(dir)) }
    try {
      assert(run.shuffleRecords < rows.size, s"in-place withGlobalRank shuffled its rows: $run")
      assert(byRank(ranked) == rows)
    } finally ranked.unpersist()
    val shuffled = Render.withGlobalRank(scan(dir).filter(col("cell") > Long.MinValue))
    try assert(byRank(shuffled) == rows) finally shuffled.unpersist()
  }

  /** Inputs the in-place path must not keep: (name, files), each ranked
    * right by the shuffle path. */
  private val fallbacks: Seq[(String, Seq[Seq[Key]])] = Seq(
    "a file unsorted inside" -> Seq(Seq((1L, 0L), (3L, 0L), (2L, 0L)), Seq((10L, 0L), (11L, 1L))),
    "overlapping files" -> Seq(Seq((1L, 0L), (5L, 0L)), Seq((3L, 0L), (7L, 0L))),
    "an equal cell at a file boundary with meta out of order" ->
      Seq(Seq((1L, 0L), (5L, 3L)), Seq((5L, 1L), (9L, 0L))))

  fallbacks.foreach { case (name, files) =>
    test(s"$name takes the shuffle path and ranks correctly") {
      val (ranks, run) = snapshot(scan(writeFiles(files)))
      assertShuffled(run)
      assert(ranks == files.flatten.sorted)
    }
  }

  test("an empty file is skipped: the rest ranks in place") {
    val files = Seq(Seq((1L, 0L), (2L, 0L)), Seq((2L, 1L), (8L, 0L)))
    val (ranks, run) = snapshot(scan(writeFiles(files, emptyFile = true)))
    assertInPlace(run)
    assert(ranks == files.flatten)
  }

  test("a non-scan input takes the shuffle path and ranks correctly") {
    import spark.implicits._
    val rows = Seq((4L, 1L), (-2L, 0L), (4L, 0L), (9L, 9L))
    val dir = writeFiles(Seq(rows.sorted))
    Seq(rows.toDF("cell", "meta"), scan(dir).filter(col("meta") >= 0L), scan(dir).repartition(2))
      .foreach { points =>
        val (ranks, run) = snapshot(points)
        assertShuffled(run)
        assert(ranks == rows.sorted)
      }
  }

  test("a file read in several splits ranks in place") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(20000)((rnd.nextLong(), rnd.nextInt(4).toLong)).sorted
    import spark.implicits._
    val dir = Files.createTempDirectory("rank").toString + "/a b%20"
    rows.toDF("cell", "meta").coalesce(1).write.option("parquet.block.size", "8192").parquet(dir)
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "16384")
    val (ranks, run) = try snapshot(scan(dir)) finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assertInPlace(run)
    assert(run.tasks > 1, s"the file was read in one split: $run")
    assert(ranks == rows)
  }
}
