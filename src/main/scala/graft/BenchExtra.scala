package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{col, lit, pmod, shiftleft, xxhash64}

/**
 * Measurement-only companion to [[Bench]] (guide §1.4 noop-sink
 * isolation; §1.5 job labeling). NOT part of the driver contract —
 * Bench.scala stays the frozen harness; this main exists so
 * optimization rounds can (a) time each declared query against the
 * noop sink in isolation, with per-query job/stage/shuffle telemetry
 * from a SparkListener, and (b) dump each query's `.explain("formatted")`
 * plan to `plans/<tag>/<q>.txt` and its generated Java to
 * `plans/<tag>/<q>.codegen.txt`, so two tags diff in one command.
 *
 * Usage (same env contract as Bench):
 *   runMain graft.BenchExtra explain <dirTag> [query...]
 *   runMain graft.BenchExtra time [query...]
 *   runMain graft.BenchExtra jobs <query>
 *   runMain graft.BenchExtra rank <sortedDir> [reps]
 *   runMain graft.BenchExtra read [table] [reps]
 *   runMain graft.BenchExtra dedup [rows] [reps] [--hot N]
 */
object BenchExtra {
  /** Cumulative counters a query run drains: jobs launched, stages run,
    * tasks, shuffle write bytes, input bytes, executor run time. */
  private class Probe extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val input = new java.util.concurrent.atomic.AtomicLong
    val runTimeMs = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks.toLong)
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
        runTimeMs.addAndGet(m.executorRunTime)
      }
    }
    def snap(): (Long, Long, Long, Long, Long, Long) =
      (jobs.get, stages.get, tasks.get, shuffleWrite.get, input.get, runTimeMs.get)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The pyramid's encode step: 60k generated image rows (seed 7),
    * geotagged to (cell, meta) and written range-partitioned and sorted
    * on (cell, meta), one file per range. */
  private def writeSorted(spark: SparkSession, dir: String, cpus: Int): Unit =
    graft.tables.ImageTable.generate(spark, 60000L, 7L, partitions = cpus * 2).select(
      graft.functions.geotag_cell(col("phash")).as("cell"),
      col("phash").bitwiseAND(lit(0xFFL)).as("meta"))
      .repartitionByRange(cpus * 2, col("cell"))
      .sortWithinPartitions(col("cell"), col("meta"))
      .write.parquet(dir)

  /** perfbench's dedup input: `rows` generated image rows (seed 7) plus
    * a same-pixels PNG copy (`<id>_re`) of every 50th, as parquet. */
  private def writeDedupInput(spark: SparkSession, dir: String, rows: Long, cpus: Int): Unit = {
    import spark.implicits._
    val imgs = graft.tables.ImageTable.generate(spark, rows, 7L, partitions = cpus * 2)
      .select("image_id", "bytes", "w", "h", "fmt")
    val copies = imgs.filter(pmod(xxhash64(col("image_id")), lit(50)) === 0)
      .as[(String, Array[Byte], Int, Int, String)]
      .map { case (id, b, w, h, fmt) =>
        (id + "_re", graft.media.Media.reencodePng(graft.media.Media.decode(id, b, w, h, fmt)), w, h, "png")
      }.toDF("image_id", "bytes", "w", "h", "fmt")
    imgs.unionByName(copies).write.parquet(dir)
  }

  /** `n` (nid, dhash) rows whose distinct hashes all share quarters 0
    * and 1: one level-1 bucket (band 0) holds every one of them. */
  private def hotBucket(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("nid"),
      lit(0x5A5AA5A5L).bitwiseOR(
        shiftleft((col("id") * 0x9E3779B1L).bitwiseAND(lit(0xFFFFFFFFL)), 32)).as("dhash"))

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val mode = if (args.nonEmpty) args(0) else "time"
    val rest = args.drop(1).toSeq

    mode match {
      case "explain" =>
        val tag = rest.headOption.getOrElse("r08")
        val names = if (rest.length > 1) rest.drop(1) else SparkEntry.queries.keys.toSeq.sorted
        val dir = java.nio.file.Paths.get(s"/root/repo/plans/$tag")
        java.nio.file.Files.createDirectories(dir)
        names.foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(dir.resolve(s"$name.txt"), txt)
          // AQE plans its stages only as they run, so an unexecuted
          // adaptive plan has no generated code: plan the codegen dump
          // with AQE off to show every stage's Java
          val aqe = spark.conf.get("spark.sql.adaptive.enabled")
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          val codegen = try SparkEntry.queries(name)(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("codegen"))
          finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
          java.nio.file.Files.writeString(dir.resolve(s"$name.codegen.txt"), codegen)
          println(s"explained $name -> plans/$tag/$name{,.codegen}.txt")
        }
      case "time" =>
        val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
        val probe = new Probe
        spark.sparkContext.addSparkListener(probe)
        println("name,sec1,sec2,jobs,stages,tasks,shuffle_mb,input_mb,runtime_s")
        names.foreach { name =>
          spark.sparkContext.setJobDescription(s"benchextra: $name")
          def once(): Double = {
            val t0 = System.nanoTime()
            noop(SparkEntry.queries(name)(spark, sfDir))
            (System.nanoTime() - t0) / 1e9
          }
          val s1 = once()
          // drain the async listener bus BEFORE snapping the baseline,
          // or the warm pass's late stage events land inside the
          // measured window and inflate every counter
          Thread.sleep(200)
          val before = probe.snap()
          val s2 = once()
          Thread.sleep(200)
          val after = probe.snap()
          val (j, st, tk) = (after._1 - before._1, after._2 - before._2, after._3 - before._3)
          val shMb = (after._4 - before._4) / 1e6
          val inMb = (after._5 - before._5) / 1e6
          val rtS = (after._6 - before._6) / 1e3
          println(f"$name,$s1%.3f,$s2%.3f,$j,$st,$tk,$shMb%.1f,$inMb%.1f,$rtS%.1f")
        }
      case "jobs" =>
        // per-JOB wall breakdown of one query (guide §7.1 without a UI):
        // prints each Spark job's duration + stage/task counts so the
        // serial action structure of a multi-job operator is visible
        val name = rest.head
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
        val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(j: SparkListenerJobStart): Unit =
            starts.put(j.jobId, (System.nanoTime(), j.stageInfos.map(_.numTasks).sum))
          override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val s = starts.get(j.jobId)
            if (s != null)
              lines.add(f"job ${j.jobId}%3d ${(System.nanoTime() - s._1) / 1e9}%7.3f s  tasks=${s._2}")
          }
        })
        // warm pass, then the measured pass
        noop(SparkEntry.queries(name)(spark, sfDir))
        lines.clear()
        val t0 = System.nanoTime()
        noop(SparkEntry.queries(name)(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        lines.forEach(l => println(l))
        println(f"total $name: $wall%.3f s")
      case "rank" =>
        // the rank layer alone: writeRankedSnapshot on a sorted table (the
        // in-place path) and on the same rows behind a repartition (the
        // shuffle path, chosen by the plan's shape); rep 0 warms up
        val sorted = rest.headOption.getOrElse(sys.error("rank: <sortedDir> required"))
        val reps = rest.lift(1).map(_.toInt).getOrElse(5)
        require(reps >= 1, "rank: reps must be at least 1")
        if (!new java.io.File(sorted).exists()) writeSorted(spark, sorted, cpus)
        val out = java.nio.file.Files.createTempDirectory("benchextra-rank").toString
        val probe = new Probe
        spark.sparkContext.addSparkListener(probe)
        // a fresh frame per rep: a reused one would reuse the repartition's
        // shuffle files and hide part of the shuffle path's cost
        def input(name: String): DataFrame = {
          val points = spark.read.parquet(sorted).select(col("cell"), col("meta"))
          if (name == "sorted") points else points.repartition(cpus)
        }
        val inputs = Seq("sorted", "repartitioned")
        val walls = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
        println("input,rep,wall_s,jobs,shuffle_mb,path")
        for (rep <- 0 to reps; name <- inputs) {
          val df = input(name)
          Thread.sleep(200)
          val before = probe.snap()
          val t0 = System.nanoTime()
          graft.render.Render.writeRankedSnapshot(df, s"$out/$name")
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200)
          val after = probe.snap()
          val shuffle = after._4 - before._4
          if (rep > 0) walls(name) :+= wall
          println(f"$name,$rep,$wall%.3f,${after._1 - before._1},${shuffle / 1e6}%.2f," +
            (if (shuffle == 0) "in-place" else "shuffle"))
        }
        inputs.foreach { name =>
          println(f"median $name: ${walls(name).sorted.apply(walls(name).size / 2)}%.3f s over $reps reps")
        }
      case "read" =>
        // one table read two ways: spark.read.parquet (listing + schema
        // inference job + relation resolution every time) and
        // Bridge.parquetTable (resolved once per session); rep 0 warms up
        val table = rest.headOption.getOrElse(s"$sfDir/lineitem.parquet")
        val reps = rest.lift(1).map(_.toInt).getOrElse(20)
        require(reps >= 1, "read: reps must be at least 1")
        val probe = new Probe
        spark.sparkContext.addSparkListener(probe)
        val reads = Seq[(String, () => DataFrame)](
          "inferred" -> (() => spark.read.parquet(table)),
          "memoized" -> (() => org.apache.spark.sql.graft.Bridge.parquetTable(spark, table)))
        val stats = scala.collection.mutable.Map.empty[String, Seq[(Double, Long)]].withDefaultValue(Nil)
        for (rep <- 0 to reps; (name, read) <- reads) {
          Thread.sleep(50)
          val before = probe.snap()
          val t0 = System.nanoTime()
          read().queryExecution.analyzed
          val ms = (System.nanoTime() - t0) / 1e6
          Thread.sleep(200)
          if (rep > 0) stats(name) :+= ((ms, probe.snap()._1 - before._1))
        }
        println("read,median_ms,jobs_per_read")
        reads.foreach { case (name, _) =>
          val xs = stats(name)
          println(f"$name,${xs.map(_._1).sorted.apply(xs.size / 2)}%.2f,${xs.map(_._2).sum.toDouble / xs.size}%.2f")
        }
      case "dedup" =>
        // the image dedup chain step by step (decode -> edges ->
        // components -> names) on perfbench's dedup input, or with
        // --hot N the edge pass alone over one level-1 bucket of N
        // distinct hashes, whose recursion one task owns; rep 0 warms up
        val hotAt = rest.indexOf("--hot")
        val hot = if (hotAt < 0) None
          else Some(rest.lift(hotAt + 1).getOrElse(sys.error("dedup: --hot needs N")).toLong)
        val pos = if (hotAt < 0) rest else rest.patch(hotAt, Nil, 2)
        val rows = pos.headOption.map(_.toLong).getOrElse(12000L)
        val reps = pos.lift(1).map(_.toInt).getOrElse(5)
        require(reps >= 1, "dedup: reps must be at least 1")
        val probe = new Probe
        val maxTaskMs = new java.util.concurrent.atomic.AtomicLong
        spark.sparkContext.addSparkListener(probe)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            maxTaskMs.accumulateAndGet(t.taskInfo.duration, math.max)
        })
        val walls = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(Double, Long)]]
        def step[T](rep: Int, name: String)(body: => T): T = {
          Thread.sleep(200)
          val before = probe.snap()
          maxTaskMs.set(0)
          val t0 = System.nanoTime()
          val out = body
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200)
          val jobs = probe.snap()._1 - before._1
          if (rep > 0) walls(name) = walls.getOrElse(name, Nil) :+ ((wall, jobs))
          println(f"$name,$rep,$wall%.3f,$jobs,${maxTaskMs.get}")
          out
        }
        println("step,rep,wall_s,jobs,max_task_ms")
        hot match {
          case Some(n) =>
            val ids = hotBucket(spark, n).localCheckpoint(true)
            for (rep <- 0 to reps)
              step(rep, s"edges_hot$n")(noop(graft.media.Media.dupEdges(ids, maxHamming = 2)._1))
          case None =>
            val tmp = java.nio.file.Files.createTempDirectory("benchextra-dedup").toFile
            val dir = s"$tmp/input"
            writeDedupInput(spark, dir, rows, cpus)
            try for (rep <- 0 to reps) {
              val input = spark.read.parquet(dir)
              val ids = step(rep, "decode")(graft.media.Media.dedupIds(input))
              val edges = step(rep, "edges")(
                graft.media.Media.dupEdges(ids, maxHamming = 2)._1.localCheckpoint(true))
              val labels = step(rep, "components")(
                graft.ops.Components.connectedComponents(edges).withColumnRenamed("node", "nid"))
              step(rep, "names")(graft.media.Media.resolveNames(ids, labels)
                .filter(col("image_id") =!= col("rep")).count())
            } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
        }
        walls.foreach { case (name, xs) =>
          println(f"median $name: ${xs.map(_._1).sorted.apply(xs.size / 2)}%.3f s, " +
            f"${xs.map(_._2).sum.toDouble / xs.size}%.1f jobs over $reps reps")
        }
      case other =>
        sys.error(s"unknown BenchExtra mode '$other' (use explain|time|jobs|rank|read|dedup)")
    }
    spark.stop()
  }
}
