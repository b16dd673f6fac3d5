package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One workload in one JVM: set up, warm up, run closed-loop operations
  * for a fixed time, check the outputs, and print one JSON record with
  * the raw samples as the last stdout line. `perfbench/run.py` turns the
  * record into the benchmark's metrics.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --cpus N --scale X --work DIR --data DIR [--spans FILE] [--fault] */
object Main {
  case class OpRec(seconds: Double, items: Long, kind: String, traced: Boolean,
                   layers: Map[String, Double])

  /** Span name -> layer family for self-time totals. */
  def family(spanName: String): String = spanName match {
    case "op" => "bench"
    case "spark.job" => "spark_job"
    case n => n.takeWhile(_ != '.')
  }
  val families = Seq("bench", "encode", "join", "render", "media", "streaming", "query", "spark_job")

  def workload(name: String, data: String): Workload = name match {
    case "pyramid" => new Pyramid(baseRows = 60000)
    case "dedup" => new Dedup(baseRows = 12000)
    case "operators" => new Operators(data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    def parse(rest: List[String]): Map[String, String] = rest match {
      case "--fault" :: tail => parse(tail) + ("fault" -> "1")
      case k :: v :: tail if k.startsWith("--") => parse(tail) + (k.drop(2) -> v)
      case Nil => Map.empty
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    val a = parse(args.toList)
    val wname = a("workload")
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds",
      throw new IllegalArgumentException("--seconds is required")).toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt
    val scale = a.getOrElse("scale", "1").toDouble
    val work = new java.io.File(a("work")).getAbsolutePath
    val fault = a.contains("fault")
    val heap = new HeapWatch

    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val sc = spark.sparkContext
    val listener = new BenchListener
    val tracer = new Tracer(s"$wname-seed$seed", Some(sc))
    val w = workload(wname, a.getOrElse("data", ""))
    val ctx = new Ctx(spark, tracer, listener, s"$work/$wname", seed, scale, cpus, fault)

    def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    val prepare = (0 until 3).map(_ => timed(w.setup(ctx)))
    val warmS = timed(w.warmUp(ctx))
    ctx.takeLayers()
    val setupS = sessionS + Stats.median(prepare) + warmS

    // timed closed loop: whole units until the time is up; a traced run
    // interleaves untraced and traced units (ABBA, at least one round) so
    // it measures its own overhead without favouring either side
    heap.sample()
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val unitRecs = mutable.ArrayBuffer.empty[(Boolean, Double, Long, Map[String, Double])]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minUnits = if (trace) 4 else 1
    var unit = 0
    var i = 0
    while (unit < minUnits || System.nanoTime() < deadline) {
      val traced = trace && (unit % 4 == 1 || unit % 4 == 2)
      if (traced) { sc.addSparkListener(listener); tracer.enabled = true }
      val u0 = tracer.now()
      val op0 = ops.size
      val ut = timed {
        (0 until w.unitOps).foreach { _ =>
          val t0 = System.nanoTime()
          val out = tracer.span("op")(w.op(ctx, i))
          ops += OpRec((System.nanoTime() - t0) / 1e9, out.items, out.kind, traced, ctx.takeLayers())
          i += 1
        }
      }
      var uLayers = Map.empty[String, Double]
      if (traced) {
        org.apache.spark.BenchBus.drain(sc)
        tracer.enabled = false
        val spans = tracer.withJobSpans(listener).filter(_.start >= u0)
        val self = Tracer.selfTimes(spans)
        val bySelf = spans.groupBy(s => family(s.name)).map { case (f, ss) => f -> ss.map(s => self(s.id)).sum }
        val tot = new GroupCounters
        spans.foreach(s => tracer.groupsOf(s.id).foreach(g => tot.add(listener.group(g))))
        val n = w.unitOps.toDouble
        uLayers = families.map(f => s"self.${f}_s" -> bySelf.getOrElse(f, 0L) / 1e9 / n).toMap ++ Map(
          "spark.jobs" -> tot.jobs / n,
          "spark.tasks" -> tot.tasks / n,
          "spark.shuffle_write_mb" -> tot.shuffleWriteBytes / 1e6 / n,
          "spark.spill_mb" -> tot.spillBytes / 1e6 / n,
          "spark.gc_s" -> tot.gcMs / 1e3 / n,
          "spark.fetch_wait_s" -> tot.fetchWaitMs / 1e3 / n,
          "spark.busy_share" -> tot.runMs / 1e3 / (ut * cpus),
          "trace.spans" -> spans.size / n) ++ w.unitLayers(ctx, spans)
        sc.removeSparkListener(listener)
      }
      heap.sample()
      unitRecs += ((traced, ut, ops.drop(op0).map(_.items).sum, uLayers))
      unit += 1
    }
    val peakMb = heap.peakMb

    var layers = Map.empty[String, Double]
    if (trace) {
      val tops = ops.filter(_.traced)
      val keys = tops.flatMap(_.layers.keys).distinct
      layers ++= keys.map(k => k -> Stats.median(tops.flatMap(_.layers.get(k)).toSeq))
      val tu = unitRecs.filter(_._1)
      layers ++= tu.flatMap(_._4.keys).distinct.map(k => k -> Stats.median(tu.flatMap(_._4.get(k)).toSeq))
      val untracedUnit = Stats.median(unitRecs.filterNot(_._1).map(_._2).toSeq)
      layers += "trace.overhead_share" -> (Stats.median(tu.map(_._2).toSeq) / untracedUnit - 1)
      layers ++= w.runLayers(ctx)
      layers ++= Kernels.run(seed)
      a.get("spans").foreach { f =>
        val p = java.nio.file.Paths.get(f)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, Tracer.toJsonLines(tracer.withJobSpans(listener)))
      }
    }
    def checked(f: Boolean): Seq[String] =
      try w.check(ctx, f)
      catch { case scala.util.control.NonFatal(e) => Seq(s"$wname: output check threw $e") }
    val c0 = System.nanoTime()
    // a planted-fault run checks the clean output first, so a test can
    // see that the check passes without the fault and fails with it
    val cleanFailures = if (fault) checked(false) ++ ctx.cleanFailures else Nil
    val failures = checked(fault) ++ ctx.failures
    val checkS = (System.nanoTime() - c0) / 1e9
    val failedOps = ops.count(_.kind == "failed")

    val table = mutable.LinkedHashMap.empty[String, Double]
    ops.flatMap(_.layers.keys).distinct.sorted.foreach { k =>
      table(k) = Stats.median(ops.flatMap(_.layers.get(k)).toSeq)
    }
    val record = Map(
      "workload" -> wname, "seed" -> seed, "cpus" -> cpus, "trace" -> trace, "scale" -> scale,
      "items_unit" -> w.itemsUnit,
      "correct" -> (failures.isEmpty && failedOps == 0),
      "failures" -> failures,
      "clean_failures" -> cleanFailures,
      "attempted" -> (ops.size + 1),
      "failed" -> (failedOps + (if (failures.nonEmpty) 1 else 0)),
      "session_s" -> sessionS, "prepare_s" -> prepare, "warmup_s" -> warmS, "setup_s" -> setupS, "check_s" -> checkS,
      "ops" -> ops.map(o => Map("s" -> o.seconds, "items" -> o.items, "kind" -> o.kind, "traced" -> o.traced)),
      "units" -> unitRecs.map(u => Map("traced" -> u._1, "s" -> u._2, "items" -> u._3)),
      "peak_live_heap_mb" -> peakMb,
      "layer_medians" -> table.toMap,
      "layers" -> layers)
    spark.stop()
    println(Json(record))
    System.out.flush()
  }
}
