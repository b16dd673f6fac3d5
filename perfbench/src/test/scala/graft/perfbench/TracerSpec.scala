package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, a: Long, b: Long) = Span(id, parent, "r", s"s$id", a, b)

  test("self time subtracts the union of overlapping children, clipped to the parent") {
    val spans = Seq(
      span(1, 0, 0, 100),
      span(2, 1, 10, 40), span(3, 1, 30, 60), // overlap: covers 10..60 once
      span(4, 1, 80, 90),
      span(5, 1, 95, 130), // runs past its parent: only 95..100 counts
      span(6, 2, 15, 20)) // a grandchild does not count against the root
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100 - 50 - 10 - 5)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(6) == 5)
  }

  test("covered counts nested and touching intervals once") {
    assert(Tracer.covered(Seq((0L, 10L), (2L, 3L), (10L, 20L)), 0, 100) == 20)
    assert(Tracer.covered(Nil, 0, 100) == 0)
    assert(Tracer.covered(Seq((50L, 40L)), 0, 100) == 0)
  }

  test("the listener attributes each Spark job to the innermost span around it") {
    val spark = SparkSession.builder().master("local[2]").appName("tracer-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val listener = new BenchListener
      sc.addSparkListener(listener)
      val tracer = new Tracer("spec", Some(sc))
      spark.range(10).count() // before tracing: no span group
      org.apache.spark.BenchBus.drain(sc)
      val perCount = listener.group("").jobs // jobs one count() submits (AQE may add one)
      assert(perCount >= 1)
      tracer.enabled = true
      tracer.span("a")(spark.range(100).count())
      tracer.span("b") {
        tracer.span("c") { spark.range(100).count(); spark.range(200).count() }
      }
      tracer.enabled = false
      org.apache.spark.BenchBus.drain(sc)
      val byName = tracer.recorded.map(s => s.name -> s).toMap
      assert(listener.group(byName("a").id.toString).jobs == perCount)
      assert(listener.group(byName("b").id.toString).jobs == 0)
      assert(listener.group(byName("c").id.toString).jobs == 2 * perCount)
      assert(listener.group(byName("c").id.toString).tasks >= 2)
      assert(listener.group("").jobs == perCount)
      // the job group is restored once a span closes
      assert(Option(sc.getLocalProperty(org.apache.spark.BenchBus.JobGroupKey)).isEmpty)
      val jobs = tracer.withJobSpans(listener).filter(_.name == "spark.job")
      assert(jobs.count(_.parent == byName("c").id) == 2 * perCount)
      assert(jobs.count(_.parent == byName("a").id) == perCount)
      jobs.foreach { j => assert(j.end >= j.start) }
      sc.removeSparkListener(listener)
    } finally spark.stop()
  }
}
