package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Connected components (large-star/small-star): correctness vs a
  * driver-side union-find on random graphs, plus the adversarial
  * shapes — long chains (worst case for naive min-propagation) and
  * star-heavy duplicate clusters. */
class ComponentsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ufComponents(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(v => v -> find(v)).toMap
  }

  /** distributed=true forces the large-star/small-star loop (the 100 TB
    * path); false lets the small-graph driver fast path engage. */
  private def run(edges: Seq[(Long, Long)], distributed: Boolean = false): Map[Long, Long] = {
    import spark.implicits._
    Components.connectedComponents(edges.toDF("a", "b"),
      smallGraphEdges = if (distributed) 0L else 1L << 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("random graphs match driver-side union-find (both paths)") {
    val rnd = new scala.util.Random(1234)
    (0 until 4).foreach { trial =>
      val n = 200
      val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val expect = ufComponents(n, edges)
      assert(run(edges) == expect, s"fast path, trial $trial")
      assert(run(edges, distributed = true) == expect, s"star path, trial $trial")
    }
  }

  test("small graph: at most three jobs, and labels read without an exchange") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val edges = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
    val input = edges.toDF("a", "b").localCheckpoint(true)
    val (labels, jobs) = graft.SparkProbe.jobsIn(spark)(Components.connectedComponents(input))
    assert(jobs <= 3, s"the driver path ran $jobs jobs")
    val exchanges = graft.SparkProbe.allNodes(labels.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.isEmpty, labels.queryExecution.executedPlan.toString)
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      ufComponents(300, edges.filter { case (a, b) => a != b }))
  }

  test("a 500-node chain collapses to one component (log-round convergence)") {
    val edges = (0L until 499L).map(i => (i, i + 1))
    val got = run(edges, distributed = true)
    assert(got.size == 500 && got.values.forall(_ == 0L))
  }

  test("duplicate-cluster stars and singleton isolation") {
    // three stars with hubs 0, 1000, 2000; hub 0's spokes include 1000's
    // hub id? no — disjoint: membership must not bleed across stars
    val edges = (1L to 50L).map(i => (0L, i)) ++
      (1L to 50L).map(i => (1000L, 1000L + i)) ++
      Seq((2000L, 2001L))
    val got = run(edges)
    assert((0L to 50L).forall(got(_) == 0L))
    assert((1000L to 1050L).forall(got(_) == 1000L))
    assert(got(2000L) == 2000L && got(2001L) == 2000L)
    assert(!got.contains(999L))
  }

  test("10^6-edge graph crosses the natural threshold: distributed rounds + telemetry") {
    import spark.implicits._
    // 16384 disjoint 64-edge paths + one 9-edge path = 2^20 + 9 distinct
    // edges — just above the driver fast-path gate, so the DEFAULT call
    // (no threshold override) must run the distributed star rounds
    val paths = (0 until 16384).flatMap { p =>
      val base = p.toLong * 100
      (0 until 64).map(i => (base + i, base + i + 1))
    }
    val extra = (0 until 9).map(i => (2000000L + i, 2000000L + i + 1))
    val (labels, stats) = Components.connectedComponentsWithStats(
      (paths ++ extra).toDF("a", "b"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.nonEmpty,
      "driver fast path engaged above the 2^20-edge threshold")
    assert(stats.length >= 3,
      s"expected >=3 distributed rounds, got $stats")
    assert(stats.forall(_.hubNodes == 0), s"path graph has no hubs: $stats")
    assert((0 until 16384).forall { p =>
      val base = p.toLong * 100
      (0 to 64).forall(i => got(base + i) == base)
    }, "some path member mislabeled")
    assert((0 to 9).forall(i => got(2000000L + i) == 2000000L))
  }

  test("10^6-edge single star: hub broadcasts, no task shuffle-reads >N/10 rows") {
    // the giant-component pathology: ONE node adjacent to a million
    // others. Without hub routing the re-parent join hashes every hub
    // edge to one task; with it the hub rides a broadcast and the
    // biggest per-task shuffle read stays ~N/partitions.
    val n = 1000000L
    val edges = spark.range(1, n + 1)
      .select(lit(0L).as("a"), col("id").as("b"))
    val maxRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null)
          maxRead.updateAndGet(c => math.max(c, m.shuffleReadMetrics.recordsRead))
      }
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    // AQE would coalesce these small-byte partitions into one (16 MB of
    // Long pairs), masking the hot-key question the test asks; 32
    // partitions make the even-spread baseline ~n/32 per task
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.sparkContext.addSparkListener(listener)
    try {
      val (labels, stats) = Components.connectedComponentsWithStats(
        edges, smallGraphEdges = 0L, hubDegree = 1L << 16)
      assert(labels.filter(col("rep") =!= 0L).count() == 0, "star must collapse to rep 0")
      assert(labels.count() == n + 1)
      assert(stats.exists(_.hubNodes > 0), s"hub routing never engaged: $stats")
      Thread.sleep(3000) // let the listener bus drain task-end events
      assert(maxRead.get() < n / 10,
        s"a task shuffle-read ${maxRead.get()} rows (> n/10) — hub hot key not split")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("empty and self-loop-only edge sets") {
    import spark.implicits._
    assert(run(Seq.empty) == Map.empty)
    val selfOnly = Components.connectedComponents(Seq((7L, 7L)).toDF("a", "b"))
    assert(selfOnly.count() == 0)
  }
}
