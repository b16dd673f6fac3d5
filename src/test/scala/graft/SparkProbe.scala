package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, ShuffleQueryStageExec}

/** What a block of test code made Spark do: the jobs it started, and
  * every physical node of a plan, adaptive stages included. */
object SparkProbe {
  /** Spark jobs started while `body` runs. A marker job after `body`
    * flushes the listener queue: its start event arrives after every
    * event `body` caused. */
  def jobsIn[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val tag = s"sparkprobe-marker-${System.nanoTime()}"
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p => p.getProperty("spark.job.description") == tag)) marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(marker.await(30, TimeUnit.SECONDS), "marker job never reached the listener")
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  /** All physical nodes of `p`, including those under adaptive wrappers. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case s: ShuffleQueryStageExec => Seq(s.plan)
      case b: BroadcastQueryStageExec => Seq(b.plan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }
}
