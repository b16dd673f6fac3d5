package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced interval. Times are nanoseconds on the wall clock
  * (epoch based), so driver spans and Spark job events share one axis. */
case class Span(id: Long, parent: Long, run: String, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spark counters of one job group (one traced layer call). */
final class GroupCounters {
  var jobs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var fetchWaitMs = 0L
  var runMs = 0L
  var inputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ns

  def add(o: GroupCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes; gcMs += o.gcMs
    fetchWaitMs += o.fetchWaitMs; runMs += o.runMs; inputBytes += o.inputBytes
    jobIntervals ++= o.jobIntervals
  }
}

/** Attributes every Spark job to the job group that was set on the
  * submitting thread, and sums the task metrics of its stages into that
  * group. The benchmark sets the group to the id of the span that wraps
  * the call, so each span learns its jobs, tasks and bytes. */
class BenchListener extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]

  private def counters(g: String): GroupCounters = groups.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(org.apache.spark.BenchBus.JobGroupKey)))
      .getOrElse("")
    jobGroup(e.jobId) = (g, e.time * 1000000L)
    e.stageIds.foreach(s => stageGroup(s) = g)
    val c = counters(g)
    c.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t0) =>
      counters(g).jobIntervals += ((t0, e.time * 1000000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      c.gcMs += m.jvmGCTime
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.runMs += m.executorRunTime
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Counters of one group; an unknown group reads as all zero. */
  def group(g: String): GroupCounters = synchronized {
    val out = new GroupCounters
    groups.get(g).foreach(out.add)
    out
  }

}

/** In-memory span recorder. When disabled, [[span]] only runs its body. */
class Tracer(val run: String, sc: Option[SparkContext]) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 1L
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()

  def now(): Long = epochNs0 + (System.nanoTime() - nano0)

  /** Run `body` inside a span named `name`; jobs it submits are grouped
    * under the span id so the listener can attribute them. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = if (stack.isEmpty) 0L else stack.top
    val prevGroup = sc.flatMap(c => Option(c.getLocalProperty(org.apache.spark.BenchBus.JobGroupKey)))
    sc.foreach(_.setJobGroup(id.toString, name))
    stack.push(id)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      stack.pop()
      synchronized { spans += Span(id, parent, run, name, t0, t1) }
      sc.foreach { c =>
        prevGroup match {
          case Some(g) => c.setLocalProperty(org.apache.spark.BenchBus.JobGroupKey, g)
          case None => c.clearJobGroup()
        }
      }
    }
  }

  def recorded: Seq[Span] = synchronized(spans.toList)

  private val aliases = mutable.HashMap.empty[Long, List[String]]

  /** Attribute the jobs of another job group to the last closed span
    * (a streaming query runs its jobs under its own group). */
  def alias(group: String): Unit = synchronized {
    spans.lastOption.foreach(s => aliases(s.id) = group :: aliases.getOrElse(s.id, Nil))
  }

  /** Job groups of a span: its own id plus any aliased groups. */
  def groupsOf(id: Long): List[String] = synchronized(id.toString :: aliases.getOrElse(id, Nil))

  /** Add one child span per Spark job of every recorded span. */
  def withJobSpans(listener: BenchListener): Seq[Span] = {
    val base = recorded
    var id = base.map(_.id).foldLeft(0L)(math.max) + 1
    base ++ base.flatMap { s =>
      groupsOf(s.id).flatMap(g => listener.group(g).jobIntervals).sortBy(_._1).map { case (a, b) =>
        id += 1
        Span(id, s.id, run, "spark.job", a, b)
      }
    }
  }
}

object Tracer {
  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(ch, s.start, s.end))
    }.toMap
  }

  def toJsonLines(spans: Seq[Span]): String =
    spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"run":"${s.run}","name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
    }.mkString("", "\n", "\n")
}
