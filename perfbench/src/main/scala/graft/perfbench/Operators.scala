package graft.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** SparkEntry queries over a fixed TPC-H-like table set, each timed
  * through count(); one operation is one query, one unit one pass over
  * [[Operators.core]], the queries that reach the layers no other
  * workload does. */
class Operators(dataDir: String) extends Workload {
  val name = "operators"
  val itemsUnit = "queries"
  private val queries = graft.SparkEntry.queries
  private val names = Operators.core
  private var order: IndexedSeq[String] = names
  override def unitOps: Int = order.size
  /** Row counts of every query in every pass (the warm-up pass included). */
  private val counts = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var planMs = 0.0
  /** Planning and driver-gap seconds summed over the current pass. */
  private var passPlan = 0.0
  private var passGap = 0.0
  private var listening = false

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Operators.this.synchronized {
        planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def setup(ctx: Ctx): Unit = {
    // read every table file once so the page cache is warm
    java.nio.file.Files.list(java.nio.file.Paths.get(dataDir)).forEach { d =>
      val s = java.nio.file.Files.walk(d)
      try s.filter(java.nio.file.Files.isRegularFile(_)).forEach(f => java.nio.file.Files.readAllBytes(f))
      finally s.close()
    }
    order = new scala.util.Random(ctx.seed).shuffle(names)
    if (!listening) { ctx.spark.listenerManager.register(planListener); listening = true }
  }

  def op(ctx: Ctx, i: Int): OpOut = {
    val q = order(Math.floorMod(i, order.size))
    val sc = ctx.spark.sparkContext
    if (ctx.tracer.enabled) org.apache.spark.BenchBus.drain(sc)
    val plan0 = synchronized(planMs)
    val n = try Some(ctx.layer("query." + q)(queries(q)(ctx.spark, dataDir).count()))
    catch { case scala.util.control.NonFatal(e) =>
      errors += s"operators: $q threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"
      None
    }
    n.foreach(c => counts.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += c)
    if (ctx.tracer.enabled) {
      org.apache.spark.BenchBus.drain(sc)
      passPlan += (synchronized(planMs) - plan0) / 1e3
      ctx.tracer.recorded.lastOption.foreach { s =>
        val jobs = ctx.tracer.groupsOf(s.id).flatMap(g => ctx.listener.group(g).jobIntervals)
        passGap += (s.dur - Tracer.covered(jobs, s.start, s.end)) / 1e9
      }
    }
    OpOut(1L, if (n.isEmpty) "failed" else "query")
  }

  override def unitLayers(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    val out = Map("operators.plan_s" -> passPlan, "operators.driver_gap_s" -> passGap)
    passPlan = 0.0; passGap = 0.0
    out
  }

  /** No query threw, and each query returned the same row count in every pass. */
  def check(ctx: Ctx, fault: Boolean): Seq[String] = {
    if (fault && counts.nonEmpty) counts.head._2 += -1L
    val unstable = counts.collect { case (q, cs) if cs.distinct.size > 1 =>
      s"operators: $q row counts differ across passes (${cs.distinct.mkString(", ")})" }
    val missing = order.filterNot(counts.contains).map(q => s"operators: $q never completed")
    (errors.distinct ++ unstable ++ missing).toSeq
  }
}

object Operators {
  /** Text, ANN, as-of, range and PIP joins, and small relational
    * queries, where fixed planning and job cost dominate. */
  val core: IndexedSeq[String] = IndexedSeq(
    "q01_cell_encode", "q02_tile_assign", "q09_pip", "q21_ngram_jaccard", "q22_token_count",
    "q27_ann_topk", "q30_window_agg", "q45_asof_join", "q46_range_join", "q53_pii")
}
