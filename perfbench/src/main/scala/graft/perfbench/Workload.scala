package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Everything one workload run shares: the session, the span recorder,
  * the Spark listener and the run's work directory (inside the
  * checkout). `scale` multiplies every input size (1.0 = benchmark size). */
class Ctx(val spark: SparkSession, val tracer: Tracer, val listener: BenchListener,
          val work: String, val seed: Long, val scale: Double, val cpus: Int, val fault: Boolean) {
  private var layers = Map.empty[String, Double]
  /** Failed checks found outside [[Workload.check]] (in per-layer runs),
    * and what the same checks found without the planted fault. */
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  val cleanFailures = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Time one layer call. The duration lands in the current operation's
    * layer record as `<name>_s`; when tracing is on the call is also a span. */
  def layer[T](name: String, key: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    record(if (key.isEmpty) name + "_s" else key, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Record a per-operation value (a count or a time) for the layer table. */
  def record(key: String, v: Double): Unit = layers += key -> (layers.getOrElse(key, 0.0) + v)

  def takeLayers(): Map[String, Double] = { val l = layers; layers = Map.empty; l }

  def rows(n: Long): Long = math.max(200L, (n * scale).toLong)
}

/** One closed-loop operation's result: items of the workload's unit
  * (tiles, images, queries) and what kind of operation ran. */
case class OpOut(items: Long, kind: String)

trait Workload {
  def name: String
  /** What `items` counts, for the printed table. */
  def itemsUnit: String
  /** Generate the inputs from the seed (repeated to time set-up). */
  def setup(ctx: Ctx): Unit
  /** Operations per unit: one unit is timed as a whole, and traced runs
    * alternate traced and untraced units. */
  def unitOps: Int = 1
  /** Untimed warm-up (JIT, codegen, caches): [[Workload.warmUnits]] whole units. */
  def warmUp(ctx: Ctx): Unit = (-Workload.warmUnits * unitOps until 0).foreach(i => op(ctx, i))
  /** One closed-loop operation; `i` counts from 0 over the timed loop
    * (negative in the warm-up). */
  def op(ctx: Ctx, i: Int): OpOut
  /** Output checks; each returned string is one failed check. `fault`
    * plants one wrong output so the check itself can be tested. */
  def check(ctx: Ctx, fault: Boolean): Seq[String]
  /** Per-layer values measured once per traced run (not per operation);
    * failed checks go to `ctx.failures`. */
  def runLayers(ctx: Ctx): Map[String, Double] = Map.empty
  /** Per-unit layer values derived from the listener after a traced unit. */
  def unitLayers(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = Map.empty
}

object Workload {
  /** Warm-up units: with fewer, operation times still fall from unit to
    * unit through the timed loop as the JIT and Spark's codegen catch up. */
  val warmUnits = 4
}
