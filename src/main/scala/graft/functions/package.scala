package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column-level API for the engine's spatial functions. */
package object functions {
  /** (x32, y32) world coords -> order-comparable Morton cell id. */
  def cell_encode(x: Column, y: Column): Column = Kernels.CellEncode(x, y)

  /** cell id -> world x (unsigned 32-bit widened to Long). */
  def cell_x(c: Column): Column = Kernels.CellX(c)

  /** cell id -> world y. */
  def cell_y(c: Column): Column = Kernels.CellY(c)

  /** phash -> deterministic geotag (codegen'd; ImageTable's formula). */
  def geotag_lat(p: Column): Column = Kernels.GeotagLat(p)
  def geotag_lon(p: Column): Column = Kernels.GeotagLon(p)
  def geotag_cell(p: Column): Column = Kernels.GeotagCell(p)

  /** Single source for SQL-name registration, shared by [[registerAll]]
    * (temp functions) and [[graft.GraftExtensions]] (injectFunction) —
    * one list, so the two registration paths can never drift. Kernel
    * entries build through [[Kernel.fromSql]]: LONG inputs are cast
    * (SQL integer literals arrive as INT), and kernel-shape parameters
    * (shingle/perms/bands/planes) must be integer LITERALS in Int range
    * — they parameterize the generated kernel, not per-row values. */
  private[graft] lazy val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    import Kernels._
    ("dot_ff" -> ((es: Seq[Expression]) => DotProductExpr(es(0), es(1)))) +:
      Seq(CellEncode, CellX, CellY, GeotagLat, GeotagLon, GeotagCell,
        MinhashSig, MinhashBands, Simhash, RhpSig).map(k => k.name -> (k.fromSql _))
  }

  /** Register SQL names for the native expressions. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
