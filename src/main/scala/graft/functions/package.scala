package graft

import org.apache.spark.sql.{Column, SparkSession}

/** Column-level API for the engine's spatial functions. */
package object functions {
  import org.apache.spark.sql.graft.Bridge.{column, expression}

  /** (x32, y32) world coords -> order-comparable Morton cell id. */
  def cell_encode(x: Column, y: Column): Column =
    column(CellEncodeExpr(expression(x), expression(y)))

  /** cell id -> world x (unsigned 32-bit widened to Long). */
  def cell_x(c: Column): Column = column(CellXExpr(expression(c)))

  /** cell id -> world y. */
  def cell_y(c: Column): Column = column(CellYExpr(expression(c)))

  /** phash -> deterministic geotag (codegen'd; ImageTable's formula). */
  def geotag_lat(p: Column): Column = column(GeotagLatExpr(expression(p)))
  def geotag_lon(p: Column): Column = column(GeotagLonExpr(expression(p)))
  def geotag_cell(p: Column): Column = column(GeotagCellExpr(expression(p)))

  /** Single source for SQL-name registration, shared by [[registerAll]]
    * (temp functions) and [[graft.GraftExtensions]] (injectFunction) —
    * one hand-maintained table, so the two registration paths can
    * never drift. SQL literals may arrive as INT: LONG-taking children
    * are Cast; kernel-shape parameters (shingle/perms/bands/planes)
    * must be integer LITERALS — they parameterize the generated
    * kernel, not per-row values. */
  private[graft] lazy val sqlBuilders: Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
    import org.apache.spark.sql.types.LongType
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
    }
    Seq(
      "cell_encode" -> ((es: Seq[Expression]) => CellEncodeExpr(Cast(es(0), LongType), Cast(es(1), LongType))),
      "cell_x" -> ((es: Seq[Expression]) => CellXExpr(Cast(es.head, LongType))),
      "cell_y" -> ((es: Seq[Expression]) => CellYExpr(Cast(es.head, LongType))),
      "geotag_lat" -> ((es: Seq[Expression]) => GeotagLatExpr(Cast(es.head, LongType))),
      "geotag_lon" -> ((es: Seq[Expression]) => GeotagLonExpr(Cast(es.head, LongType))),
      "geotag_cell" -> ((es: Seq[Expression]) => GeotagCellExpr(Cast(es.head, LongType))),
      "dot_ff" -> ((es: Seq[Expression]) => DotProductExpr(es(0), es(1))),
      "minhash_sig" -> ((es: Seq[Expression]) =>
        MinhashSigExpr(es(0), intLit(es(1), "shingle"), intLit(es(2), "perms"))),
      "minhash_bands" -> ((es: Seq[Expression]) =>
        MinhashBandsExpr(es(0), intLit(es(1), "shingle"), intLit(es(2), "bands"), intLit(es(3), "rows"))),
      "simhash62" -> ((es: Seq[Expression]) => SimhashExpr(es.head)),
      "rhp_sig" -> ((es: Seq[Expression]) => RhpSigExpr(es(0), intLit(es(1), "planes"))))
  }

  /** Register SQL names for the native expressions. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
