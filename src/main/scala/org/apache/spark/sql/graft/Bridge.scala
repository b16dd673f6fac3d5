package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructType}

/** Bridge into Spark's private[sql] Column<->Expression converters so the
  * engine can expose native Catalyst expressions as Columns (same
  * mechanism Spark's own function registry uses). */
object Bridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** [[org.apache.spark.sql.types.AbstractDataType]] is private[sql];
    * alias it so the engine's expressions can declare ExpectsInputTypes
    * inputTypes (analysis-time type checking) from graft packages. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** TypeCollection is private[sql] too. */
  def oneOf(ts: org.apache.spark.sql.types.AbstractDataType*): AbstractType =
    org.apache.spark.sql.types.TypeCollection(ts: _*)

  /** A parquet table read through a bare projection: the files its scan
    * lists (already listed, so no new listing), the Hadoop conf the scan
    * reads them with, and the table itself as a DataFrame, on which the
    * `_metadata` columns resolve. */
  case class ParquetScan(files: Seq[FileStatus], hadoopConf: Configuration, table: DataFrame)

  /** `Some` exactly when `df`'s analyzed plan is `SELECT <cols>` over a
    * parquet file relation: each column a BIGINT attribute of the files
    * under its own name, no filter, no repartition, no partition or
    * bucket columns, not a stream. Any other shape is `None`. */
  def bareParquetScan(df: DataFrame, cols: Seq[String]): Option[ParquetScan] =
    df.queryExecution.analyzed match {
      case Project(list, rel: LogicalRelation) if !rel.isStreaming => rel.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
            fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty &&
            !fs.dataSchema.fieldNames.contains("_metadata") &&
            list.map(_.name) == cols && list.forall {
              case a: AttributeReference => a.dataType == LongType && rel.outputSet.contains(a)
              case _ => false
            } =>
          val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          Some(ParquetScan(
            fs.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus)),
            fs.getHadoopConf(spark, fs.options),
            org.apache.spark.sql.classic.Dataset.ofRows(spark, rel)))
        case _ => None
      }
      case _ => None
    }

  /** `df`'s rows as Catalyst's internal rows (no Row conversion). */
  def internalRows(df: DataFrame): RDD[InternalRow] = df.queryExecution.toRdd

  /** A DataFrame over internal rows of `schema`. */
  def fromInternalRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(rows, schema)
}
