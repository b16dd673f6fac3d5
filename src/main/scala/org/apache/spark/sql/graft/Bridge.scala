package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructType}
import scala.jdk.CollectionConverters._

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

  /** `df.localCheckpoint(eager = true)` plus its row count, from the
    * same job: the checkpoint's rows are counted as they are stored, so
    * a caller that needs both pays one job, not a second action. */
  def localCheckpointCounted(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rows = qe.executedPlan.execute().map(_.copy())
      rows.localCheckpoint()
      val n = rows.count()
      (org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rows, ds, ds.isStreaming)), n)
    }
  }

  /** A memoized parquet read: the session's context (the entry dies
    * with it), the stamp of the files it was resolved from, and the
    * analyzed relation. */
  private final class Resolved(val sc: SparkContext, val stamp: Seq[(String, Long, Long)],
                               val rel: LogicalRelation)

  /** One entry per (session id, qualified paths); emptied when it
    * passes MaxTables, so paths no longer read do not pile up. */
  private val tables = new ConcurrentHashMap[(String, Seq[String]), Resolved]()
  private val MaxTables = 256

  /** `spark.read.parquet(paths: _*)`, resolved once per session: the
    * analyzed relation is kept, keyed on the session and the qualified
    * paths and stamped with every leaf file under them (name, length,
    * modification time; one recursive listing per call). While
    * the stamp holds, a read is the kept relation with fresh attribute
    * ids (so two reads of one table self-join as two `read.parquet`
    * reads do), with no listing job, schema inference or data source
    * resolution; when it differs, the paths are read again and the
    * entry replaced. A kept relation keeps the session conf it was
    * resolved under (schema merging, partition type inference) until
    * its files change. Entries of stopped contexts are dropped. A path
    * that cannot be listed, or a read that is not a plain parquet
    * relation, is read as `read.parquet` reads it and not kept. */
  def parquetTable(spark: SparkSession, paths: String*): DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    tables.values.removeIf(_.sc.isStopped)
    val conf = s.sessionState.newHadoopConf()
    // listStatus, not listFiles: no block locations (~0.05 ms, not ~4 ms, a file)
    def leaves(fs: FileSystem, p: Path): Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.flatMap { f =>
        if (f.isDirectory) leaves(fs, f.getPath)
        else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    val stamped = scala.util.Try(paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val q = fs.makeQualified(path)
      (q.toString, leaves(fs, q))
    }).toOption
    stamped match {
      case None => spark.read.parquet(paths: _*)
      case Some(listed) =>
        val key = (s.sessionUUID, listed.map(_._1))
        val stamp = listed.flatMap(_._2).sorted
        val hit = tables.get(key)
        if (hit != null && hit.stamp == stamp)
          org.apache.spark.sql.classic.Dataset.ofRows(s, hit.rel.newInstance())
        else {
          val df = spark.read.parquet(paths: _*)
          df.queryExecution.analyzed match {
            case rel @ LogicalRelation(fs: HadoopFsRelation, _, _, false, _)
                if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
              if (tables.size >= MaxTables) tables.clear()
              tables.put(key, new Resolved(s.sparkContext, stamp, rel))
            case _ => tables.remove(key)
          }
          df
        }
    }
  }

  /** The paths (qualified, in call order) of `spark`'s memoized
    * [[parquetTable]] reads, one entry per distinct path list. */
  def parquetTables(spark: SparkSession): Seq[Seq[String]] = {
    val id = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
    tables.keySet.asScala.toSeq.collect { case (`id`, ps) => ps }
  }
}
