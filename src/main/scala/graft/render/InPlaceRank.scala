package graft.render

import scala.jdk.CollectionConverters._
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator

/** One run of consecutive rows a scan task read from one file: its
  * `row_index` range, its first and last (cell, meta), and whether the
  * keys never decreased (and were never null) inside it. */
private[render] case class RankSegment(file: String, firstRow: Long, lastRow: Long,
                                       firstCell: Long, firstMeta: Long,
                                       lastCell: Long, lastMeta: Long, ordered: Boolean)

/** A (cell, meta) parquet table's footer facts: row count and `cell`
  * range of one file. */
private case class FileFooter(path: String, rows: Long, minCell: Long, maxCell: Long)

/** Rank a (cell, meta)-sorted parquet table where it lies: when the
  * table's files, in footer order, already are the sorted order, a row's
  * rank is its file's offset plus its `_metadata.row_index` — the
  * reference's file offset (render.c:165-167), with no sort and no
  * shuffle.
  *
  * Planning reads every file's footer on the driver (O(files), no Spark
  * job) and needs per-file row counts and `cell` min/max that put the
  * non-empty files in one ascending order. Footers cannot show that rows
  * inside a file are sorted, so the ranking pass itself records, per scan
  * task and file, a [[RankSegment]]; `verified()` then checks that the
  * segments cover each file exactly once and that (cell, meta) never
  * decreases across segments and files. */
private[render] final class InPlaceRank private (val ranked: DataFrame, footers: Seq[FileFooter],
                                                 segments: CollectionAccumulator[RankSegment]) {
  /** After the action that consumed `ranked`: did its rows arrive in one
    * non-decreasing (cell, meta) order, every file row exactly once? */
  def verified(): Boolean = {
    val byFile = segments.value.asScala.toSeq.groupBy(_.file)
    val runs = footers.map(f => f -> byFile.getOrElse(f.path, Nil).sortBy(_.firstRow))
    def le(aCell: Long, aMeta: Long, bCell: Long, bMeta: Long) =
      aCell < bCell || (aCell == bCell && aMeta <= bMeta)
    val chain = runs.flatMap(_._2)
    byFile.keySet.subsetOf(footers.map(_.path).toSet) &&
      runs.forall { case (f, ss) =>
        ss.nonEmpty && ss.head.firstRow == 0 && ss.last.lastRow == f.rows - 1 &&
          ss.zip(ss.drop(1)).forall { case (a, b) => a.lastRow + 1 == b.firstRow }
      } &&
      chain.forall(_.ordered) &&
      chain.zip(chain.drop(1)).forall { case (a, b) => le(a.lastCell, a.lastMeta, b.firstCell, b.firstMeta) }
  }
}

private[render] object InPlaceRank {
  /** The in-place ranking of `points`, or None when its plan is not a
    * bare (cell, meta) parquet scan or its footers do not put the files
    * in one ascending `cell` order. Lazy: nothing runs until `ranked` is
    * consumed. */
  def plan(points: DataFrame): Option[InPlaceRank] =
    Bridge.bareParquetScan(points, Seq("cell", "meta")).flatMap { scan =>
      footerOrder(scan).map { footers =>
        val offsets = footers.map(_.path).zip(footers.scanLeft(0L)(_ + _.rows)).toMap
        val segments = points.sparkSession.sparkContext.collectionAccumulator[RankSegment]("graft.rank.segments")
        val rows = Bridge.internalRows(scan.table.select(col("cell"), col("meta"),
          col("_metadata.file_path"), col("_metadata.row_index")))
          .mapPartitions(it => rankRows(it, offsets, segments))
        new InPlaceRank(
          Bridge.fromInternalRows(points.sparkSession, rows, points.schema.add("rank", LongType, nullable = false)),
          footers, segments)
      }
    }

  /** The non-empty files in ascending `cell` order, when their footers
    * give every row group's row count and `cell` range and the ranges do
    * not overlap (a shared boundary `cell` is left to `verified()`). */
  private def footerOrder(scan: Bridge.ParquetScan): Option[Seq[FileFooter]] = {
    val footers = scan.files.map(f => footer(f, scan.hadoopConf))
    if (footers.contains(None)) None
    else {
      val order = footers.flatten.filter(_.rows > 0).sortBy(f => (f.minCell, f.maxCell, f.path))
      if (order.zip(order.drop(1)).forall { case (a, b) => a.maxCell <= b.minCell }) Some(order) else None
    }
  }

  /** One file's row count and `cell` range from its footer; None when a
    * non-empty row group carries no `cell` min/max or the footer cannot
    * be read. */
  private def footer(f: org.apache.hadoop.fs.FileStatus,
                     conf: org.apache.hadoop.conf.Configuration): Option[FileFooter] =
    try {
      // Spark's footer reader: about 1 ms a file, against ~13 ms for
      // ParquetFileReader.open, which also sets up a reader for row groups
      val groups = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.toSeq
      val ranges = groups.filter(_.getRowCount > 0).map { g =>
        g.getColumns.asScala.find(_.getPath.toDotString == "cell").map(_.getStatistics)
          .filter(s => s != null && s.hasNonNullValue)
          .map(s => (s.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                     s.genericGetMax.asInstanceOf[java.lang.Long].longValue))
      }
      if (ranges.contains(None)) None
      else {
        val rs = ranges.flatten
        Some(FileFooter(fileKey(f.getPath.toUri.toString), groups.map(_.getRowCount).sum,
          if (rs.isEmpty) 0L else rs.map(_._1).min, if (rs.isEmpty) 0L else rs.map(_._2).max))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One file's identity across spellings of its URI: a listing says
    * `file:///a%20b`, a scan's `_metadata.file_path` says `file:/a%20b`. */
  private def fileKey(uri: String): String = {
    val u = new java.net.URI(uri)
    s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
  }

  /** One scan task's rows (cell, meta, file_path, row_index) out as
    * (cell, meta, rank), rank = file offset + row_index; adds the task's
    * segments to `segments` when its input ends. A file missing from
    * `offsets` gets an unordered segment, so `verified()` fails. */
  private def rankRows(rows: Iterator[InternalRow], offsets: Map[String, Long],
                       segments: CollectionAccumulator[RankSegment]): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val out = new SpecificInternalRow(Seq(LongType, LongType, LongType))
      private var file: UTF8String = null
      private var name = ""
      private var offset = -1L
      private var first = 0L
      private var last = -2L
      private var firstCell, firstMeta, lastCell, lastMeta = 0L
      private var ordered = true

      private def close(): Unit =
        if (file != null) {
          segments.add(RankSegment(name, first, last, firstCell, firstMeta, lastCell, lastMeta, ordered))
          file = null
        }

      def hasNext: Boolean = rows.hasNext || { close(); false }

      def next(): InternalRow = {
        val r = rows.next()
        val cell = r.getLong(0)
        val meta = r.getLong(1)
        val idx = r.getLong(3)
        // a new segment at every file change or row_index gap
        if (file == null || idx != last + 1 || r.getUTF8String(2) != file) {
          close()
          file = r.getUTF8String(2).clone()
          name = fileKey(file.toString)
          offset = offsets.getOrElse(name, -1L)
          first = idx; firstCell = cell; firstMeta = meta
          ordered = offset >= 0
        } else if (cell < lastCell || (cell == lastCell && meta < lastMeta)) ordered = false
        if (r.isNullAt(0) || r.isNullAt(1)) ordered = false
        last = idx; lastCell = cell; lastMeta = meta
        out.setLong(0, cell)
        out.setLong(1, meta)
        out.setLong(2, offset + idx)
        out
      }
    }
}
