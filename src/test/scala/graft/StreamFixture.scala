package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A file-fed `AvailableNow` stream for specs: `feed` stages one
  * micro-batch's input files, `runOnce` restarts the query from its
  * checkpoint and drains it (one new micro-batch per feed), and
  * `replayLast` deletes the last commit marker so the restart replays
  * that batch under the same batchId — the crash-between-sinks-and-
  * commit case every replay-safe sink must survive.
  *
  * `start(in, ckpt)` builds and starts the query over the source
  * directory `in` with checkpoint location `ckpt`. */
final class StreamFixture(val base: String, start: (String, String) => StreamingQuery) {
  val in = s"$base/in"
  val ckpt = s"$base/ckpt"
  Files.createDirectories(Paths.get(in))

  /** `write(dir)` writes the batch's files into a fresh staging dir;
    * its data files (not `_`/`.`-prefixed) then move into `in` under a
    * `tag` prefix, so the source never sees a half-written file. */
  def feed(tag: String)(write: String => Unit): Unit = {
    val tmp = s"$base/stage_$tag"
    write(tmp)
    new java.io.File(tmp).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .foreach(f => Files.copy(f.toPath, Paths.get(in, s"${tag}_${f.getName}")))
  }

  /** Stage `df` as one parquet file. */
  def feed(df: DataFrame, tag: String): Unit = feed(tag)(df.coalesce(1).write.parquet(_))

  /** Restart the query and drain every staged file; returns the
    * batchIds this run executed. */
  def runOnce(): Seq[Long] = {
    val q = start(in, ckpt)
    try q.awaitTermination() finally q.stop()
    q.recentProgress.map(_.batchId).toSeq.distinct
  }

  /** Forget the last batch's commit and restart: Spark re-runs that
    * batch from its recorded offsets. Returns (replayed batchId,
    * batchIds the restart executed). */
  def replayLast(): (Long, Seq[Long]) = {
    val commits = Paths.get(ckpt, "commits")
    val last = new java.io.File(commits.toString).list()
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    (last, runOnce())
  }
}

object StreamFixture {
  /** Run a streaming query over a bounded source synchronously into a
    * memory sink named `name` (read it with `spark.table(name)`);
    * returns the already-drained StreamingQuery. */
  def runToMemory(df: DataFrame, name: String): StreamingQuery = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }
}
