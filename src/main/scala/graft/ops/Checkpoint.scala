package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Releasing an eager local checkpoint. Dataset.unpersist only drops
  * CacheManager entries, so on a `localCheckpoint` frame it frees
  * nothing: the blocks belong to the RDD under the frame's LogicalRDD
  * root, and without this they live until the ContextCleaner notices
  * the driver has garbage-collected the frame. */
object Checkpoint {
  /** Free `df`'s checkpoint blocks now (non-blocking); `df` must not be
    * read afterwards. A frame that is not a checkpoint root is simply
    * unpersisted. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist()
  }
}
