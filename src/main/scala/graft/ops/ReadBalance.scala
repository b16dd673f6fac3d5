package graft.ops

import org.apache.spark.sql.DataFrame

/**
 * THE read-balance guard, shared by every operator that must not let a
 * small-split input serialize heavy downstream work (image decode,
 * duplicate-span window kernels, render command emission): when the
 * input arrives in fewer splits than cores — a handful of small files
 * packed by openCost, or one modest file under maxPartitionBytes —
 * round-robin it across 2x the cores BEFORE the expensive pass. At
 * catalog scale inputs carry >> cores splits and this is a no-op that
 * costs one physical plan, no job. One definition, not inlined copies,
 * so the guard's tuning can never silently diverge per path — and no
 * session-conf mutation (split sizing) beside it.
 *
 * Applied ONLY where the per-row kernel measurably dominates the added
 * exchange; for the cheaper tokenize/minhash kernels the balance
 * shuffle measured net slower, and map-only projections must never pay
 * a shuffle of columns they would otherwise not move.
 */
object ReadBalance {
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p * 2) else df
  }
}
