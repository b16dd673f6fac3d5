package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Sticky-label resolution for incremental dedup against persisted
 * state, shared by the image and text paths (ONE source — the label
 * semantics must never diverge between modalities):
 *
 *  - a batch component ANCHORED to one or more old clusters takes the
 *    minimum-nid old rep (sticky: the corpus is never relabeled);
 *  - an unanchored component labels to its minimum-nid NEW member's
 *    entity id;
 *  - a component bridging >= 2 old clusters reports merge events
 *    (rep_a -> merged_rep) with merged_rep the SAME min-by-nid choice
 *    the sticky labels made — downstream label composition, never a
 *    re-cluster.
 */
object StickyLabels {
  /**
   * @param comp    (node, rep) component labels over the batch's nid
   *                graph (in-batch edges + batch->old-rep-anchor edges)
   * @param oldReps (rep_nid, rep) DISTINCT old anchors that appear as
   *                nodes in the graph; `rep` is the entity-typed label
   * @param ids     (idCol, nid) name map of the batch's entities
   * @param idCol   entity id column name (e.g. "image_id", "doc_id")
   * @param hold    registers the anchor checkpoint, for a caller that
   *                frees it once the labels and merges are landed
   *                ([[graft.ops.Checkpoint.holding]])
   * @return (labels (idCol, rep) for every batch entity — singletons
   *         label to themselves; merges (rep_a, merged_rep))
   */
  def resolve(comp: DataFrame, oldReps: DataFrame, ids: DataFrame, idCol: String,
              hold: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    // ONE anchor join + aggregation computes BOTH the sticky label (the
    // min-by-nid old rep) and the merge inputs (the distinct old-rep
    // set) — a second identical join/groupBy here would re-run the
    // component aggregation upstream too (comp is an uncached groupBy
    // over the Components checkpoint). The checkpoint rides the
    // returned lazy labels/merges frames: it is held until they land.
    val anchorAgg = hold(comp.join(oldReps.select(col("rep_nid").as("node"),
        col("rep").as("old_rep"), col("rep_nid").as("old_nid")), "node")
      .groupBy(col("rep").as("crep"))
      .agg(min(struct(col("old_nid"), col("old_rep"))).as("m"),
        collect_set(col("old_rep")).as("reps"))
      .localCheckpoint(true))
    // sticky labels: a component containing old reps labels to the
    // MINIMUM old rep nid (deterministic), not the component min
    val compOld = anchorAgg.select(col("crep"), col("m.old_rep").as("sticky_rep"))
    val labeled = comp.withColumnRenamed("rep", "crep")
      .join(compOld, Seq("crep"), "left")
    // component-min NEW entity id for components with no old anchor
    val nidNames = ids.select(col("nid").as("node"), col(idCol).as("node_id"))
    val newRepNames = labeled.join(nidNames, "node")
      .groupBy(col("crep")).agg(min(struct(col("node"), col("node_id"))).as("mn"))
      .select(col("crep"), col("mn.node_id").as("new_rep"))
    val nodeLabel = labeled.join(newRepNames, Seq("crep"), "left")
      .select(col("node").as("nid"), coalesce(col("sticky_rep"), col("new_rep")).as("lbl"))
    val labels = ids.select(col(idCol), col("nid"))
      .join(nodeLabel, Seq("nid"), "left")
      .select(col(idCol), coalesce(col("lbl"), col(idCol)).as("rep"))
    // merges: components holding >= 2 distinct old reps; merged_rep is
    // the SAME min-by-nid choice the sticky labels above made
    val merges = anchorAgg
      .filter(size(col("reps")) >= 2)
      .select(explode(col("reps")).as("rep_a"), col("m.old_rep").as("merged_rep"))
      .filter(col("rep_a") =!= col("merged_rep"))
    (labels, merges)
  }
}
