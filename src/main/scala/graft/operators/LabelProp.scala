package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semi-supervised label propagation over a neighbor graph (Zhu &
  * Ghahramani 2002, majority-vote form) — the auto-labeling operator: a
  * small trusted seed set (human labels, a high-precision classifier)
  * expands over the kNN structure to label the rest of the corpus.
  * [[graft.queries.LlmQueries.qLabelPurity]] MEASURES whether neighbors
  * share labels; this operator USES that structure to infer them.
  *
  * Synchronous rounds: every non-seed node takes the majority label of
  * its current-labeled out-neighbors (ties → smallest label, so the
  * result is partitioning-invariant); seed labels never change; nodes
  * with no labeled neighbor stay unlabeled that round. Hard-label voting
  * (not soft distributions) keeps every round SQL-replayable and the
  * fixpoint exact-integer.
  *
  * Scale shape: per round, ONE slim equi-join (edges ⋈ current labels —
  * both (id, small-int) streams) + one map-side-combined vote count +
  * one per-node window on the ≤|V|·|labels| vote frame. Edges and the
  * base label frame persist once ([[Caches]]); per-round frames persist
  * for the next round's single consumer. Rounds are a literal constant —
  * lineage depth is bounded by construction (the [[Graph.pageRank]]
  * cadence concern does not arise at 2–3 rounds).
  */
object LabelProp {

  /** Propagate `rounds` synchronous majority-vote rounds.
    *
    * @param edges  directed (src_id, neighbor_id) — src receives votes
    *               from its listed neighbors (a kNN top-k list)
    * @param labels one row per node with its ground-truth label
    * @param isSeed predicate over `labels` columns marking the trusted set
    * @return (vec_id, is_seed, true_label, pred_label) — pred_label is
    *         the seed label for seeds, the propagated label otherwise,
    *         null if no labeled neighbor was ever in reach
    */
  def propagate(edges: DataFrame, labels: DataFrame, idCol: String, labelCol: String,
                isSeed: Column, rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one round")
    // read every round (pick join-back) + final report
    val base = Caches.persist(labels.select(col(idCol).as("vec_id"), col(labelCol).as("true_label"),
        isSeed.as("is_seed")))
    val e = Caches.persist(edges.select("src_id", "neighbor_id")) // read every round
    var cur = base.select(col("vec_id"),
      when(col("is_seed"), col("true_label")).otherwise(lit(null)).as("pred_label"))
    for (_ <- 1 to rounds) {
      val votes = e
        .join(cur.filter(col("pred_label").isNotNull)
          .select(col("vec_id").as("neighbor_id"), col("pred_label").as("vote")),
          "neighbor_id")
        .groupBy("src_id", "vote")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("src_id").orderBy(col("n").desc, col("vote").asc)
      val pick = votes
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("src_id").as("vec_id"), col("vote").as("picked"))
      // next round's vote source (and the final join)
      cur = Caches.persist(base.join(pick, Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("is_seed"), col("true_label")).otherwise(col("picked")).as("pred_label")))
    }
    base.join(cur, "vec_id")
      .select("vec_id", "is_seed", "true_label", "pred_label")
  }
}
