package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contrastive training-pair mining over the embedding corpus — the data
  * engine's side of embedding-model training (SimCSE/E5-style): for each
  * anchor, emit its nearest neighbor as the POSITIVE and the next-nearest
  * non-duplicate neighbors as HARD NEGATIVES (the negatives that actually
  * carry gradient — random negatives are trivially separable; ANN-mined
  * near-misses are not). Built on [[Similarity.ivfTopK]], so mining cost
  * is the sublinear probe shape, not a corpus cross-join — at 100 TB this
  * is THE standard mining loop (e.g. the BEIR/GTR hard-negative recipe)
  * run as one deterministic, fully DuckDB-oracle-able query.
  *
  * Semantics per anchor (vec_id < numQueries):
  *  - positive  = rank-1 IVF neighbor (the near-dup / augmentation twin);
  *  - negatives = the next `kNeg` neighbors with sim < 0.95 —
  *    near-misses, but provably not duplicates of the anchor (a duplicate
  *    labeled "negative" would teach the model to separate identical
  *    content; the ceiling excises that classic mining bug);
  *  - `margin_r` = pos_sim − neg_sim, the quantity a triplet loss would
  *    see — tiny margins are the valuable pairs.
  *
  * [[labelAudit]] grades the mined set against the held-out `label`
  * column: a hard negative sharing the anchor's label is a FALSE negative
  * (mining pulled a same-class item); the per-anchor false-negative share
  * is the standard health metric for a mining pipeline (high share →
  * raise the 0.95 ceiling or re-rank with a cross-encoder downstream).
  */
object Contrastive {

  /** Mined (anchor, positive, hard-negative) triples with margins. */
  def pairs(
      embeddings: DataFrame,
      numQueries: Int = 20,
      kNeg: Int = 5): DataFrame = {
    // over-fetch: rank-1 is the positive, negatives need kNeg survivors
    // AFTER the dup-ceiling cut; 3× slack keeps the probe single-pass.
    val top = Similarity.ivfTopK(embeddings, numQueries, k = 1 + 3 * kNeg)
    val pos = top.where(col("rank") === 1)
      .select(col("q_id"), col("neighbor_id").as("pos_id"),
        col("sim_r").as("pos_sim_r"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim_r").desc, col("neighbor_id"))
    val negs = top.where(col("rank") > 1 && col("sim_r") < 0.95)
      .withColumn("neg_rnk", row_number().over(w))
      .where(col("neg_rnk") <= kNeg)
      .select(col("q_id"), col("neg_rnk"), col("neighbor_id").as("neg_id"),
        col("sim_r").as("neg_sim_r"))
    pos.join(negs, Seq("q_id"))
      .select(col("q_id"), col("pos_id"), col("pos_sim_r"),
        col("neg_rnk"), col("neg_id"), col("neg_sim_r"),
        round(col("pos_sim_r") - col("neg_sim_r"), 6).as("margin_r"))
      .orderBy("q_id", "neg_rnk")
  }

  /** Mining health per anchor: how many hard negatives share the anchor's
    * `label` (false negatives), and whether the positive does (it should —
    * `pos_label_match` ≈ 1 validates rank-1-as-positive). */
  def labelAudit(
      embeddings: DataFrame,
      numQueries: Int = 20,
      kNeg: Int = 5): DataFrame = {
    val lbl = embeddings.select(col("vec_id"), col("label"))
    pairs(embeddings, numQueries, kNeg)
      .join(broadcast(lbl.select(col("vec_id").as("q_id"), col("label").as("q_lbl"))),
        Seq("q_id"))
      .join(broadcast(lbl.select(col("vec_id").as("pos_id"), col("label").as("p_lbl"))),
        Seq("pos_id"))
      .join(broadcast(lbl.select(col("vec_id").as("neg_id"), col("label").as("n_lbl"))),
        Seq("neg_id"))
      .groupBy("q_id")
      .agg(
        count(lit(1)).as("n_negs"),
        max(when(col("p_lbl") === col("q_lbl"), 1).otherwise(0))
          .cast("int").as("pos_label_match"),
        sum(when(col("n_lbl") === col("q_lbl"), 1L).otherwise(0L))
          .as("n_false_negs"))
      .withColumn("false_neg_share_r",
        round(col("n_false_negs").cast("double") / col("n_negs"), 6))
      .orderBy("q_id")
  }
}
