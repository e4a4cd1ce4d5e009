package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of the batch follow-graph connected components
  * ([[graft.serve.GraphStats.followComponents]]) — VERDICT r11 item 6,
  * completing the pattern the sketch tier set (StreamHeavyHitters sharing
  * mgFold with the batch Misra–Gries): the graph tier's component labels
  * maintained incrementally over the CDC follow stream.
  *
  * Architecture is the [[graft.ingest.CurrentState]] fold: a checkpointed
  * foreachBatch merges each edge micro-batch into a persisted label table
  * via write-new + swap. The merge input is the persisted table's STAR
  * edges (member → component label) unioned with the batch's new edges —
  * the star form preserves the connectivity relation of every edge seen
  * so far in O(vertices) rows, so each fold runs the label-propagation
  * loop over O(V + |batch|) edges, never a rescan of the full edge
  * history (the DedupIndex discipline applied to graphs). Labels are min
  * vertex ids, and min(star ∪ batch) over a merged component equals the
  * min over its full member set, so the fold's labels are IDENTICAL to a
  * batch run over all edges (StreamComponentsSpec pins batch ≡ replayed
  * stream on the fixture graph, including a bridge edge arriving in a
  * later batch that merges two existing components).
  *
  * Scale posture: per batch, one distinct() on the batch edges, the
  * persisted-label scan (V rows, two longs each), and the components
  * loop's two long-only shuffles per round; the swap write is V rows.
  * Exactly-once: the fold is idempotent — re-merging an already-folded
  * batch adds edges the star set already spans, reproducing the same
  * labels — so a foreachBatch replay after a checkpoint failure is
  * harmless (same argument as CurrentState's latest-wins replay).
  */
object StreamComponents {

  /** One fold step, exposed for the spec: merge an edge micro-batch into
    * the label table at `path` (missing table = empty graph). */
  def foldBatch(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newEdges = graft.serve.GraphStats.followEdges(batch)
    graft.util.SwapDirs.replace(fs, hPath) { tmp =>
      val merged =
        if (fs.exists(hPath)) {
          // star edges: every labeled vertex → its component's min id.
          // The min vertex's own star is a self-loop (label == id) and is
          // dropped — its membership survives via the other members'
          // stars, and components never tracks edgeless singletons.
          val stars = spark.read.parquet(path)
            .select(col("user_id").as("doc_a"),
              col("component_id").as("doc_b"))
            .where(col("doc_a") =!= col("doc_b"))
          graft.ext.Dedup.components(stars.unionByName(newEdges))
        } else graft.ext.Dedup.components(newEdges)
      merged
        .select(col("doc_id").as("user_id"), col("cluster_id").as("component_id"))
        .write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** Streaming maintenance of the component-label table over a CDC
    * follower stream. */
  def runComponentsTable(
      followers: DataFrame,
      path: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.util.Drain.availableNow(followers, checkpointPath)(
      (batch, _) => foldBatch(batch, path))

  /** Read the maintained labels in the batch operator's output shape. */
  def readComponents(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path).orderBy("user_id")
}
