package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus tier's K1: cleaned training shards landed in a bucketed,
  * compacted serving layout with the same checkpoint/restart discipline
  * as the CDC tier's [[ActivitySink]] (VERDICT r6 item 4 — the
  * `cleanStream*` gates previously ended at test sinks; a real pipeline
  * owns the layout its tokenizer/packer reads).
  *
  * Layout policy (vs the activity table's user/recency clustering):
  *  - bucket key is `doc_id` — every downstream per-doc join (embeddings,
  *    LM scores, pack assignments) is doc_id-keyed, so aligned hash
  *    buckets let those joins co-locate without a corpus shuffle;
  *  - files sort by `doc_id` ascending — tight min/max row-group stats on
  *    the join/lookup key, and deterministic shard order for a reader
  *    that streams docs into a packer.
  *
  * The streamed frame is [[graft.streaming.CorpusIngest.cleanStream]]'s
  * output. Run the gate with `keepText = true` to land TRAINING SHARDS
  * (text included — what a tokenizer/packer reads directly); the default
  * skinny frame lands the cleaned-corpus MANIFEST (doc_id, source, fp,
  * quality_r, event_ts), which consumers join back to raw storage or to
  * embeddings/scores on the aligned doc_id buckets. fp rides along in
  * both forms so an exactly-once reader can `dropDuplicates("fp")`
  * across the replay window plain parquet appends leave open
  * ([[BucketedSink.runToTable]]).
  */
object CorpusSink {

  val defaultBuckets = 32

  private[sinks] val table = BucketedSink("doc_id", "doc_bucket", Seq(col("doc_id").asc))

  /** Append one micro-batch: doc-bucketed directories, files sorted by
    * doc_id. */
  def appendBatch(clean: DataFrame, path: String): Unit =
    table.write(clean, path, defaultBuckets, "append")

  /** The corpus write path in streaming form: checkpointed foreachBatch
    * of a `cleanStream*` frame into the bucketed layout. Restart/replay
    * semantics per [[BucketedSink.runToTable]] (marker-fenced batches;
    * clean restarts never duplicate). */
  def runToCorpusTable(
      clean: DataFrame,
      path: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    BucketedSink.runToTable(clean, path, checkpointPath, appendBatch(_, path))

  /** Compact accumulated per-batch files back to one-file-per-bucket;
    * contract in [[BucketedSink.compact]]. */
  def compact(spark: SparkSession, path: String): Unit =
    table.compact(spark, path, defaultBuckets)

  def read(spark: SparkSession, path: String): DataFrame =
    table.read(spark, path)
}
