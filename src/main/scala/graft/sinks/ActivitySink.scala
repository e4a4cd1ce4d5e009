package graft.sinks

import graft.ingest.Pipeline
import graft.sources.CdcSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K1 — the materialized activity table (reference: event_processor.py:89-113
  * writing cassandra-init.cql:6-15).
  *
  * The reference's whole read path works because the activity table is
  * materialized partitioned by `user_id` and clustered newest-first
  * (cassandra-init.cql:14-15). The Spark-native equivalent:
  *
  *  - '''hash-bucket directory partitioning''': `user_bucket`, the hash
  *    of `user_id` modulo N, as a partition directory column. A feed read
  *    computes the buckets of the followee set and prunes to those
  *    directories — genuine partition pruning with a bounded directory
  *    count (N, not |users|), which is what survives 100 TB / 1000
  *    executors. (Spark's `bucketBy` would also give bucket pruning but
  *    requires a metastore table; the directory form works on any path.)
  *  - '''clustering order''': `sortWithinPartitions(user_id,
  *    event_timestamp desc, activity_pk desc)` reproduces the CQL
  *    clustering order inside every parquet file, so per-user pages are
  *    contiguous row-group ranges and min/max stats stay tight.
  *
  * [[materialized]] builds the table once per fixture dir (then reuses it),
  * and persists the read-back DataFrame — the engine-scoped substitution for
  * the reference's Redis result cache (S4/K2, main.py:143-146,184; the
  * reference caches pages forever with no invalidation, we scope the cache
  * to the session instead, SURVEY.md §2.10 item 6).
  */
object ActivitySink {

  val defaultBuckets = 64

  /** The activity table's layout: bucketed by user, files in the CQL
    * clustering order; rows are not deduplicated (see
    * [[runToActivityTable]]). */
  private[graft] val table = BucketedSink("user_id", "user_bucket",
    Seq(col("user_id"), col("event_timestamp").desc, col("activity_pk").desc))

  /** Write the canonical activity table: bucket-partitioned directories,
    * clustering-sorted files. */
  def write(activity: DataFrame, path: String): Unit =
    table.write(activity, path, defaultBuckets, "overwrite")

  /** Append one micro-batch into the same layout (streaming K1). Each
    * batch adds clustering-sorted files under the bucket directories; a
    * periodic [[compact]] restores one-file-per-bucket when batch counts
    * grow. */
  def appendBatch(activity: DataFrame, path: String): Unit =
    table.write(activity, path, defaultBuckets, "append")

  /** The K1 write path in streaming form (≙ event_processor.py:89-113):
    * checkpointed foreachBatch into the bucketed/clustered layout, so the
    * serving table the feed queries read is maintained continuously.
    * Delivery semantics: see [[BucketedSink.runToTable]] — rows carry the
    * deterministic `activity_pk` key, so readers needing exactly-once
    * apply `dropDuplicates(activity_type, activity_pk)`. */
  def runToActivityTable(
      activity: DataFrame,
      path: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    BucketedSink.runToTable(activity, path, checkpointPath, appendBatch(_, path))

  /** Compact an activity table that [[runToActivityTable]] has been
    * appending into (VERDICT r3 item 8 — without this, streaming cadence
    * accumulates small files until scan throughput decays); mechanics and
    * the quiesced-writer contract in [[BucketedSink.compact]]. */
  def compact(spark: SparkSession, path: String): Unit =
    table.compact(spark, path, defaultBuckets)

  def read(spark: SparkSession, path: String): DataFrame =
    table.read(spark, path)

  /** Bucket ids of a small keyed DataFrame of `user_id` (a followee
    * IN-list) — used to prune the feed scan to the followees' partitions.
    * One small int per key is collected and deduplicated on the driver, so
    * over [[graft.serve.FeedQueries.followeesOf]]'s local relation this
    * runs no Spark job (reference: main.py:149-154). */
  def bucketsOf(keys: DataFrame): Seq[Int] =
    keys
      .select(table.bucket(defaultBuckets))
      .collect()
      .map(_.getInt(0))
      .distinct
      .toSeq

  /** The materialized activity table for a fixture dir (built once per JVM
    * through [[graft.util.ArtifactMemo]], persisted MEMORY_AND_DISK
    * thereafter). Columns: canonical 7 + the deterministic `activity_pk`
    * tiebreak + `user_bucket`. */
  def materialized(spark: SparkSession, sfDir: String): DataFrame =
    table.materialized(spark, "activity", sfDir, defaultBuckets) {
      val (l, c, s, f) = CdcSource.all(spark, sfDir)
      // A2: observe() on the write-side plan — the Spark-native counterpart
      // of the reference's processed-events counter (connection_state.py:8-9,
      // event_processor.py:73-74); metrics surface via QueryExecutionListener.
      Pipeline
        .activity(l, c, s, f)
        .observe("graft_ingest", count(lit(1)).as("events_written"))
    }
}
