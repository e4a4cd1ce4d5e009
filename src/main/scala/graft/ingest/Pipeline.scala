package graft.ingest

import graft.expr.TimeUuid
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The core dataflow: CDC envelopes -> admission gates -> the adapter
  * table, routed on `__source_table` -> activity stream (reference:
  * event_processor.py poll loop 45-79 + strategy factory 137-149,
  * re-expressed as one declarative plan). A multiplexed stream is parsed
  * once with one envelope schema ([[CdcEnvelope.parse]]) and projected once
  * ([[Adapters.activity]]); the four typed batch frames go through the same
  * projection and are unioned.
  *
  * Works identically on batch and streaming DataFrames — the plan is the
  * same; only the source binding differs (parquet fixtures here, Kafka
  * `readStream` in production, MemoryStream in tests).
  *
  * Scale notes: the whole pipeline is narrow (filter+project+union) — no
  * shuffle at any width. On a 1000-executor cluster it parallelizes by
  * source partition with zero coordination; the only wide operation in the
  * system is the optional exactly-once dedup, which shuffles on the
  * deterministic event key once.
  */
object Pipeline {

  /** Batch/streaming activity stream from the four typed CDC branches.
    * Applies F2+F3 admission, P1-P4 projections, unions by name
    * (SURVEY.md §2.6), and appends the time-ordered `activity_id`
    * clustering key (X1). */
  def activity(
      likes: DataFrame,
      comments: DataFrame,
      shards: DataFrame,
      followers: DataFrame): DataFrame =
    activityRaw(likes, comments, shards, followers).withColumn(
      "activity_id",
      TimeUuid.timeuuid(unix_millis(col("event_timestamp"))))

  /** Same plan without the generated `activity_id` — the deterministic core
    * used by oracle-checked queries (SURVEY.md §7.4 item 1: generated ids are
    * excluded from hashed output). */
  def activityRaw(
      likes: DataFrame,
      comments: DataFrame,
      shards: DataFrame,
      followers: DataFrame): DataFrame =
    Seq(likes, comments, shards, followers)
      .map(t => Adapters.activity(CdcEnvelope.admitted(t)))
      .reduce(_ unionByName _)

  /** The canonical 7-column sink shape (reference: cassandra-init.cql:6-15),
    * dropping internal columns. */
  def canonical(activity: DataFrame): DataFrame =
    activity.select(
      col("user_id"), col("activity_id"), col("activity_type"),
      col("event_timestamp"), col("target_id"), col("target_type"),
      col("metadata"))

  /** Deterministic event identity for effectively-once delivery: the
    * (source table, pk, commit ts) triple identifies a CDC event across
    * replays. `dropDuplicates` on it upgrades the reference's at-least-once
    * (README.md:4) to effectively-once (SURVEY.md §2.9). In streaming use
    * [[dedupedStreaming]] so state is bounded by a watermark. */
  val eventKey: Seq[String] = Seq("activity_type", "activity_pk", "event_timestamp")

  def deduped(activity: DataFrame): DataFrame =
    activity.dropDuplicates(eventKey)

  /** Streaming variant: watermark bounds the dedup state store. The
    * one-hour horizon must exceed any realistic replay window (SURVEY.md
    * §7.4 item 3). */
  def dedupedStreaming(activity: DataFrame): DataFrame =
    activity.withWatermark("event_timestamp", "1 hour").dropDuplicates(eventKey)
}
