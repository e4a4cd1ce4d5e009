package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-table CDC -> uniform activity projections (P1-P4).
  *
  * The reference implements these as four strategy classes that build a
  * `CassandraRecord` dict per event (reference: strategy.py:21-135). Here
  * each adapter is a pure `Column` projection — no UDF, no runtime dispatch,
  * fully codegen'd and constant-folded by Catalyst. At 100 TB this is a
  * narrow (shuffle-free) map stage.
  *
  * Common output shape (reference: config.py:18-25):
  *   user_id, activity_type, event_timestamp, target_id, target_type,
  *   metadata map<string,string>, activity_pk (internal: source row pk, used
  *   as the deterministic sort tiebreak; dropped at the sink edge).
  *
  * All adapters carry the metadata base keys
  * {source_table, primary_key_value, primary_key_field, primary_key_type}
  * (reference: strategy.py:41-46,69-75,98-107,129-134); comments add
  * `message`, shards add `template_type`/`mode`/`type`/`title`.
  */
object Adapters {

  /** Metadata map column: base keys + per-table extras.
    * Stringly-typed on purpose (SURVEY.md §2.10 item 7). */
  private def metadata(extras: (String, Column)*): Column = {
    val base: Seq[Column] = Seq(
      lit("source_table"), col("__table"),
      lit("primary_key_value"), col("id").cast("string"),
      lit("primary_key_field"), lit("id"),
      lit("primary_key_type"), lit("integer"))
    val extra = extras.flatMap { case (k, v) => Seq(lit(k), v) }
    map((base ++ extra): _*)
  }

  private def common(
      userId: Column,
      activityType: String,
      targetId: Column,
      targetType: String,
      meta: Column): Seq[Column] = Seq(
    userId.cast("string").as("user_id"),
    lit(activityType).as("activity_type"),
    timestamp_millis(col("__source_ts_ms")).as("event_timestamp"),
    targetId.cast("string").as("target_id"),
    lit(targetType).as("target_type"),
    meta.as("metadata"),
    col("id").as("activity_pk"))

  /** P1 — likes: actor is `liked_by`, target is the liked shard
    * (reference: strategy.py:21-47). */
  def likes(cdc: DataFrame): DataFrame =
    cdc.select(common(
      userId = col("liked_by"),
      activityType = "LIKE_SHARD",
      targetId = col("shard_id"),
      targetType = "shard",
      meta = metadata()): _*)

  /** P2 — comments: actor is `user_id`, target is the commented shard;
    * metadata additionally carries the comment `message`
    * (reference: strategy.py:49-76). */
  def comments(cdc: DataFrame): DataFrame =
    cdc.select(common(
      userId = col("user_id"),
      activityType = "COMMENT_SHARD",
      targetId = col("shard_id"),
      targetType = "shard",
      meta = metadata("message" -> col("message"))): _*)

  /** P3 — shards (posts): actor is `user_id`, target is the new shard
    * itself; metadata carries template_type (from camelCase source column
    * `templateType`, reference postgres-init.sql:53), mode, type, title
    * (reference: strategy.py:78-108). */
  def shards(cdc: DataFrame): DataFrame =
    cdc.select(common(
      userId = col("user_id"),
      activityType = "CREATE_SHARD",
      targetId = col("id"),
      targetType = "shard",
      meta = metadata(
        "template_type" -> col("templateType"),
        "mode" -> col("mode"),
        "type" -> col("type"),
        "title" -> col("title"))): _*)

  /** P4 — followers: the follow event is attributed to the *follower*
    * (user_id=follower_id), target is the followed user — keep exactly this
    * asymmetry (reference: strategy.py:110-135; SURVEY.md §2.10 item 4). */
  def followers(cdc: DataFrame): DataFrame =
    cdc.select(common(
      userId = col("follower_id"),
      activityType = "FOLLOW_USER",
      targetId = col("following_id"),
      targetType = "user",
      meta = metadata()): _*)
}
