package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CDC -> uniform activity projections (P1-P4) as one four-row table.
  *
  * The reference implements these as four strategy classes that build a
  * `CassandraRecord` dict per event, picked by the message's table
  * (reference: strategy.py:21-149). Here each strategy is one [[Adapter]]
  * row, and [[activity]] routes every CDC row on `__source_table`: each
  * output column is one `CASE` over the rows — a pure `Column` projection,
  * no UDF, fully codegen'd. A typed per-table frame carries one table's
  * columns only, so its `CASE` is that table's expression alone, and the
  * routing filter on its literal `__source_table` folds away. At 100 TB
  * this is a narrow (shuffle-free) map stage.
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

  /** How one source table's CDC row becomes an activity: the actor and
    * target columns, and the metadata extras as (key, source column). */
  final case class Adapter(
      table: String,
      activityType: String,
      actor: String,
      target: String,
      targetType: String,
      extras: Seq[(String, String)] = Nil) {
    def sourceColumns: Seq[String] = "id" +: actor +: target +: extras.map(_._2)
  }

  val all: Seq[Adapter] = Seq(
    // P1 — likes: actor is `liked_by`, target is the liked shard
    // (reference: strategy.py:21-47)
    Adapter("likes", "LIKE_SHARD", "liked_by", "shard_id", "shard"),
    // P2 — comments: target is the commented shard; metadata carries the
    // comment `message` (reference: strategy.py:49-76)
    Adapter("comments", "COMMENT_SHARD", "user_id", "shard_id", "shard",
      Seq("message" -> "message")),
    // P3 — shards (posts): target is the new shard itself; template_type
    // comes from the camelCase source column `templateType`
    // (reference: strategy.py:78-108, postgres-init.sql:53)
    Adapter("shards", "CREATE_SHARD", "user_id", "id", "shard",
      Seq("template_type" -> "templateType", "mode" -> "mode",
        "type" -> "type", "title" -> "title")),
    // P4 — followers: the follow event is attributed to the *follower*,
    // target is the followed user — keep exactly this asymmetry
    // (reference: strategy.py:110-135; SURVEY.md §2.10 item 4)
    Adapter("followers", "FOLLOW_USER", "follower_id", "following_id", "user"))

  /** Metadata map column: base keys + per-table extras.
    * Stringly-typed on purpose (SURVEY.md §2.10 item 7). */
  private def metadata(a: Adapter): Column = {
    val base: Seq[Column] = Seq(
      lit("source_table"), col("__table"),
      lit("primary_key_value"), col("id").cast("string"),
      lit("primary_key_field"), lit("id"),
      lit("primary_key_type"), lit("integer"))
    val extra = a.extras.flatMap { case (k, c) => Seq(lit(k), col(c)) }
    map((base ++ extra): _*)
  }

  /** The activity rows of a CDC frame: the parsed envelope of any table, or
    * a typed frame of one table. Uses the adapters whose source columns the
    * frame carries; rows of any other `__source_table` are dropped. */
  def activity(cdc: DataFrame): DataFrame = {
    val rows = all.filter(_.sourceColumns.forall(cdc.columns.contains))
    require(rows.nonEmpty,
      s"no adapter reads a frame of columns ${cdc.columns.mkString(", ")}")
    // the last row is the ELSE: the filter below admits only these
    // tables, and a frame of one table gets that table's columns as is
    def from(a: Adapter): Column = col("__source_table") === a.table
    def routed(value: Adapter => Column): Column = rows.init match {
      case Seq() => value(rows.last)
      case first +: more =>
        more.foldLeft(when(from(first), value(first)))((c, a) => c.when(from(a), value(a)))
          .otherwise(value(rows.last))
    }
    cdc.where(col("__source_table").isin(rows.map(_.table): _*))
      .select(
        routed(a => col(a.actor).cast("string")).as("user_id"),
        routed(a => lit(a.activityType)).as("activity_type"),
        timestamp_millis(col("__source_ts_ms")).as("event_timestamp"),
        routed(a => col(a.target).cast("string")).as("target_id"),
        routed(a => lit(a.targetType)).as("target_type"),
        routed(metadata).as("metadata"),
        col("id").as("activity_pk"))
  }
}
