package graft.model

import org.apache.spark.sql.types._

/** Schema system for the engine.
  *
  * Source-table schemas mirror the reference's CDC-captured Postgres tables
  * (reference: postgres-init.sql:4-11, 41-47, 49-59, 61-67) flattened through
  * the Debezium `ExtractNewRecordState` transform, which appends four
  * meta-fields (reference: debezium-connectors/debezium-postgres-connector.config.json:15-19):
  * `__op`, `__table`, `__source_ts_ms`, `__source_table` (plus `__deleted`
  * under delete.handling.mode=rewrite, config.json:18).
  *
  * Types follow FIXTURES.md: serial -> LongType, text -> StringType,
  * enum -> StringType, timestamp -> TimestampType, ts_ms -> LongType.
  */
object Schemas {

  /** Debezium meta-fields present on every flattened CDC event. */
  val cdcMetaFields: Seq[StructField] = Seq(
    StructField("__op", StringType),            // 'c' | 'u' | 'd'
    StructField("__table", StringType),
    StructField("__source_ts_ms", LongType),    // commit epoch-millis
    StructField("__source_table", StringType),
    StructField("__deleted", StringType)        // "true"/"false" (rewrite mode)
  )

  private def cdc(fields: StructField*): StructType =
    StructType(fields ++ cdcMetaFields)

  /** likes (reference: postgres-init.sql:41-47). */
  val likesCdc: StructType = cdc(
    StructField("id", LongType),
    StructField("shard_id", LongType),
    StructField("liked_by", StringType),
    StructField("updated_at", StringType),
    StructField("created_at", StringType)
  )

  /** comments (reference: postgres-init.sql:4-11). */
  val commentsCdc: StructType = cdc(
    StructField("id", LongType),
    StructField("message", StringType),
    StructField("user_id", StringType),
    StructField("shard_id", LongType),
    StructField("updated_at", StringType),
    StructField("created_at", StringType)
  )

  /** shards (reference: postgres-init.sql:49-59). Note camelCase
    * `templateType` source column (postgres-init.sql:53). */
  val shardsCdc: StructType = cdc(
    StructField("id", LongType),
    StructField("title", StringType),
    StructField("user_id", StringType),
    StructField("templateType", StringType),
    StructField("mode", StringType),            // 'normal' | 'collaboration'
    StructField("type", StringType),            // 'public' | 'private' | 'forked'
    StructField("last_sync_timestamp", StringType),
    StructField("updated_at", StringType),
    StructField("created_at", StringType)
  )

  /** followers (reference: postgres-init.sql:61-67). */
  val followersCdc: StructType = cdc(
    StructField("id", LongType),
    StructField("follower_id", StringType),
    StructField("following_id", StringType),
    StructField("updated_at", StringType),
    StructField("created_at", StringType)
  )

  /** The one envelope every CDC message is parsed with: the field-by-field
    * union of the four table schemas (field types agree across tables).
    * A field another table owns parses to null, and `__source_table`
    * routes the row (reference dispatch: enums.py:4-9, strategy.py:137-149). */
  val cdcEnvelope: StructType = StructType(
    Seq(likesCdc, commentsCdc, shardsCdc, followersCdc)
      .flatMap(_.fields).distinctBy(_.name))
}
