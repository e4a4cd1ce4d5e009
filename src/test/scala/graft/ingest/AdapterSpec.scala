package graft.ingest

import graft.SparkSuite
import graft.model.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Column-level adapter expectations on the FIXTURES.md §2 representative
  * envelope rows (≙ reference strategy.py:21-135). */
class AdapterSpec extends SparkSuite {

  import spark.implicits._

  private def activity(json: String) =
    Adapters.activity(CdcEnvelope.admitted(CdcEnvelope.parse(Seq(json).toDF("value"))))

  test("P1 likes → LIKE_SHARD activity") {
    val json =
      """{"id":7,"shard_id":3,"liked_by":"2","updated_at":null,
         |"created_at":"2025-07-11T10:00:00Z","__op":"c","__table":"likes",
         |"__source_ts_ms":1752228000000,"__source_table":"likes"}""".stripMargin.replace("\n", "")
    val out = activity(json).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("user_id") === "2")
    assert(r.getAs[String]("activity_type") === "LIKE_SHARD")
    assert(r.getAs[String]("target_id") === "3")
    assert(r.getAs[String]("target_type") === "shard")
    assert(r.getAs[java.sql.Timestamp]("event_timestamp").getTime === 1752228000000L)
    val md = r.getAs[Map[String, String]]("metadata")
    assert(md("source_table") === "likes")
    assert(md("primary_key_value") === "7")
    assert(md("primary_key_field") === "id")
    assert(md("primary_key_type") === "integer")
  }

  test("P2 comments carries message in metadata") {
    val json =
      """{"id":4,"message":"nice shard!","user_id":"2","shard_id":3,
         |"updated_at":null,"created_at":"2025-07-11T10:01:00Z","__op":"c",
         |"__table":"comments","__source_ts_ms":1752228060000,
         |"__source_table":"comments"}""".stripMargin.replace("\n", "")
    val r = activity(json).collect().head
    assert(r.getAs[String]("activity_type") === "COMMENT_SHARD")
    assert(r.getAs[String]("target_id") === "3")
    assert(r.getAs[Map[String, String]]("metadata")("message") === "nice shard!")
  }

  test("P3 shards: target is the new shard itself; enum metadata kept") {
    val json =
      """{"id":6,"title":"My Sixth Shard","user_id":"2","templateType":"react",
         |"mode":"normal","type":"public","last_sync_timestamp":"2025-07-11T10:02:00Z",
         |"updated_at":null,"created_at":"2025-07-11T10:02:00Z","__op":"c",
         |"__table":"shards","__source_ts_ms":1752228120000,
         |"__source_table":"shards"}""".stripMargin.replace("\n", "")
    val r = activity(json).collect().head
    assert(r.getAs[String]("activity_type") === "CREATE_SHARD")
    assert(r.getAs[String]("target_id") === "6")
    val md = r.getAs[Map[String, String]]("metadata")
    assert(md("template_type") === "react")
    assert(md("mode") === "normal")
    assert(md("type") === "public")
    assert(md("title") === "My Sixth Shard")
  }

  test("P4 followers: activity attributed to the follower (asymmetry kept)") {
    val json =
      """{"id":2,"follower_id":"2","following_id":"1","updated_at":null,
         |"created_at":"2025-07-11T10:03:00Z","__op":"c","__table":"followers",
         |"__source_ts_ms":1752228180000,"__source_table":"followers"}""".stripMargin.replace("\n", "")
    val r = activity(json).collect().head
    assert(r.getAs[String]("user_id") === "2")       // the follower acts
    assert(r.getAs[String]("target_id") === "1")     // the followed is the target
    assert(r.getAs[String]("target_type") === "user")
    assert(r.getAs[String]("activity_type") === "FOLLOW_USER")
  }

  test("one envelope parse of a mixed batch gives the per-table typed rows") {
    val lines = Seq(
      """{"id":7,"shard_id":3,"liked_by":"2","__op":"c","__table":"likes","__source_ts_ms":1752228000000,"__source_table":"likes"}""",
      """{"id":4,"message":"nice shard!","user_id":"2","shard_id":3,"__op":"c","__table":"comments","__source_ts_ms":1752228060000,"__source_table":"comments"}""",
      // a field that belongs to another table, of the wrong type: nulls
      // only that field, not the envelope
      """{"id":6,"title":"My Sixth Shard","user_id":"2","templateType":"react","mode":"normal","type":"public","shard_id":"not-a-number","__op":"c","__table":"shards","__source_ts_ms":1752228120000,"__source_table":"shards"}""",
      """{"id":2,"follower_id":"2","following_id":"1","__op":"c","__table":"followers","__source_ts_ms":1752228180000,"__source_table":"followers"}""",
      """{"id":9,"name":"x","__op":"c","__table":"users","__source_ts_ms":1752228200000,"__source_table":"users"}""",
      """{"id":8,"shard_id":3,"liked_by":"9","__op":"u","__table":"likes","__source_ts_ms":1752228240000,"__source_table":"likes"}""",
      """{"id":5,"shard_id":3,"liked_by":"2","__source_table":"likes"}""",
      """{"id":3,"follower_id":"4","follo""").toDF("value")
    // the per-table path: each table's own schema, its rows kept by name
    def typed(table: String, schema: StructType): DataFrame =
      lines.select(from_json(col("value"), schema).as("r")).select(col("r.*"))
        .where(col("__source_table") === table)
    val expected = Pipeline.activityRaw(
      typed("likes", Schemas.likesCdc), typed("comments", Schemas.commentsCdc),
      typed("shards", Schemas.shardsCdc), typed("followers", Schemas.followersCdc))
    def rows(df: DataFrame) = df.orderBy("activity_pk").collect().toSeq
    val got = rows(graft.streaming.StreamingIngest.activityStream(lines))
    assert(got.map(_.getAs[Long]("activity_pk")) === Seq(2L, 4L, 6L, 7L))
    assert(got === rows(expected))
  }
}
