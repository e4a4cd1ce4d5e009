package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming parity (SURVEY.md §2.9): the batch plan bound to MemoryStream,
  * the checkpointed K1 activity-table sink, and the replay-twice proof that
  * watermarked dedup upgrades at-least-once to effectively-once. */
class StreamingSpec extends SparkSuite {

  import spark.implicits._

  private val events = Seq(
    """{"id":7,"shard_id":3,"liked_by":"2","__op":"c","__table":"likes","__source_ts_ms":1752228000000,"__source_table":"likes"}""",
    """{"id":4,"message":"nice shard!","user_id":"2","shard_id":3,"__op":"c","__table":"comments","__source_ts_ms":1752228060000,"__source_table":"comments"}""",
    """{"id":6,"title":"My Sixth Shard","user_id":"2","templateType":"react","mode":"normal","type":"public","__op":"c","__table":"shards","__source_ts_ms":1752228120000,"__source_table":"shards"}""",
    """{"id":2,"follower_id":"2","following_id":"1","__op":"c","__table":"followers","__source_ts_ms":1752228180000,"__source_table":"followers"}""",
    """{"id":8,"shard_id":3,"liked_by":"9","__op":"u","__table":"likes","__source_ts_ms":1752228240000,"__source_table":"likes"}""")

  test("streaming pipeline over MemoryStream produces the 4 activities") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(events: _*)
    val out = tmpDir("graft_stream_out")
    val ckpt = tmpDir("graft_stream_ckpt")
    val q = graft.sinks.ActivitySink.runToActivityTable(
      StreamingIngest.activityStream(mem.toDF().withColumnRenamed("value", "value")),
      out, ckpt)
    q.awaitTermination()
    val res = spark.read.parquet(out)
    assert(res.count() === 4) // the 'u' event is gated out
    assert(res.select("activity_type").distinct().count() === 4)
  }

  test("replayed duplicates are absorbed: effectively-once via dedup") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = tmpDir("graft_replay_out")
    val ckpt = tmpDir("graft_replay_ckpt")

    // batch 1: all events; run to completion
    mem.addData(events: _*)
    graft.sinks.ActivitySink.runToActivityTable(
      StreamingIngest.dedupedActivityStream(mem.toDF()), out, ckpt)
      .awaitTermination()

    // batch 2: the SAME events replayed (≙ at-least-once redelivery),
    // plus one genuinely new event
    val fresh =
      """{"id":99,"shard_id":5,"liked_by":"3","__op":"c","__table":"likes","__source_ts_ms":1752228300000,"__source_table":"likes"}"""
    mem.addData(events :+ fresh: _*)
    graft.sinks.ActivitySink.runToActivityTable(
      StreamingIngest.dedupedActivityStream(mem.toDF()), out, ckpt)
      .awaitTermination()

    val res = spark.read.parquet(out)
    // 4 originals + 1 fresh; replays deduped by the event key
    assert(res.count() === 5)
    assert(res.dropDuplicates("activity_type", "activity_pk").count() === 5)
  }

  test("streaming K1: foreachBatch maintains the bucketed serving layout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = tmpDir("graft_k1_stream_out")
    val ckpt = tmpDir("graft_k1_stream_ckpt")

    mem.addData(events: _*)
    graft.sinks.ActivitySink.runToActivityTable(
      StreamingIngest.dedupedActivityStream(mem.toDF()), out, ckpt)
      .awaitTermination()
    val fresh =
      """{"id":99,"shard_id":5,"liked_by":"3","__op":"c","__table":"likes","__source_ts_ms":1752228300000,"__source_table":"likes"}"""
    mem.addData(fresh)
    graft.sinks.ActivitySink.runToActivityTable(
      StreamingIngest.dedupedActivityStream(mem.toDF()), out, ckpt)
      .awaitTermination()

    val table = spark.read.parquet(out)
    assert(table.count() === 5) // 4 creates + 1 fresh, deduped
    assert(table.columns.contains("user_bucket"))
    // partition pruning works against the streamed layout
    val userBuckets = graft.sinks.ActivitySink.bucketsOf(
      table.select("user_id").distinct())
    assert(userBuckets.nonEmpty)
    val pruned = table.where(org.apache.spark.sql.functions.col("user_bucket")
      .isin(userBuckets: _*))
    assert(pruned.count() === 5)
  }

  test("kafka binding is compiled in-tree and reaches source resolution") {
    // The production constructor runs the real code path: subscribe list,
    // offsets, frame projection. Without the spark-sql-kafka connector jar
    // (absent in this zero-egress env) Spark fails at exactly the
    // data-source lookup — proving the binding is one classpath jar away,
    // not an unexercised docstring claim.
    val e = intercept[Exception] {
      StreamingIngest.kafkaActivityStream(spark, "broker-1:9092,broker-2:9092")
    }
    assert(e.getMessage.toLowerCase.contains("kafka"),
      s"expected kafka source-resolution failure, got: ${e.getMessage}")
    assert(StreamingIngest.topics ===
      Seq("postgres.public.likes", "postgres.public.comments",
        "postgres.public.shards", "postgres.public.followers"))
  }
}
