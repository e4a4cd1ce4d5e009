package graft.serve

import graft.SparkSuite
import graft.sinks.ActivitySink
import org.apache.spark.sql.functions._

/** The followee IN-list of the two-hop feed read (reference:
  * main.py:149-168): how [[FeedQueries.followeesOf]] and
  * [[ActivitySink.bucketsOf]] treat empty, null and repeated follow edges,
  * and that the materialized page built on them is the broadcast
  * semi-join page. */
class FolloweeListSpec extends SparkSuite {

  import spark.implicits._

  // 100 activities of 4 followees + 50 of others, deterministic times
  private lazy val activity = (1 to 150).map { i =>
    val uid = if (i <= 100) s"u${i % 4}" else s"x${i % 7}"
    (uid, "LIKE_SHARD", new java.sql.Timestamp(1700000000000L + i * 1000L),
      i.toString, "shard", i.toLong)
  }.toDF("user_id", "activity_type", "event_timestamp", "target_id",
    "target_type", "activity_pk")

  private lazy val table = {
    val path = tmpDir("graft_followee_list") + "/activity"
    ActivitySink.write(activity, path)
    ActivitySink.read(spark, path)
  }

  private def ids(followees: org.apache.spark.sql.DataFrame): Seq[String] =
    followees.collect().map(_.getString(0)).toSeq

  private def materializedPage(followers: org.apache.spark.sql.DataFrame, uid: String,
      limit: Int, offset: Int = 0): Seq[Long] = {
    val followees = FeedQueries.followeesOf(followers, uid)
    FeedQueries.feedPageMaterialized(table, ActivitySink.bucketsOf(followees), followees,
      limit, offset).collect().map(_.getAs[Long]("activity_pk")).toSeq
  }

  test("a reader with no followees gets an empty page, not an error") {
    val followers = Seq(("me", "u0")).toDF("follower_id", "following_id")
    val followees = FeedQueries.followeesOf(followers, "nobody")
    assert(ids(followees).isEmpty)
    assert(ActivitySink.bucketsOf(followees).isEmpty)
    assert(materializedPage(followers, "nobody", limit = 20).isEmpty)
    assert(materializedPage(followers, "nobody", limit = 20, offset = 20).isEmpty)
    assert(FeedQueries.feedPage(activity, followers, "nobody", limit = 20).collect().isEmpty)
  }

  test("a follow edge with a null followee is dropped") {
    val followers = Seq(("me", "u0"), ("me", null: String), ("you", "u1"))
      .toDF("follower_id", "following_id")
    assert(ids(FeedQueries.followeesOf(followers, "me")) === Seq("u0"))
    val pks = materializedPage(followers, "me", limit = 100)
    assert(pks.nonEmpty && pks.forall(_ % 4 == 0)) // u0's activities only
  }

  test("a re-follow yields the followee once") {
    val followers = Seq(("me", "u0"), ("me", "u1"), ("me", "u0"))
      .toDF("follower_id", "following_id")
    assert(ids(FeedQueries.followeesOf(followers, "me")).sorted === Seq("u0", "u1"))
  }

  test("the materialized page is the broadcast semi-join page") {
    val followers = Seq(("me", "u0"), ("me", "u1"), ("me", "u3"), ("me", "x2"))
      .toDF("follower_id", "following_id")
    for (offset <- Seq(0, 30, 70)) {
      val expected = FeedQueries.feedPage(activity, followers, "me", limit = 30, offset = offset)
        .collect().map(_.getAs[Long]("activity_pk")).toSeq
      assert(materializedPage(followers, "me", limit = 30, offset = offset) === expected)
    }
  }

  test("bucketsOf on the sf0.001 fixture matches the shuffle-distinct form") {
    val (l, c, s, f) = graft.sources.CdcSource.all(spark, "/root/testdata/sf0.001")
    val users = graft.ingest.Pipeline.activity(l, c, s, f).select("user_id")
    val edges = graft.ingest.CdcEnvelope.admitted(f)
    val reader = edges.select("follower_id").head().getString(0)
    for (keys <- Seq(users, FeedQueries.followeesOf(edges, reader))) {
      val distinctForm = keys
        .select(pmod(hash(col("user_id")), lit(ActivitySink.defaultBuckets)))
        .distinct().collect().map(_.getInt(0)).toSet
      val got = ActivitySink.bucketsOf(keys)
      assert(got.nonEmpty)
      assert(got.size === got.toSet.size) // deduplicated
      assert(got.toSet === distinctForm)
    }
  }
}
