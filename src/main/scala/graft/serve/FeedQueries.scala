package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feed serving queries (reference: main.py:136-189).
  *
  * Relational semantics (SURVEY.md §3.3):
  * {{{
  *   SELECT a.* FROM user_activity a
  *   LEFT SEMI JOIN (SELECT following_id FROM followers
  *                   WHERE follower_id = :uid) f
  *     ON a.user_id = f.following_id
  *   ORDER BY a.event_timestamp DESC, a.activity_pk DESC
  *   LIMIT :limit OFFSET :offset
  * }}}
  *
  * The reference executes this as two hops (reference: main.py:149-168):
  * a Postgres query fetches the reader's followee ids as a client-side
  * IN-list, then one Cassandra read fetches only those users' partitions.
  * [[followeesOf]] is the first hop — it resolves the follow set once, on
  * the driver, into a local relation. The materialized read
  * ([[feedPageMaterialized]]) is the second: `user_bucket IN (buckets)`
  * prunes the bucket directories and `user_id IN (ids)` is pushed into the
  * parquet scan, so a page is one pruned scan plus top-k — no join, no
  * shuffle. Over the unmaterialized activity stream ([[feedPage]],
  * [[feedPageAfter]]) the same local list is the build side of a
  * broadcast left-semi join.
  *
  * Deviation from the reference, on purpose (SURVEY.md §2.10 item 2): CQL has
  * no OFFSET and no defined cross-partition order for IN queries — the
  * reference's read as written cannot run. We implement the *intended*
  * semantics: a deterministic total order (event time desc, pk desc as
  * tiebreak), then offset/limit.
  *
  * Scale notes: OFFSET over a distributed sort is fine at feed-page depths
  * (Catalyst fuses sort+limit into TakeOrderedAndProject — no global sort
  * materialization), but at 100 TB with deep pagination the right call is
  * keyset pagination ([[feedPageAfter]]) — a pushed-down range predicate
  * instead of skip-scan. Both are provided and both are oracle-checked.
  */
object FeedQueries {

  /** Followee set of `uid` — live follow edges only (creates; the reference
    * never materializes unfollows, SURVEY.md §2.10 item 1) — as the
    * reference's IN-list: collected once, null ids dropped (they match no
    * activity), re-follows deduplicated on the driver, and returned as a
    * local `user_id` relation, so downstream reads of it run no Spark job.
    * (reference: main.py:149-154, S2) */
  def followeesOf(followers: DataFrame, uid: String): DataFrame = {
    val ids = followers
      .where(col("follower_id") === uid && col("following_id").isNotNull)
      .select(col("following_id").as("user_id"))
    followers.sparkSession.createDataFrame(
      java.util.Arrays.asList(ids.collect().distinct: _*), ids.schema)
  }

  /** The flagship feed page: activities of the users `uid` follows, newest
    * first. (reference: main.py:136-189, J1+T1+T2) */
  def feedPage(
      activity: DataFrame,
      followers: DataFrame,
      uid: String,
      limit: Int,
      offset: Int = 0): DataFrame = {
    val page = activity
      .join(broadcast(followeesOf(followers, uid)), Seq("user_id"), "left_semi")
      .orderBy(col("event_timestamp").desc, col("activity_pk").desc)
    (if (offset > 0) page.offset(offset) else page).limit(limit)
  }

  /** Keyset pagination — the 100 TB answer to OFFSET: resume strictly after
    * the last seen (event_timestamp, pk) cursor. The range predicate pushes
    * into the scan; no rows before the cursor are read, let alone sorted. */
  def feedPageAfter(
      activity: DataFrame,
      followers: DataFrame,
      uid: String,
      lastTsMillis: Long,
      lastPk: Long,
      limit: Int): DataFrame = {
    val cursorTs = timestamp_millis(lit(lastTsMillis))
    activity
      .join(broadcast(followeesOf(followers, uid)), Seq("user_id"), "left_semi")
      .where(
        col("event_timestamp") < cursorTs ||
          (col("event_timestamp") === cursorTs && col("activity_pk") < lastPk))
      .orderBy(col("event_timestamp").desc, col("activity_pk").desc)
      .limit(limit)
  }

  /** Per-user top-k (newest k activities per user) — the per-partition
    * clustering-order read of the reference's storage layout
    * (cassandra-init.cql:14-15, T1) as a ranking window. */
  def topKPerUser(activity: DataFrame, k: Int): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("event_timestamp").desc, col("activity_pk").desc)
    activity
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
  }

  /** Skew-safe variant of [[topKPerUser]]: two-stage ranking for hot users.
    * Stage 1 ranks within (user_id, salt) cells — bounding any single
    * task's window state to 1/numSalts of the hottest user — and keeps k
    * per cell; stage 2 re-ranks the ≤ k·numSalts survivors per user.
    * Result is identical to the unsalted form (proven by equivalence test
    * and by sharing its oracle); at 100 TB this is the difference between
    * one straggler task per celebrity user and uniform task sizes. */
  def topKPerUserSalted(activity: DataFrame, k: Int, numSalts: Int = 8): DataFrame = {
    val salted = activity.withColumn(
      "salt", pmod(hash(col("activity_pk")), lit(numSalts)))
    val w1 = Window
      .partitionBy(col("user_id"), col("salt"))
      .orderBy(col("event_timestamp").desc, col("activity_pk").desc)
    val survivors = salted
      .withColumn("rn1", row_number().over(w1))
      .where(col("rn1") <= k)
      .drop("salt", "rn1")
    val w2 = Window
      .partitionBy(col("user_id"))
      .orderBy(col("event_timestamp").desc, col("activity_pk").desc)
    survivors
      .withColumn("rn", row_number().over(w2))
      .where(col("rn") <= k)
  }

  /** X8 — cache-key construction (reference: main.py:143 f-string
    * `user_feed:{user_id}:{limit}:{offset}`), as a Column expression. */
  def cacheKey(uid: String, limit: Int, offset: Int): org.apache.spark.sql.Column =
    concat_ws(":", lit("user_feed"), lit(uid), lit(limit), lit(offset))

  /** P5 — row -> API-shape projection (reference: main.py:169-180): string
    * id, ISO-8601 timestamp, null-safe passthroughs. */
  def render(page: DataFrame): DataFrame =
    page.select(
      col("user_id"),
      col("activity_type"),
      date_format(col("event_timestamp"), "yyyy-MM-dd'T'HH:mm:ss")
        .as("event_time_iso"),
      coalesce(col("target_id"), lit("")).as("target_id"),
      coalesce(col("target_type"), lit("")).as("target_type"),
      col("activity_pk"))

  /** A1 — the page row count returned alongside results
    * (reference: main.py:146,186). */
  def pageCount(page: DataFrame): DataFrame =
    page.agg(count(lit(1)).as("n"))

  /** X9 — JSON page serialization at the API edge (reference: main.py:184,
    * the cache-fill serialization). All fields are rendered to non-null
    * strings first ([[render]]) so Spark's null-omitting `to_json` and the
    * oracle's `struct_pack` agree byte-for-byte. */
  def renderJson(page: DataFrame): DataFrame =
    render(page).select(
      col("activity_pk"),
      to_json(struct(
        col("user_id"), col("activity_type"), col("event_time_iso"),
        col("target_id"), col("target_type"))).as("payload"))

  /** Feed page over the materialized activity table (K1 read path), the
    * reference's second hop (main.py:155-168): prune to the followees'
    * hash-bucket directories — at 100 TB the difference between scanning
    * |followees|/N of the table and all of it — and push the followee
    * IN-list into the same scan, where the clustered files let parquet
    * skip row groups. The page is that one pruned scan plus top-k: one
    * Spark job, no exchange, no join. `followees` is [[followeesOf]]'s
    * local relation, so reading its ids back runs no job; an empty follow
    * set is an empty IN-list and an empty page. */
  def feedPageMaterialized(
      activityTable: DataFrame,
      followeeBuckets: Seq[Int],
      followees: DataFrame,
      limit: Int,
      offset: Int = 0): DataFrame = {
    val ids = followees.select("user_id").collect().map(_.get(0)).toSeq
    val page = activityTable
      .where(graft.sinks.ActivitySink.table.inBuckets(followeeBuckets: _*) &&
        col("user_id").isin(ids: _*))
      .orderBy(col("event_timestamp").desc, col("activity_pk").desc)
    (if (offset > 0) page.offset(offset) else page).limit(limit)
  }
}
