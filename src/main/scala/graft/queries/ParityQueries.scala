package graft.queries

import graft.ingest.{Adapters, CdcEnvelope, Pipeline}
import graft.serve.FeedQueries
import graft.sources.CdcSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked parity queries — every operator of SURVEY.md §2 as a named
  * (DataFrame program, DuckDB SQL) pair over the shared fixtures.
  *
  * Conventions for the driver's hash compare (BASELINE.md):
  *  - every query ends in a total-order sort on unique key(s);
  *  - column names/aliases match the oracle SQL exactly;
  *  - generated ids (timeuuid) and map columns are excluded — maps are
  *    flattened to `md_*` string columns.
  */
object ParityQueries {

  type Q = (SparkSession, String) => DataFrame

  /** metadata map -> flat md_* columns (missing keys -> null, matching the
    * SQL branches' typed NULLs). */
  private val mdCols: Seq[Column] = Seq(
    "source_table", "primary_key_value", "message", "title",
    "template_type", "mode", "type"
  ).map(k => col("metadata").getItem(k).as(s"md_$k"))

  private val coreCols: Seq[Column] = Seq(
    col("user_id"), col("activity_type"), col("event_timestamp"),
    col("target_id"), col("target_type"))

  def flatten(activity: DataFrame): DataFrame =
    activity.select(coreCols ++ mdCols :+ col("activity_pk"): _*)

  /** The full derived activity stream (deterministic core, no timeuuid). */
  def activityFlat(spark: SparkSession, dir: String): DataFrame = {
    val (l, c, s, f) = CdcSource.all(spark, dir)
    flatten(Pipeline.activityRaw(l, c, s, f))
  }

  private def activityCore(spark: SparkSession, dir: String): DataFrame =
    activityFlat(spark, dir).select(coreCols :+ col("activity_pk"): _*)

  /** Live follow edges (creates only) for the feed semi-join. */
  private def followEdges(spark: SparkSession, dir: String): DataFrame =
    CdcEnvelope.admitted(CdcSource.followers(CdcSource.events(spark, dir)))

  /** All four CDC tables as one keyed change stream — `pk = id % 250`
    * folds the synthetic id space so keys genuinely see multiple
    * versions (shared by `cdc_current_state` / `cdc_scd2` /
    * `cdc_state_at`; twin of the oracle `u`/`k` CTEs). */
  private def cdcKeyed(spark: SparkSession, dir: String): DataFrame = {
    val (l, c, sh, f) = CdcSource.all(spark, dir)
    Seq(l, c, sh, f)
      .map(_.select(col("__source_table").as("tbl"), col("id"),
        col("__op"), col("__source_ts_ms").as("ts_ms")))
      .reduce(_ unionByName _)
      .withColumn("pk", pmod(col("id"), lit(250)))
  }

  /** The SCD2 interval CTE both temporal oracles share (twin of
    * [[graft.ingest.Scd2.history]] over [[cdcKeyed]]'s stream). */
  private val scd2Ctes =
    """, u AS (
  SELECT 'likes' AS tbl, id, __op, ts_ms FROM likes_cdc
  UNION ALL SELECT 'comments', id, __op, ts_ms FROM comments_cdc
  UNION ALL SELECT 'shards', id, __op, ts_ms FROM shards_cdc
  UNION ALL SELECT 'followers', id, __op, ts_ms FROM followers_cdc),
h AS (SELECT tbl, id % 250 AS pk, id, __op, ts_ms,
             lead(ts_ms) OVER (PARTITION BY tbl, id % 250
                               ORDER BY ts_ms, id) AS valid_to_ms
      FROM u)"""

  private val feedUid = "1"
  private val feedSql =
    s"""FROM activity
WHERE user_id IN (SELECT DISTINCT following_id FROM followers_cdc
                  WHERE __op = 'c' AND follower_id = '$feedUid')"""

  // ---------------------------------------------------------------- queries

  val defs: Seq[(String, Q, Option[String])] = Seq(

    // P1-P4 + F2/F3: per-table adapter outputs (creates only)
    ("cdc_adapter_likes",
      (s: SparkSession, d: String) => flatten(Adapters.activity(
        CdcEnvelope.admitted(CdcSource.likes(CdcSource.events(s, d)))))
        .orderBy("activity_pk"),
      Some(OracleCte.withCdc(
        "SELECT * FROM act_likes ORDER BY activity_pk"))),

    ("cdc_adapter_comments",
      (s: SparkSession, d: String) => flatten(Adapters.activity(
        CdcEnvelope.admitted(CdcSource.comments(CdcSource.events(s, d)))))
        .orderBy("activity_pk"),
      Some(OracleCte.withCdc(
        "SELECT * FROM act_comments ORDER BY activity_pk"))),

    ("cdc_adapter_shards",
      (s: SparkSession, d: String) => flatten(Adapters.activity(
        CdcEnvelope.admitted(CdcSource.shards(CdcSource.events(s, d)))))
        .orderBy("activity_pk"),
      Some(OracleCte.withCdc(
        "SELECT * FROM act_shards ORDER BY activity_pk"))),

    ("cdc_adapter_follows",
      (s: SparkSession, d: String) => flatten(Adapters.activity(
        CdcEnvelope.admitted(CdcSource.followers(CdcSource.events(s, d)))))
        .orderBy("activity_pk"),
      Some(OracleCte.withCdc(
        "SELECT * FROM act_follows ORDER BY activity_pk"))),

    // §2.6 union of the four branches into one activity stream
    ("cdc_activity_union",
      (s: SparkSession, d: String) => activityFlat(s, d).orderBy("activity_pk"),
      Some(OracleCte.withCdc(
        "SELECT * FROM activity ORDER BY activity_pk"))),

    // F2/F3 audit: op mix per source table (verifies the 8:1:1 gate input)
    ("cdc_gate_audit",
      (s: SparkSession, d: String) => {
        val ev = CdcSource.events(s, d)
        Seq(CdcSource.likes(ev), CdcSource.comments(ev),
            CdcSource.shards(ev), CdcSource.followers(ev))
          .map(_.select(col("__source_table").as("source_table"), col("__op")))
          .reduce(_ unionByName _)
          .groupBy("source_table", "__op")
          .agg(count(lit(1)).as("n"))
          .orderBy("source_table", "__op")
      },
      Some(s"""WITH ${OracleCte.cdc},
gates AS (
  SELECT 'likes' AS source_table, __op FROM likes_cdc
  UNION ALL SELECT 'comments', __op FROM comments_cdc
  UNION ALL SELECT 'shards', __op FROM shards_cdc
  UNION ALL SELECT 'followers', __op FROM followers_cdc)
SELECT source_table, __op, count(*) AS n
FROM gates GROUP BY source_table, __op ORDER BY source_table, __op""")),

    // J1+T1+T2: the flagship feed page (semi-join, sort, offset/limit)
    ("feed_page",
      (s: SparkSession, d: String) => FeedQueries.feedPage(
        activityCore(s, d), followEdges(s, d), feedUid, limit = 50, offset = 10),
      Some(OracleCte.withCdc(
        s"""SELECT user_id, activity_type, event_timestamp, target_id,
       target_type, activity_pk
$feedSql
ORDER BY event_timestamp DESC, activity_pk DESC
LIMIT 50 OFFSET 10"""))),

    // T2 keyset variant: cursor-based pagination (the 100 TB answer)
    ("feed_page_keyset",
      (s: SparkSession, d: String) => FeedQueries.feedPageAfter(
        activityCore(s, d), followEdges(s, d), feedUid,
        lastTsMillis = 1705276800000L, lastPk = 0L, limit = 50),
      Some(OracleCte.withCdc(
        s"""SELECT user_id, activity_type, event_timestamp, target_id,
       target_type, activity_pk
$feedSql
  AND (event_timestamp < TIMESTAMP '2024-01-15 00:00:00'
       OR (event_timestamp = TIMESTAMP '2024-01-15 00:00:00'
           AND activity_pk < 0))
ORDER BY event_timestamp DESC, activity_pk DESC
LIMIT 50"""))),

    // P5: API-shape rendering (ISO time, null-safe strings)
    ("feed_render",
      (s: SparkSession, d: String) => FeedQueries.render(FeedQueries.feedPage(
        activityCore(s, d), followEdges(s, d), feedUid, limit = 50, offset = 10)),
      Some(OracleCte.withCdc(
        s"""SELECT user_id, activity_type,
       strftime(event_timestamp, '%Y-%m-%dT%H:%M:%S') AS event_time_iso,
       coalesce(target_id, '') AS target_id,
       coalesce(target_type, '') AS target_type,
       activity_pk
$feedSql
ORDER BY event_timestamp DESC, activity_pk DESC
LIMIT 50 OFFSET 10"""))),

    // A1: feed result count
    ("feed_count",
      (s: SparkSession, d: String) => FeedQueries.pageCount(
        activityCore(s, d).join(
          broadcast(FeedQueries.followeesOf(followEdges(s, d), feedUid)),
          Seq("user_id"), "left_semi")),
      Some(OracleCte.withCdc(s"SELECT count(*) AS n\n$feedSql"))),

    // K1+S4: same flagship page served from the materialized, bucket-
    // partitioned activity table (write once, prune directories at read)
    ("feed_page_materialized",
      (s: SparkSession, d: String) => {
        val act = graft.sinks.ActivitySink.materialized(s, d)
        val followees = FeedQueries.followeesOf(followEdges(s, d), feedUid)
        val buckets = graft.sinks.ActivitySink.bucketsOf(followees)
        FeedQueries.feedPageMaterialized(act, buckets, followees,
            limit = 50, offset = 10)
          .select("user_id", "activity_type", "event_timestamp",
                  "target_id", "target_type", "activity_pk")
      },
      Some(OracleCte.withCdc(
        s"""SELECT user_id, activity_type, event_timestamp, target_id,
       target_type, activity_pk
$feedSql
ORDER BY event_timestamp DESC, activity_pk DESC
LIMIT 50 OFFSET 10"""))),

    // X9: JSON page serialization at the API edge
    ("feed_render_json",
      (s: SparkSession, d: String) => FeedQueries.renderJson(
        FeedQueries.feedPage(
          activityCore(s, d), followEdges(s, d), feedUid,
          limit = 50, offset = 10)),
      Some(OracleCte.withCdc(
        s"""SELECT activity_pk,
       to_json(struct_pack(
         user_id := user_id,
         activity_type := activity_type,
         event_time_iso := strftime(event_timestamp, '%Y-%m-%dT%H:%M:%S'),
         target_id := coalesce(target_id, ''),
         target_type := coalesce(target_type, ''))) AS payload
$feedSql
ORDER BY event_timestamp DESC, activity_pk DESC
LIMIT 50 OFFSET 10"""))),

    // T1 skew-safe: salted two-stage top-k, result-identical to the plain
    // window (same oracle SQL) — the hot-user mitigation at scale
    ("feed_topk_per_user_salted",
      (s: SparkSession, d: String) =>
        FeedQueries.topKPerUserSalted(activityCore(s, d), k = 3)
          .select("user_id", "activity_type", "event_timestamp",
                  "activity_pk", "rn")
          .orderBy("user_id", "rn"),
      Some(OracleCte.withCdc(
        """SELECT user_id, activity_type, event_timestamp, activity_pk, rn
FROM (SELECT user_id, activity_type, event_timestamp, activity_pk,
             row_number() OVER (PARTITION BY user_id
                 ORDER BY event_timestamp DESC, activity_pk DESC) AS rn
      FROM activity) r
WHERE rn <= 3
ORDER BY user_id, rn"""))),

    // X8: the reference's cache-key f-string as a column expression
    ("feed_cache_key",
      (s: SparkSession, d: String) => FeedQueries.feedPage(
          activityCore(s, d), followEdges(s, d), feedUid, limit = 50, offset = 10)
        .select(col("activity_pk"),
          FeedQueries.cacheKey(feedUid, 50, 10).as("cache_key")),
      Some(OracleCte.withCdc(
        s"""SELECT activity_pk, 'user_feed:$feedUid:50:10' AS cache_key
$feedSql
ORDER BY event_timestamp DESC, activity_pk DESC
LIMIT 50 OFFSET 10"""))),

    // §2.3 enrichment: the FK-graph join the reference implies but never
    // executes (comments -> shards): comment activities enriched with the
    // commented shard's title, broadcast on the dimension side
    ("feed_comment_enriched",
      (s: SparkSession, d: String) => {
        val ev = CdcSource.events(s, d)
        val commentsAct = flatten(Adapters.activity(
          CdcEnvelope.admitted(CdcSource.comments(ev))))
        val shardTitles = flatten(Adapters.activity(
          CdcEnvelope.admitted(CdcSource.shards(ev))))
          .select(col("target_id"), col("md_title").as("shard_title"))
        commentsAct
          .join(broadcast(shardTitles), Seq("target_id"), "left")
          .select(col("activity_pk"), col("user_id"), col("target_id"),
            col("md_message"), coalesce(col("shard_title"), lit("Unknown")).as("shard_title"))
          .orderBy("activity_pk")
      },
      Some(OracleCte.withCdc(
        """SELECT c.activity_pk, c.user_id, c.target_id, c.md_message,
       coalesce(sh.md_title, 'Unknown') AS shard_title
FROM act_comments c
LEFT JOIN (SELECT target_id, md_title FROM act_shards) sh
  ON c.target_id = sh.target_id
ORDER BY c.activity_pk"""))),

    // §2.3 graph extension: 2-hop follow reach — the follower graph
    // self-joined on the middle vertex. Distinct edges first (one
    // shuffle), then the edge-edge equi-join on the join vertex, then a
    // distinct-count per origin; the classic friend-of-friend shape that
    // stays shuffle-bounded at any graph size.
    ("feed_2hop_reach",
      (s: SparkSession, d: String) => {
        val f = followEdges(s, d)
          .select("follower_id", "following_id").distinct()
        val hop2 = f.select(
          col("follower_id").as("mid"), col("following_id").as("dest"))
        f.join(hop2, col("following_id") === col("mid"))
          .where(col("dest") =!= col("follower_id"))
          .groupBy("follower_id")
          .agg(countDistinct("dest").as("reach_2hop"))
          .orderBy("follower_id")
      },
      Some(OracleCte.withCdc(
        """, f AS (SELECT DISTINCT follower_id, following_id
       FROM followers_cdc WHERE __op = 'c')
SELECT a.follower_id, count(DISTINCT b.following_id) AS reach_2hop
FROM f a JOIN f b ON a.following_id = b.follower_id
WHERE b.following_id <> a.follower_id
GROUP BY a.follower_id ORDER BY a.follower_id"""))),

    // §2.3 graph extension: per-vertex triangle counts — the mutual-
    // connection signal. Spark side runs the degree-ordered wedge
    // enumeration (O(m^1.5) wedge exchange — see graft.serve.GraphStats);
    // the oracle enumerates by id order, which yields the identical
    // per-vertex counts (any total order finds each triangle exactly
    // once), so the hash compare pins the orientation plan's exactness.
    ("feed_triangles",
      (s: SparkSession, d: String) =>
        graft.serve.GraphStats.triangles(followEdges(s, d)),
      Some(OracleCte.withCdc(
        """, f AS (SELECT DISTINCT least(follower_id, following_id) AS a,
                       greatest(follower_id, following_id) AS b
       FROM followers_cdc
       WHERE __op = 'c' AND follower_id <> following_id),
deg AS (SELECT v, count(*)::BIGINT AS degree
        FROM (SELECT a AS v FROM f UNION ALL SELECT b AS v FROM f)
        GROUP BY v),
tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
        FROM f e1
        JOIN f e2 ON e1.a = e2.a AND e1.b < e2.b
        JOIN f e3 ON e3.a = e1.b AND e3.b = e2.b),
pv AS (SELECT vertex, count(*)::BIGINT AS triangles
       FROM (SELECT u AS vertex FROM tri UNION ALL SELECT v FROM tri
             UNION ALL SELECT w FROM tri)
       GROUP BY vertex)
SELECT d.v AS user_id, d.degree,
       coalesce(p.triangles, 0)::BIGINT AS triangles
FROM deg d LEFT JOIN pv p ON d.v = p.vertex
ORDER BY user_id"""))),

    // §2.5 serve extension (r12): trending targets by half-life-decayed
    // like counts — the exponentially-decayed counter every feed ranker
    // runs, in fixed-point form (1e6 div 2^age_days): integer weights,
    // order-free sums, bit-exact DuckDB replay (no libm exp()).
    ("feed_trending",
      (s: SparkSession, d: String) => {
        val ev = CdcSource.events(s, d)
        graft.serve.GraphStats.trendingTargets(
          flatten(Adapters.activity(
            CdcEnvelope.admitted(CdcSource.likes(ev)))))
      },
      Some(OracleCte.withCdc(
        """, l AS (SELECT target_id, epoch_ms(event_timestamp) AS ts
     FROM act_likes),
mx AS (SELECT max(ts) AS mt FROM l),
ag AS (SELECT target_id,
              CAST(least((mt - ts) // 86400000, 62) AS INT) AS age
       FROM l CROSS JOIN mx),
s AS (SELECT target_id, count(*)::BIGINT AS n_likes,
             sum(1000000 // (1::BIGINT << age))::BIGINT AS score
      FROM ag GROUP BY target_id)
SELECT target_id, n_likes, score FROM s WHERE score > 0
ORDER BY score DESC, target_id"""))),

    // §2.3 graph extension: connected components of the follow graph —
    // the dedup tier's label-propagation loop on social edges; the
    // oracle is the recursive-CTE transitive closure (the dedup_clusters
    // idiom on CDC edges).
    ("feed_components",
      (s: SparkSession, d: String) =>
        graft.serve.GraphStats.followComponents(followEdges(s, d)),
      Some(OracleCte.withCdcRecursive(
        """, fe AS (SELECT DISTINCT CAST(follower_id AS BIGINT) AS u,
                        CAST(following_id AS BIGINT) AS v
        FROM followers_cdc
        WHERE __op = 'c' AND follower_id <> following_id),
e AS (SELECT u, v FROM fe UNION ALL SELECT v, u FROM fe),
r AS (SELECT u, u AS v FROM (SELECT DISTINCT u FROM e) n
      UNION
      SELECT r.u, e.v FROM r JOIN e ON r.v = e.u)
SELECT u AS user_id, (min(v))::BIGINT AS component_id
FROM r GROUP BY u ORDER BY user_id"""))),

    // §2.3 graph extension: co-engagement pairs ("users who liked X also
    // liked") with the hot-item cap applied BEFORE the pair join — the
    // d² fanout guard (see graft.serve.GraphStats.coEngagement). The
    // oracle replays the cap's row_number so the semantics stay pinned
    // even when the fixture never trips it.
    ("feed_cooccurrence",
      (s: SparkSession, d: String) => {
        val ev = CdcSource.events(s, d)
        val likesAct = flatten(Adapters.activity(
          CdcEnvelope.admitted(CdcSource.likes(ev))))
          .select("user_id", "target_id")
        graft.serve.GraphStats.coEngagement(likesAct,
          perItemCap = 20, minCommon = 2)
      },
      Some(OracleCte.withCdc(
        """, lk AS (SELECT DISTINCT user_id, target_id FROM act_likes),
cap AS (SELECT user_id, target_id FROM (
          SELECT user_id, target_id,
                 row_number() OVER (PARTITION BY target_id
                                    ORDER BY user_id) AS rn
          FROM lk) z WHERE rn <= 20),
p AS (SELECT a.user_id AS user_a, b.user_id AS user_b,
             count(*)::BIGINT AS n_common
      FROM cap a JOIN cap b
        ON a.target_id = b.target_id AND a.user_id < b.user_id
      GROUP BY 1, 2)
SELECT user_a, user_b, n_common FROM p
WHERE n_common >= 2 ORDER BY user_a, user_b"""))),

    // CDC update/delete materialization: the current-state (upsert) view —
    // latest version per (table, pk) by source timestamp, deletes applied.
    // The one CDC query shape the reference's creates-only feed never
    // answers (Debezium delivers u/d with __deleted=rewrite,
    // debezium-postgres-connector.config.json:18; the reference drops them
    // at strategy.py:16-17). pk = id % 250 folds the synthetic id space so
    // keys genuinely see multiple versions and latest-wins is exercised.
    ("cdc_current_state",
      (s: SparkSession, d: String) => {
        val u = cdcKeyed(s, d)
        graft.ingest.CurrentState
          .currentState(u, Seq("tbl", "pk"), "ts_ms", tieBreak = Seq("id"))
          .select(col("tbl"), col("pk"), col("id").as("latest_id"),
            col("__op").as("latest_op"), col("ts_ms").as("latest_ts_ms"))
          .orderBy("tbl", "pk")
      },
      Some(OracleCte.withCdc(
        """, u AS (
  SELECT 'likes' AS tbl, id, __op, ts_ms FROM likes_cdc
  UNION ALL SELECT 'comments', id, __op, ts_ms FROM comments_cdc
  UNION ALL SELECT 'shards', id, __op, ts_ms FROM shards_cdc
  UNION ALL SELECT 'followers', id, __op, ts_ms FROM followers_cdc),
k AS (SELECT tbl, id % 250 AS pk, id, __op, ts_ms,
             row_number() OVER (PARTITION BY tbl, id % 250
                                ORDER BY ts_ms DESC, id DESC) AS rn
      FROM u)
SELECT tbl, pk, id AS latest_id, __op AS latest_op, ts_ms AS latest_ts_ms
FROM k WHERE rn = 1 AND __op <> 'd'
ORDER BY tbl, pk"""))),

    // §2.3 enrichment: activities ⋈ broadcast(users) — the users FK target
    // (postgres-init.sql:69-73) joined as a broadcast dimension, with
    // null-safe rendering for dim rows missing at extract time.
    ("feed_user_enriched",
      (s: SparkSession, d: String) => {
        val act = activityFlat(s, d)
          .select("user_id", "activity_type", "event_timestamp", "activity_pk")
        val dim = CdcSource.users(CdcSource.events(s, d))
        act.join(broadcast(dim), act("user_id") === dim("id"), "left")
          .select(col("activity_pk"), col("user_id"), col("activity_type"),
            col("event_timestamp"),
            when(col("id").isNull, lit("unknown"))
              .otherwise(concat(lit("user "), col("id"))).as("display_name"),
            coalesce(col("created_at"), to_timestamp(lit("1970-01-01")))
              .as("member_since"))
          .orderBy("activity_pk")
      },
      Some(OracleCte.withCdc(
        """, users AS (
  SELECT CAST(user_id AS VARCHAR) AS id,
         min(ts) AS created_at, max(ts) AS updated_at
  FROM events GROUP BY user_id HAVING user_id % 20 <> 0)
SELECT a.activity_pk, a.user_id, a.activity_type, a.event_timestamp,
       CASE WHEN u.id IS NULL THEN 'unknown'
            ELSE concat('user ', u.id) END AS display_name,
       coalesce(u.created_at, TIMESTAMP '1970-01-01') AS member_since
FROM activity a LEFT JOIN users u ON a.user_id = u.id
ORDER BY a.activity_pk"""))),

    // T1: newest-k per user (the clustering-order read as a ranking window)
    ("feed_topk_per_user",
      (s: SparkSession, d: String) =>
        FeedQueries.topKPerUser(activityCore(s, d), k = 3)
          .select("user_id", "activity_type", "event_timestamp",
                  "activity_pk", "rn")
          .orderBy("user_id", "rn"),
      Some(OracleCte.withCdc(
        """SELECT user_id, activity_type, event_timestamp, activity_pk, rn
FROM (SELECT user_id, activity_type, event_timestamp, activity_pk,
             row_number() OVER (PARTITION BY user_id
                 ORDER BY event_timestamp DESC, activity_pk DESC) AS rn
      FROM activity) r
WHERE rn <= 3
ORDER BY user_id, rn"""))),

    // PageRank influence over the creates-only follow graph — exact
    // BIGINT micro-unit arithmetic (graft.serve.Influence), so the
    // oracle replays the identical 10 damped iterations as unrolled
    // MATERIALIZED CTEs with integer div/mod only.
    ("feed_influence",
      (s: SparkSession, d: String) =>
        graft.serve.Influence.pageRank(followEdges(s, d)),
      Some(OracleCte.withCdc(influenceSql(10)))),

    // Personalized PageRank: teleport + spill return to ONE source user
    // (the in-plan lexicographic min node) — the per-user recommendation
    // signal. Same exact-integer discipline, simpler: no divide-by-n.
    ("feed_influence_personalized",
      (s: SparkSession, d: String) =>
        graft.serve.Influence.personalizedPageRank(followEdges(s, d)),
      Some(OracleCte.withCdc(personalizedInfluenceSql(10)))),

    // §2.10 extended: SCD Type-2 history — every c/u event becomes a
    // validity interval, deletes close without reopening. The temporal
    // complement of cdc_current_state (graft.ingest.Scd2): one keyed
    // window pass, append-friendly at scale.
    ("cdc_scd2",
      (s: SparkSession, d: String) =>
        graft.ingest.Scd2
          .history(cdcKeyed(s, d), Seq("tbl", "pk"), "ts_ms", "__op",
            tieBreak = Seq("id"))
          .select(col("tbl"), col("pk"), col("id").as("version_id"),
            col("__op").as("op"), col("valid_from").as("valid_from_ms"),
            col("valid_to").as("valid_to_ms"),
            col("is_current").cast("int").as("is_current"))
          .orderBy("tbl", "pk", "valid_from_ms", "version_id"),
      Some(OracleCte.withCdc(
        s"""$scd2Ctes
SELECT tbl, pk, id AS version_id, __op AS op, ts_ms AS valid_from_ms,
       valid_to_ms, (valid_to_ms IS NULL)::INT AS is_current
FROM h WHERE __op <> 'd'
ORDER BY tbl, pk, valid_from_ms, version_id"""))),

    // Point-in-time reconstruction over the SCD2 table: the state AS OF
    // the corpus mid-time ((min+max) div 2, a broadcast scalar computed
    // from the same stream — no wall-clock in the query). Half-open
    // [from, to) semantics make stateAt(max ts) ≡ cdc_current_state
    // (Scd2Spec pins it).
    ("cdc_state_at",
      (s: SparkSession, d: String) => {
        val u = cdcKeyed(s, d)
        val h = graft.ingest.Scd2
          .history(u, Seq("tbl", "pk"), "ts_ms", "__op", tieBreak = Seq("id"))
        val mid = u.agg(expr("(min(ts_ms) + max(ts_ms)) div 2").as("t_mid"))
        graft.ingest.Scd2.stateAt(h.crossJoin(broadcast(mid)), col("t_mid"))
          .select(col("tbl"), col("pk"), col("id").as("version_id"),
            col("__op").as("op"), col("valid_from").as("valid_from_ms"),
            col("t_mid"))
          .orderBy("tbl", "pk")
      },
      Some(OracleCte.withCdc(
        s"""$scd2Ctes,
tm AS (SELECT (min(ts_ms) + max(ts_ms)) // 2 AS t_mid FROM u)
SELECT tbl, pk, id AS version_id, __op AS op, ts_ms AS valid_from_ms, t_mid
FROM h CROSS JOIN tm
WHERE __op <> 'd' AND ts_ms <= t_mid
  AND (valid_to_ms IS NULL OR valid_to_ms > t_mid)
ORDER BY tbl, pk""")))
  )

  /** The follow-graph CTE block both influence oracles share (twin of
    * `Influence.followGraph`), and the per-round spill/contrib kernel
    * (twin of a round of `Influence.iterate`: the spill over the previous
    * state, the dst-keyed sum of `pr div outdeg` shares) — one
    * definition, so an integer-discipline fix cannot leave a variant
    * behind.
    * MATERIALIZED — each round references the previous state twice
    * (spill + contributions), so inlined CTEs would expand
    * exponentially (the BPE-oracle lesson). */
  // lazy: referenced from `defs`, which initializes before this point in
  // declaration order — a strict val would still be null there
  private lazy val influenceGraphCtes =
    """, ed AS MATERIALIZED (
  SELECT DISTINCT follower_id AS src, following_id AS dst
  FROM followers_cdc WHERE __op = 'c' AND follower_id <> following_id),
nd AS MATERIALIZED (SELECT src AS id FROM ed UNION SELECT dst FROM ed),
odg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS outdeg FROM ed GROUP BY src),
ewd AS MATERIALIZED (SELECT ed.src, ed.dst, odg.outdeg
  FROM ed JOIN odg ON ed.src = odg.src)"""

  /** One unrolled round: sp`r` spill scalar + p`r` state, with the
    * variant supplying only the new-rank arithmetic over (n.id,
    * c.contrib, sp`r`). */
  private def influenceRounds(iters: Int, prExpr: Int => String): String =
    (1 to iters).map { r =>
      s"""sp$r AS MATERIALIZED (SELECT coalesce(sum(
    CASE WHEN o.outdeg IS NULL THEN p.pr ELSE p.pr % o.outdeg END), 0)::BIGINT AS spill
  FROM p${r - 1} p LEFT JOIN odg o ON p.id = o.src),
p$r AS MATERIALIZED (SELECT n.id, ${prExpr(r)} AS pr
  FROM nd n LEFT JOIN (
    SELECT e.dst, sum(p.pr // e.outdeg)::BIGINT AS contrib
    FROM ewd e JOIN p${r - 1} p ON e.src = p.id GROUP BY e.dst) c
    ON n.id = c.dst)"""
    }.mkString(",\n")

  /** Unrolled DuckDB twin of [[graft.serve.Influence.pageRank]]:
    * p0..p`n` rank states + sp1..sp`n` spill scalars, all integer ops. */
  private def influenceSql(iters: Int): String = {
    val m = graft.serve.Influence.Mass
    val rounds = influenceRounds(iters, r =>
      s"""((15 * $m) // 100) // (SELECT n FROM nn)
      + (85 * (coalesce(c.contrib, 0)
               + (SELECT spill FROM sp$r) // (SELECT n FROM nn))) // 100""")
    s"""$influenceGraphCtes,
nn AS (SELECT count(*)::BIGINT AS n FROM nd),
p0 AS MATERIALIZED (SELECT id, ($m // (SELECT n FROM nn))::BIGINT AS pr FROM nd),
$rounds
SELECT id AS user_id, pr AS pr_units FROM p$iters ORDER BY user_id"""
  }

  /** Unrolled DuckDB twin of
    * [[graft.serve.Influence.personalizedPageRank]] (source = the
    * lexicographic min node id): teleport and spill both go to the
    * source — integer ops only, no divide-by-n. */
  private def personalizedInfluenceSql(iters: Int): String = {
    val m = graft.serve.Influence.Mass
    val t = m * 15L / 100L
    val rounds = influenceRounds(iters, r =>
      s"""(CASE WHEN n.id = (SELECT s FROM src) THEN $t ELSE 0 END
      + (85 * (coalesce(c.contrib, 0)
               + CASE WHEN n.id = (SELECT s FROM src)
                 THEN (SELECT spill FROM sp$r) ELSE 0 END)) // 100)::BIGINT""")
    s"""$influenceGraphCtes,
src AS (SELECT min(id) AS s FROM nd),
p0 AS MATERIALIZED (SELECT id,
  (CASE WHEN id = (SELECT s FROM src) THEN $m ELSE 0 END)::BIGINT AS pr FROM nd),
$rounds
SELECT id AS user_id, pr AS pr_units FROM p$iters ORDER BY user_id"""
  }

  val queries: Map[String, Q] =
    defs.map { case (n, q, _) => n -> q }.toMap

  val oracleSql: Map[String, String] =
    defs.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
