package graft.serve

import graft.util.Fence
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting over the follow graph — the mutual-connection
  * statistic behind "friends in common" ranking signals and community
  * detection, and the classic distributed-graph operator whose naive plan
  * dies on skew (reference strategy.py keeps only `__op = 'c'` follower
  * edges downstream; the reference itself never aggregates the graph).
  *
  * The plan is the standard degree-ordered wedge enumeration (Cohen 2009,
  * "Graph twiddling in a MapReduce world" / the cd ordering of Chiba &
  * Nishizeki): orient every undirected edge toward its (degree, id)-larger
  * endpoint, enumerate length-2 paths only FROM each wedge's center's
  * out-edges, and close each wedge with one hash semi-join back against
  * the undirected edge set. Orientation is what bounds the blow-up: every
  * vertex's out-degree is O(√m) in any graph (a vertex keeps only
  * neighbors of larger degree), so the wedge exchange is O(m^1.5) total —
  * a celebrity with 10⁸ followers contributes NO wedges from its fan side
  * (all those edges point INTO it), where the unoriented self-join would
  * shuffle 10¹⁶ pairs. Each triangle is emitted exactly once, at its
  * (degree, id)-smallest vertex.
  *
  * Everything is hash-partitioned equi-joins: degrees by vertex (skinny:
  * id + long), orientation via two degree joins, wedges by center vertex,
  * closure by the (lo, hi) pair key. No broadcast is assumed — at 100 TB
  * the degree table is |V|-sized and rides ordinary shuffles.
  */
object GraphStats {

  /** Per-vertex triangle participation count + degree over the
    * creates-only, self-loop-free, deduplicated undirected follow graph.
    * One row per vertex (0 triangles included — the row set is the vertex
    * set, deterministic). `followers` is the CDC branch frame
    * ([[graft.sources.CdcSource]]). */
  def triangles(followers: DataFrame): DataFrame = {
    // undirected edge set: creates only, self-loops out, (lo, hi)
    // canonical. Checkpointed (the Influence graph-frame pattern): the
    // frame feeds FOUR consumers (both degree-union arms, orientation,
    // wedge closure) and each would otherwise re-run the CDC parse →
    // distinct chain
    val und = Fence.checkpointed(
      followers.where(col("__op") === "c")
        .select(col("follower_id").as("x"), col("following_id").as("y"))
        .where(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .distinct())
    // degrees feed the two orientation joins and the final report
    val deg = Fence.checkpointed(
      und.select(col("a").as("v"))
        .unionAll(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("degree")))

    // orient a→b toward the (degree, id)-larger endpoint
    val degA = deg.select(col("v").as("a"), col("degree").as("deg_a"))
    val degB = deg.select(col("v").as("b"), col("degree").as("deg_b"))
    val aFirst = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    val oriented = und.join(degA, "a").join(degB, "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"))

    // wedges at each center: unordered out-neighbor pairs, enumerated once
    val o1 = oriented.select(col("src"), col("dst").as("n1"))
    val o2 = oriented.select(col("src"), col("dst").as("n2"))
    val wedges = o1.join(o2, Seq("src"))
      .where(col("n1") < col("n2"))
    // close the wedge against the undirected set: wedges already hold
    // n1 < n2 and `und` is (lo, hi)-canonical, so the pair key is a
    // direct column equi-join
    val tris = wedges.join(
      und,
      col("n1") === col("a") && col("n2") === col("b"),
      "left_semi")

    // attribute each triangle to its three corners
    val perVertex = tris.select(col("src").as("vertex"))
      .unionAll(tris.select(col("n1").as("vertex")))
      .unionAll(tris.select(col("n2").as("vertex")))
      .groupBy("vertex").agg(count(lit(1)).as("triangles"))

    deg.join(perVertex, deg("v") === perVertex("vertex"), "left")
      .select(col("v").as("user_id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .orderBy("user_id")
  }

  /** Connected components of the undirected follow graph — the social-
    * graph twin of the dedup tier's cluster labeling, riding the same
    * label-propagation-with-pointer-jumping loop ([[graft.ext.Dedup
    * .components]]: min-label init folded into round 0, decimal-sum
    * fixpoint, lineage truncation every 4 rounds). Vertex ids are the
    * CDC's numeric user-id strings; they cast to BIGINT for the loop's
    * integer label discipline. One row per vertex that has any edge:
    * (user_id, component_id = min user id in the component). */
  def followComponents(followers: DataFrame): DataFrame =
    graft.ext.Dedup.components(followEdges(followers))
      .select(col("doc_id").as("user_id"), col("cluster_id").as("component_id"))
      .orderBy("user_id")

  /** CDC follower rows → canonical undirected edge list (doc_a/doc_b, the
    * components loop's column contract): creates only, no self-loops.
    * [[graft.streaming.StreamComponents]] folds its micro-batches through
    * the same extraction, so the streaming twin's input semantics are the
    * batch operator's. */
  private[graft] def followEdges(followers: DataFrame): DataFrame =
    followers.where(col("__op") === "c")
      .select(col("follower_id").cast("long").as("doc_a"),
        col("following_id").cast("long").as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
      .distinct()

  /** Co-engagement mining: user pairs that liked ≥ `minCommon` of the
    * same shards — the "users who liked X also liked" item-CF signal.
    * The scale hazard is the hot item: a shard with d likers emits d²
    * pairs, so likers are CAPPED per item (first `perItemCap` by user id,
    * deterministic) BEFORE the pair join — the industry-standard
    * frequency-cap / saturation trick, bounding the join's fanout at
    * cap² per item. The rank ≤ cap window compiles to WindowGroupLimit
    * (map-side pruning before the per-item sort — the same pushdown
    * feed_topk_per_user's audit pinned), so a hot item never materializes
    * its full liker list in the sort task. Output:
    * (user_a, user_b, n_common), user_a < user_b. */
  def coEngagement(
      likes: DataFrame,
      perItemCap: Int = 20,
      minCommon: Int = 2): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("target_id")).orderBy(col("user_id"))
    val capped = likes
      .select(col("user_id"), col("target_id")).distinct()
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= perItemCap)
      .select(col("user_id"), col("target_id"))
    val a = capped.select(col("target_id"), col("user_id").as("user_a"))
    val b = capped.select(col("target_id"), col("user_id").as("user_b"))
    a.join(b, Seq("target_id"))
      .where(col("user_a") < col("user_b"))
      .groupBy("user_a", "user_b")
      .agg(count(lit(1)).as("n_common"))
      .where(col("n_common") >= minCommon)
      .orderBy("user_a", "user_b")
  }

  /** Trending targets by half-life-decayed engagement: each like is
    * weighted `1_000_000 div 2^age_days` (half-life one day, age
    * relative to the stream's max event time) and weights sum per
    * target — the classic exponentially-decayed counter every feed
    * ranker runs, in FIXED-POINT form: division by a power of two is
    * exact in any engine and the weights are integers, so the score is
    * deterministic under any aggregation order and the DuckDB oracle
    * replays it bit-for-bit (the same portability discipline as the
    * sketch tier — no float `exp()` whose libm could differ). Weight
    * underflows to 0 past ~20 half-lives; such rows drop, which is the
    * semantics of trending. Scale: one max-ts aggregate (single-row
    * broadcast, the licensed cross join) + one hash aggregation on
    * target_id. Output: (target_id, n_likes, score), score desc. */
  def trendingTargets(likesActivity: DataFrame): DataFrame = {
    val l = likesActivity.select(col("target_id"),
      unix_millis(col("event_timestamp")).as("ts"))
    val mx = l.agg(max(col("ts")).as("mt"))
    l.crossJoin(broadcast(mx))
      // integer `div`, not float division+floor: day-boundary ages must
      // be exact in both engines by construction, not by float luck
      .withColumn("age",
        expr("cast(least((mt - ts) div 86400000, 62) as int)"))
      .withColumn("w", expr("1000000L div shiftleft(1L, age)"))
      .groupBy("target_id")
      .agg(count(lit(1)).as("n_likes"), sum(col("w")).as("score"))
      .where(col("score") > 0)
      .orderBy(col("score").desc, col("target_id"))
  }
}
