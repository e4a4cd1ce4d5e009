package graft.serve

import graft.SparkSuite
import graft.util.Fence

/** PageRank influence: closed-form fixed points, hand-computed damped
  * steps, exact mass accounting, and ranking sanity on the fixture. */
class InfluenceSpec extends SparkSuite {

  import spark.implicits._

  private val M = Influence.Mass

  /** Minimal CDC-shaped follower frame (only the columns pageRank reads). */
  private def followersOf(edges: (String, String)*) =
    edges.map { case (a, b) => (a, b, "c") }
      .toDF("follower_id", "following_id", "__op")

  private def rankMap(df: => org.apache.spark.sql.DataFrame): Map[String, Long] =
    Fence.scope(df.collect()
      .map(r => r.getAs[String]("user_id") -> r.getAs[Long]("pr_units")).toMap)

  test("two-node cycle is the closed-form fixed point: half the mass each") {
    val pr = rankMap(Influence.pageRank(followersOf("a" -> "b", "b" -> "a")))
    assert(pr === Map("a" -> M / 2, "b" -> M / 2))
  }

  test("single edge a→b, one iteration, matches the hand computation") {
    // pr0 = M/2 each; spill = pr(b) (dangling) = M/2; extra = M/4
    // pr'(a) = 15%·M/2 + 85%·(0 + M/4)     = 75e9 + 212.5e9 = 287.5e9
    // pr'(b) = 15%·M/2 + 85%·(M/2 + M/4)   = 75e9 + 637.5e9 = 712.5e9
    val pr = rankMap(
      Influence.pageRank(followersOf("a" -> "b"), iterations = 1))
    assert(pr === Map("a" -> 287500000000L, "b" -> 712500000000L))
  }

  test("mass is conserved exactly when divisions are exact") {
    // 4-cycle: every outdeg is 1, N divides M → no remainders anywhere
    val pr = rankMap(Influence.pageRank(
      followersOf("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a")))
    assert(pr.values.sum === M)
    assert(pr.values.toSet === Set(M / 4), "symmetric cycle: equal ranks")
  }

  test("non-create ops, self-follows and duplicate edges are excluded") {
    val edges = Seq(
      ("a", "b", "c"), ("a", "b", "c"), // duplicate create
      ("a", "a", "c"),                  // self-follow
      ("b", "a", "u"), ("b", "a", "d")) // non-creates never materialize
      .toDF("follower_id", "following_id", "__op")
    val pr = rankMap(Influence.pageRank(edges, iterations = 1))
    // surviving graph is exactly a→b: same hand computation as above
    assert(pr === Map("a" -> 287500000000L, "b" -> 712500000000L))
  }

  test("on the fixture graph the most-followed users outrank the rest") {
    val flw = graft.sources.CdcSource.followers(
      graft.sources.CdcSource.events(spark, "/root/testdata/sf0.001"))
    val pr = rankMap(Influence.pageRank(flw))
    assert(pr.nonEmpty)
    // total mass stays within iterations × N × 2 units of M (each
    // iteration can drop up to ~2 units per node in div remainders)
    val slack = 10L * pr.size * 2
    assert(math.abs(pr.values.sum - M) <= slack, s"sum ${pr.values.sum}")
    // in-degree correlates with rank: the top-ranked node has at least
    // the median in-degree
    val indeg = flw.where($"__op" === "c")
      .select($"follower_id", $"following_id").distinct()
      .groupBy($"following_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val top = pr.maxBy(_._2)._1
    val degs = indeg.values.toSeq.sorted
    assert(indeg.getOrElse(top, 0L) >= degs(degs.size / 2))
  }

  test("personalized PageRank, single edge a→b: two hand-computed rounds " +
      "(teleport + spill return to the source, init all-mass-at-source)") {
    // p0: a=M, b=0. Round 1: spill = p0(b) dangling = 0; contrib(b) = M.
    //   a = 15%·M + 85%·(0 + 0)  = 150e9
    //   b = 0     + 85%·(M + 0)  = 850e9
    // Round 2: spill = p1(b) = 850e9 (dangling), returns to a only.
    //   a = 150e9 + 85%·(0 + 850e9) = 872.5e9
    //   b = 0     + 85%·(150e9 + 0) = 127.5e9
    val one = rankMap(Influence.personalizedPageRank(
      followersOf("a" -> "b"), iterations = 1))
    assert(one === Map("a" -> 150000000000L, "b" -> 850000000000L))
    val two = rankMap(Influence.personalizedPageRank(
      followersOf("a" -> "b"), iterations = 2))
    assert(two === Map("a" -> 872500000000L, "b" -> 127500000000L))
    assert(two.values.sum === M, "no divide-by-n: mass conserved exactly")
  }

  test("personalized PageRank localizes: mass concentrates near the " +
      "source, and an explicit source overrides the min-id default") {
    // a→b→c chain plus far pair x→y reachable only from x
    val g = followersOf("a" -> "b", "b" -> "c", "x" -> "y")
    val fromA = rankMap(Influence.personalizedPageRank(g)) // min id = a
    // the x,y island is unreachable from a: it holds no mass
    assert(fromA("x") === 0L && fromA("y") === 0L)
    assert(fromA("a") > 0L && fromA("b") > 0L && fromA("c") > 0L)
    val fromX = rankMap(
      Influence.personalizedPageRank(g, source = Some("x")))
    assert(fromX("x") > 0L && fromX("y") > 0L)
    assert(fromX("a") === 0L && fromX("b") === 0L && fromX("c") === 0L)
  }

  /** Plain-Scala driver reference of the integer recurrence: Long
    * arithmetic, round r's spill taken from state r-1, `div 100` damping.
    * `personalized` sends teleport and spill to the min node id instead
    * of spreading them `div n`. */
  private def reference(
      ops: Seq[(String, String, String)], iterations: Int,
      personalized: Boolean): Map[String, Long] = {
    val edges = ops.collect { case (a, b, "c") if a != b => (a, b) }.distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    if (nodes.isEmpty) return Map.empty
    val n = nodes.size.toLong
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val src = nodes.min
    def teleport(id: String): Long =
      if (!personalized) (M * 15L / 100L) / n else if (id == src) M * 15L / 100L else 0L
    def extra(id: String, spill: Long): Long =
      if (!personalized) spill / n else if (id == src) spill else 0L
    var pr: Map[String, Long] = nodes.map(id =>
      id -> (if (!personalized) M / n else if (id == src) M else 0L)).toMap
    for (_ <- 1 to iterations) {
      val spill = nodes.map(id => outdeg.get(id).fold(pr(id))(pr(id) % _)).sum
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => pr(s) / outdeg(s) }.sum }
      pr = nodes.map(id => id ->
        (teleport(id) + (85L * (contrib.getOrElse(id, 0L) + extra(id, spill))) / 100L)).toMap
    }
    pr
  }

  test("both variants equal the driver-side integer recurrence exactly " +
      "(dangling node, duplicates, self-loop, non-creates, outdeg-3 remainders)") {
    // a has outdeg 3 over 5 nodes: M/5 % 3 = 2, so remainders spill from
    // round 1; e is dangling; the duplicate, self-loop and non-creates
    // must not count
    val ops = Seq(
      ("a", "b", "c"), ("a", "c", "c"), ("a", "d", "c"), ("a", "b", "c"),
      ("b", "c", "c"), ("c", "a", "c"), ("d", "e", "c"), ("b", "b", "c"),
      ("e", "a", "u"), ("c", "b", "d"))
    val g = ops.toDF("follower_id", "following_id", "__op")
    for (k <- Seq(1, 2, 10)) {
      val uniform = reference(ops, k, personalized = false)
      val personal = reference(ops, k, personalized = true)
      assert(uniform.keySet === Set("a", "b", "c", "d", "e"))
      assert(rankMap(Influence.pageRank(g, iterations = k)) === uniform, s"k=$k")
      assert(rankMap(Influence.personalizedPageRank(g, iterations = k)) === personal, s"k=$k")
    }
  }

  test("an empty follow set ranks no one, in both variants") {
    val none = followersOf()
    assert(reference(Seq.empty, 10, personalized = false).isEmpty)
    assert(rankMap(Influence.pageRank(none)).isEmpty)
    assert(rankMap(Influence.personalizedPageRank(none)).isEmpty)
  }

  test("personalized PageRank fails fast on a source absent from the " +
      "graph (ADVICE r7: it previously drained all mass silently)") {
    val g = followersOf("a" -> "b")
    val e = intercept[IllegalArgumentException] {
      Influence.personalizedPageRank(g, source = Some("nobody"))
    }
    assert(e.getMessage.contains("nobody"))
  }
}
