package graft.serve

import graft.util.Fence
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** PageRank-style influence over the follower graph — the feed domain's
  * iterative-numeric operator (the reference ranks feeds by recency only;
  * an influence score is the standard next signal, and `components`
  * exercises only min-propagation). Fixed iteration count + damping over
  * the creates-only follow edges (reference strategy.py follower
  * semantics: only `__op = 'c'` edges exist downstream).
  *
  * EXACT INTEGER ARITHMETIC: rank is carried as BIGINT micro-units of
  * probability mass (total [[Mass]] = 10¹²), every per-edge share is an
  * integer `div`, and dangling + division-remainder mass (the spill) is
  * redistributed, its own remainder dropped deterministically. No doubles
  * anywhere, so sums are order-free under any partitioning and the DuckDB
  * oracle replays the identical iterations as unrolled MATERIALIZED CTEs.
  * Damping 85/100 in the same integer form.
  *
  * Scale: the rank state `(id, dsts, outdeg, pr)` carries each node's
  * adjacency — MapReduce PageRank passes the graph structure along with
  * the rank (Lin & Dyer, ch. 5). A round is `explode(dsts)` into per-edge
  * shares, unioned with each node's own row, and ONE id-keyed aggregate:
  * no join, no broadcast. Its result is an eager `localCheckpoint` whose
  * materializing job also observes the next round's spill, which enters
  * that round as a literal — so a round is exactly two Spark jobs (the
  * shuffle, the checkpoint). The node count and the default source are
  * observed the same way on the graph's one materialization. */
object Influence {

  /** Total probability mass, in micro-units. */
  val Mass = 1000000000000L

  /** Eager lineage-truncating checkpoint of `df`, plus the scalars
    * `metrics` observed by that same materializing job. */
  private def fenced(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val cp = Fence.checkpointed(df.observe(obs, metrics.head, metrics.tail: _*))
    (cp, obs.get)
  }

  /** `(id, dsts, outdeg)` per node of the creates-only, self-loop-free
    * follow graph, `collect_set` doing the edge dedup. `outdeg` is null for
    * a dangling node, never 0: `pr div outdeg` may be evaluated below the
    * `explode`. Observed: node count `n`, `min_id`, and `probe_hits`, the
    * nodes equal to `probe`. */
  private def followGraph(followers: DataFrame, probe: Option[String]) = {
    val edges = followers.where(col("__op") === "c")
      .select(col("follower_id").as("id"), col("following_id").as("dst"))
      .where(col("id") =!= col("dst"))
    fenced(
      edges.union(edges.select(col("dst"), lit(null).cast("string")))
        .groupBy("id").agg(collect_set("dst").as("dsts"))
        .withColumn("outdeg", nullif(size(col("dsts")), lit(0)).cast("long")),
      count(lit(1)).as("n"), min("id").as("min_id"),
      count_if(col("id") === lit(probe.orNull)).as("probe_hits"))
  }

  /** (user_id, pr_units) after `iterations` rounds from `pr0`, each giving
    * a node `teleport + (85 * (contrib + extra(spill))) div 100`, where
    * `spill` sums the previous state's dangling mass and remainders. */
  private def iterate(graph: DataFrame, iterations: Int, pr0: Column,
      teleport: Column, extra: Long => Column): DataFrame = {
    val spillOf = sum(when(col("outdeg").isNull, col("pr"))
      .otherwise(col("pr") % col("outdeg"))).as("spill")
    def round(s: DataFrame, spill: Long): DataFrame =
      s.select(explode(col("dsts")).as("id"), expr("pr div outdeg").as("share"),
          lit(null).cast("array<string>").as("dsts"), lit(null).cast("long").as("outdeg"))
        .unionByName(s.select(col("id"), lit(0L).as("share"), col("dsts"), col("outdeg")))
        .groupBy("id").agg(sum("share").as("contrib"),
          first("dsts", ignoreNulls = true).as("dsts"), max("outdeg").as("outdeg"))
        .select(col("*"), teleport.as("t"), extra(spill).as("x"))
        .select(col("id"), col("dsts"), col("outdeg"),
          expr("t + (85 * (contrib + x)) div 100").as("pr"))
    var (pr, obs) = fenced(graph.withColumn("pr", pr0), spillOf)
    // a null spill is an empty graph's: no round to run
    for (it <- 1 to iterations if obs("spill") != null) {
      pr = round(pr, obs("spill").asInstanceOf[Long])
      if (it < iterations) { val f = fenced(pr, spillOf); pr = f._1; obs = f._2 }
    }
    pr.select(col("id").as("user_id"), col("pr").as("pr_units")).orderBy("user_id")
  }

  /** (user_id, pr_units) after `iterations` damped rounds, one row per
    * node of the creates-only, self-loop-free, deduplicated follow graph;
    * teleport and spill spread uniformly (`div n`). `followers` is the
    * CDC branch frame ([[graft.sources.CdcSource]]). */
  def pageRank(followers: DataFrame, iterations: Int = 10): DataFrame = {
    val (graph, stats) = followGraph(followers, None)
    val n = stats("n").asInstanceOf[Long] max 1L // an empty graph runs no round
    iterate(graph, iterations, lit(Mass / n),
      lit((Mass * 15L / 100L) / n), spill => lit(spill / n))
  }

  /** Personalized PageRank: the teleport mass returns to ONE source user
    * instead of spreading uniformly — rank becomes "probability a random
    * walk restarting at `source` is here", i.e. the per-user
    * recommendation signal a feed serves (global [[pageRank]] answers
    * "who matters overall"; this answers "who matters TO this user").
    * Teleport (15 % of [[Mass]]) and spill both go to the source — no
    * divide-by-n, so the only dropped remainders are the `div 100` ones.
    * The walk starts with all mass at the source.
    *
    * `source` = None picks the lexicographic min node id (the registered
    * query's deterministic choice); Some(userId) serves a specific user.
    * Either is bound as a literal. */
  def personalizedPageRank(
      followers: DataFrame,
      source: Option[String] = None,
      iterations: Int = 10): DataFrame = {
    val (graph, stats) = followGraph(followers, source)
    // An explicit source absent from the graph would silently drain ALL
    // mass (teleport and spill target a node no edge reaches — ADVICE r7).
    source.foreach { s =>
      require(stats("probe_hits").asInstanceOf[Long] > 0,
        s"personalizedPageRank source '$s' is not a node of the follow graph")
    }
    val isSrc = col("id") === lit(source.getOrElse(stats("min_id").asInstanceOf[String]))
    iterate(graph, iterations, when(isSrc, Mass).otherwise(0L),
      when(isSrc, Mass * 15L / 100L).otherwise(0L), when(isSrc, _).otherwise(0L))
  }
}
