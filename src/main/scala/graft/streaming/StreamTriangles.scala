package graft.streaming

import graft.util.Fence
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of the batch triangle count
  * ([[graft.serve.GraphStats.triangles]]) — incremental per-vertex
  * triangle maintenance over the CDC follow stream, completing the graph
  * tier's streaming story beside [[StreamComponents]].
  *
  * The fold is the classic exact incremental algorithm: a triangle
  * created by this micro-batch contains 1, 2, or 3 NEW edges, and any
  * two edges of a triangle share a vertex, so the delta decomposes into
  * three disjoint counts — each triangle found exactly once:
  *  - '''T1''' (one new edge (u,v)): common OLD neighbors — expand the
  *    adjacency of the LOWER-degree endpoint (degrees read from the
  *    maintained stats table) and semi-join the closing edge against the
  *    old edge set: `min(d(u), d(v))` work per new edge, the sequential
  *    algorithm's bound, celebrity-proof in the same way the batch
  *    operator's degree orientation is;
  *  - '''T2''' (two new edges (c,x), (c,y)): new-new wedges closed by an
  *    OLD edge;
  *  - '''T3''' (all three new): plain wedge enumeration inside the
  *    micro-batch's own (small) edge set.
  * Arriving edges already present in the state are anti-joined away
  * first, which also makes a foreachBatch REPLAY of a completed fold a
  * no-op (empty delta) — the CurrentState idempotence argument.
  *
  * State under `path` is one root swapped atomically per fold
  * (`edges/` canonical (a, b) rows, `stats/` per-vertex degree +
  * triangle counts, both updated by merge — degrees and counts are
  * maintained, never recomputed from history). The local-parquet root
  * rewrite is the same test-scale seam CurrentState documents; the
  * production shape appends `edges/` to a bucketed layout and MERGEs
  * `stats/`, with the per-fold COMPUTE already incremental:
  * O(Σ min-degree over new edges + |batch|^1.5 + touched vertices).
  */
object StreamTriangles {

  private def canonicalEdges(followers: DataFrame): DataFrame =
    followers.where(col("__op") === "c")
      .select(col("follower_id").cast("long").as("x"),
        col("following_id").cast("long").as("y"))
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()

  /** One fold step, exposed for the spec. */
  def foldBatch(batch: DataFrame, path: String): Unit = Fence.scope {
    val spark = batch.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // single root swap: edges + stats land together or not at all
    graft.util.SwapDirs.replace(fs, root) { tmp =>
      val exists = fs.exists(root)
      val oldEdges =
        if (exists) spark.read.parquet(s"$path/edges")
        else spark.emptyDataFrame
          .select(lit(0L).as("a"), lit(0L).as("b")).limit(0)
      val oldStats =
        if (exists) spark.read.parquet(s"$path/stats")
        else spark.emptyDataFrame
          .select(lit(0L).as("user_id"), lit(0L).as("degree"),
            lit(0L).as("triangles")).limit(0)
      // new edges only: already-present arrivals (and replays of a
      // completed fold) contribute nothing. Cached — En feeds T1, T2, T3,
      // the degree delta, and the edge-table merge.
      val en = Fence.cached(canonicalEdges(batch)
        .join(oldEdges, Seq("a", "b"), "left_anti"))
      // old adjacency, both directions (edges are (lo, hi)-canonical)
      val adjOld = oldEdges.select(col("a").as("v"), col("b").as("w"))
        .unionAll(oldEdges.select(col("b").as("v"), col("a").as("w")))
      val degOld = oldStats.select(col("user_id").as("v"), col("degree"))

      // T1: expand from the lower-degree endpoint (ties → `a`), close
      // (other, w) against the old edge set. Vertices the state has never
      // seen have degree 0 via coalesce — nothing to expand.
      val withDeg = en
        .join(degOld.select(col("v").as("a"), col("degree").as("deg_a")),
          Seq("a"), "left")
        .join(degOld.select(col("v").as("b"), col("degree").as("deg_b")),
          Seq("b"), "left")
        .select(col("a"), col("b"),
          (coalesce(col("deg_a"), lit(0L)) <= coalesce(col("deg_b"), lit(0L)))
            .as("aFirst"))
      val probes = withDeg.select(
        when(col("aFirst"), col("a")).otherwise(col("b")).as("u"),
        when(col("aFirst"), col("b")).otherwise(col("a")).as("v"))
      val t1 = probes
        .join(adjOld.select(col("v").as("u"), col("w")), Seq("u"))
        .join(oldEdges,
          least(col("v"), col("w")) === col("a") &&
            greatest(col("v"), col("w")) === col("b"),
          "left_semi")
        .select(col("u").as("c1"), col("v").as("c2"), col("w").as("c3"))

      // T2: wedges of two new edges at a shared center, closed by an OLD
      // edge (the closing pair is canonical by n1 < n2)
      val adjNew = en.select(col("a").as("v"), col("b").as("w"))
        .unionAll(en.select(col("b").as("v"), col("a").as("w")))
      val t2 = adjNew.select(col("v").as("c"), col("w").as("n1"))
        .join(adjNew.select(col("v").as("c"), col("w").as("n2")), Seq("c"))
        .where(col("n1") < col("n2"))
        .join(oldEdges,
          col("n1") === col("a") && col("n2") === col("b"), "left_semi")
        .select(col("c").as("c1"), col("n1").as("c2"), col("n2").as("c3"))

      // T3: triangles entirely inside the micro-batch (micro-batch-sized
      // frames — plain wedge enumeration; n1 < n2 keys the canonical set)
      val t3 = adjNew.select(col("v").as("c"), col("w").as("n1"))
        .join(adjNew.select(col("v").as("c"), col("w").as("n2")), Seq("c"))
        .where(col("n1") < col("n2") && col("c") < col("n1"))
        .join(en,
          col("n1") === col("a") && col("n2") === col("b"), "left_semi")
        .select(col("c").as("c1"), col("n1").as("c2"), col("n2").as("c3"))

      val corners = t1.unionAll(t2).unionAll(t3)
      val triDelta = corners.select(col("c1").as("user_id"))
        .unionAll(corners.select(col("c2").as("user_id")))
        .unionAll(corners.select(col("c3").as("user_id")))
        .groupBy("user_id").agg(count(lit(1)).as("d_tri"))
      val degDelta = en.select(col("a").as("user_id"))
        .unionAll(en.select(col("b").as("user_id")))
        .groupBy("user_id").agg(count(lit(1)).as("d_deg"))

      val merged = oldStats
        .join(degDelta, Seq("user_id"), "full_outer")
        .join(triDelta, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("degree"), lit(0L)) + coalesce(col("d_deg"), lit(0L)))
            .as("degree"),
          (coalesce(col("triangles"), lit(0L)) + coalesce(col("d_tri"), lit(0L)))
            .as("triangles"))
      val newEdges = oldEdges.unionByName(en)

      newEdges.write.parquet(s"$tmp/edges")
      merged.write.parquet(s"$tmp/stats")
    }
  }

  /** Streaming maintenance over a CDC follower stream. */
  def runTrianglesTable(
      followers: DataFrame,
      path: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.util.Drain.availableNow(followers, checkpointPath)(
      (batch, _) => foldBatch(batch, path))

  /** Read the maintained stats in the batch operator's output shape. */
  def readTriangles(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/stats")
      .select(col("user_id"), col("degree"), col("triangles"))
      .orderBy("user_id")
}
