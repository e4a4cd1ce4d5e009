package graft

import graft.SparkSuite
import graft.util.Fence
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Plan-shape regression tests: the scale properties PLANS.md claims are
  * asserted against the actual physical plans, so a refactor that
  * silently degrades a broadcast to a nested loop (or loses pushdown)
  * fails CI rather than the 100 TB deployment. */
class PlanShapeSpec extends SparkSuite {

  private val d = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, d)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** Number of distinct physical nodes named `op` in a FORMATTED explain.
    * Formatted mode prints every operator twice — `Op (n)` in the tree and
    * `(n) Op` as its detail-block header — so a raw substring count doubles
    * the node count (and a `>= k` bound is silently satisfied by k/2 real
    * nodes). Counting distinct ids on the detail-header pattern gives
    * exactly one hit per node. `op` is matched as a prefix at the header
    * position, so pass the full node name ("HashAggregate" does NOT match
    * "ObjectHashAggregate" — the id-paren prefix anchors the name start). */
  private def nodeCount(p: String, op: String): Int =
    ("""\((\d+)\) """ + java.util.regex.Pattern.quote(op)).r
      .findAllMatchIn(p).map(_.group(1)).toSet.size

  /** Exchange nodes that move KEYED data — excludes the deliberate
    * round-robin scan-parallelize repartition (r19: the docs fixture is
    * one parquet split at every SF, so codec chains repartition the
    * skinny doc rows once before per-row work; that exchange carries no
    * key and grows with the INPUT, not with any shuffle key skew, so
    * the scan-shaped claim is preserved). Counted as: Exchange node ids
    // minus ids whose Arguments line says RoundRobinPartitioning.
    */
  private def keyedExchangeCount(p: String): Int = {
    val all = """\((\d+)\) Exchange""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    val rr = """\((\d+)\) Exchange\s*\nInput[^\n]*\nArguments: RoundRobinPartitioning"""
      .r.findAllMatchIn(p).map(_.group(1)).toSet
    (all -- rr).size
  }

  test("q5_nation_revenue: dimensions broadcast, no nested loop") {
    val p = plan("q5_nation_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q1_pricing_summary: filters/columns reach the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("Scan parquet"))
    assert(p.contains("ReadSchema"))
    // partial-then-final aggregation (map-side combine before the shuffle):
    // two distinct HashAggregate NODES (not raw formatted-text hits)
    assert(nodeCount(p, "HashAggregate") >= 2)
  }

  test("sim_topk: top-k limit pushed below the window exchange") {
    val p = plan("sim_topk")
    assert(p.contains("WindowGroupLimit"))
  }

  test("feed_page: semi-join on broadcast followee list") {
    val p = plan("feed_page")
    assert(p.contains("LeftSemi"))
    assert(p.contains("BroadcastExchange"))
  }

  /** A K1 table written from the fixture as the serving tier reads it,
    * its follow edges, and its busiest follower. Written here rather than
    * taken from `ActivitySink.materialized`, whose read-back is persisted
    * (a page over it scans the cache, not the files) and whose first build
    * in the JVM ActivitySinkSpec observes. */
  private lazy val served = {
    val path = tmpDir("graft_plan_shape") + "/activity"
    val (l, c, s, f) = graft.sources.CdcSource.all(spark, d)
    graft.sinks.ActivitySink.write(graft.ingest.Pipeline.activity(l, c, s, f), path)
    val table = graft.sinks.ActivitySink.read(spark, path)
    val edges = table.where(col("activity_type") === "FOLLOW_USER")
      .select(col("user_id").as("follower_id"), col("target_id").as("following_id"))
    val reader = edges.groupBy("follower_id").count()
      .orderBy(col("count").desc, col("follower_id")).head().getString(0)
    (table, edges, reader)
  }

  /** One feed page as a client is served it: followee IN-list, its
    * buckets, the materialized page, rendered. */
  private def servePage(table: DataFrame, edges: DataFrame, reader: String): DataFrame = {
    val followees = graft.serve.FeedQueries.followeesOf(edges, reader)
    graft.serve.FeedQueries.renderJson(graft.serve.FeedQueries.feedPageMaterialized(
      table, graft.sinks.ActivitySink.bucketsOf(followees), followees, limit = 20))
  }

  test("feed_page_materialized: one pruned scan plus top-k, no exchange or join") {
    val (table, edges, reader) = served
    val p = servePage(table, edges, reader).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"))
    assert(!p.contains("Join"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(nodeCount(p, "Scan parquet") === 1)
    // the followee IN-list reaches the file scan (InSet is pushed as In)
    assert("""PushedFilters: \[[^\n]*In\(user_id,""".r.findFirstIn(p).isDefined, p)
    assert("""PartitionFilters: \[[^\n]*user_bucket""".r.findFirstIn(p).isDefined, p)
  }

  test("feed_page_materialized: one served page is exactly two Spark jobs") {
    val (table, edges, reader) = served
    val (rows, jobs) = withJobCount(servePage(table, edges, reader).collect())
    assert(rows.nonEmpty)
    // the follow-set collect, then the page scan
    assert(jobs === 2)
  }

  test("events_session_attribution: range join plans as equi-join, not BNL") {
    val p = plan("events_session_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("near_dup_jaccard: band join is an equi-join; no cartesian anywhere") {
    val p = plan("near_dup_jaccard")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("cdc adapter branch: event-type filter is pushed to the scan") {
    val p = plan("cdc_adapter_likes")
    assert(p.contains("PushedFilters"))
    assert(p.contains("event_type"))
  }

  test("activityStream scans and parses its source once") {
    import spark.implicits._
    val dir = tmpDir("graft_plan_envelopes")
    Seq(
      """{"id":7,"shard_id":3,"liked_by":"2","__op":"c","__table":"likes","__source_ts_ms":1752228000000,"__source_table":"likes"}""",
      """{"id":2,"follower_id":"2","following_id":"1","__op":"c","__table":"followers","__source_ts_ms":1752228180000,"__source_table":"followers"}""")
      .toDF("value").write.mode("overwrite").text(dir)
    val out = graft.streaming.StreamingIngest.activityStream(spark.read.text(dir))
    val exec = out.queryExecution.executedPlan
    val scans = exec.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // every from_json occurrence: a gate predicate pushed below the parse
    // would carry its own copy and parse the envelope again
    val parses = exec.collect { case n => n.expressions.map(_.collect {
      case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j
    }.size).sum }.sum
    assert(scans.size === 1, exec)
    assert(parses === 1, exec)
    assert(out.count() === 2)
  }

  test("pack_windows: no single-partition global window anywhere") {
    // the naive global cumsum plans an `Exchange SinglePartition` — the
    // one shape that cannot scale; the range-partitioned prefix sum must
    // never reintroduce it
    val p = plan("pack_windows")
    assert(!p.contains("SinglePartition"), "global-window collapse detected")
    assert(p.contains("Window"), "per-partition running sum is a Window")
  }

  test("near_dup_containment: prefix-filter join is an equi-join, not BNL") {
    val p = plan("near_dup_containment")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("quality_repetition: both aggregates are map-side combined") {
    val p = plan("quality_repetition")
    assert(!p.contains("CartesianProduct"))
    // two-level aggregation, each with partial + final: 4 HashAggregate
    // nodes, or 2 ObjectHashAggregate nodes when the collect path is
    // object-hashed (node counts, not doubled formatted-text hits)
    assert(nodeCount(p, "HashAggregate") >= 4 ||
      nodeCount(p, "ObjectHashAggregate") >= 2, p.take(400))
  }

  test("semantic_pairs: centroids broadcast; cell join is an equi-join") {
    val p = plan("semantic_pairs")
    // the centroid attach is the ONLY nested-loop: a broadcast of C
    // centroid rows against the corpus scan (the argmax assignment pass).
    // The pair join itself must be a hash equi-join on the cell key.
    assert(p.contains("BroadcastExchange"), "centroids must broadcast")
    assert(!p.contains("CartesianProduct"))
    // distinct operator ids, not raw string hits — the cached assignment
    // subtree is re-DISPLAYED under each InMemoryTableScan but executes once
    assert(nodeCount(p, "BroadcastNestedLoopJoin") <= 1,
      "only the single broadcast centroid attach may nest")
    assert(p.contains("InMemoryRelation"),
      "cell assignment must be cached — both self-join sides read it")
  }

  test("semantic_dedup: survivors anti-join; no corpus cartesian") {
    val p = plan("semantic_dedup")
    assert(p.contains("LeftAnti"), "survivor filter must be an anti-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_lines: repeated-line filter is an anti-join, aggregates " +
      "map-side combined") {
    val p = plan("dedup_lines")
    assert(p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("media_near_dup: band self-join is an equi-join on 8-byte keys") {
    val p = plan("media_near_dup")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("contamination_bloom_verified: probe side broadcasts; " +
      "bloom prefilter reaches the scan side as a filter") {
    val p = plan("contamination_bloom_verified")
    assert(p.contains("BroadcastExchange"), "probe fingerprints broadcast")
    assert(p.contains("LeftSemi"))
    assert(!p.contains("CartesianProduct"))
  }

  test("contamination_ngram: probe grams broadcast; corpus joins at scan") {
    val p = plan("contamination_ngram")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("split_leakage and source_vocab_overlap: equi-joins only") {
    for (q <- Seq("split_leakage", "source_vocab_overlap")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("events_similar_users: profile queries broadcast against one " +
      "corpus pass") {
    val p = plan("events_similar_users")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("CartesianProduct"))
  }

  test("corpus_clean: probe fingerprints broadcast into the anti-join") {
    val p = plan("corpus_clean")
    assert(p.contains("LeftAnti"))
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("CartesianProduct"))
  }

  test("lang_id: the corpus is tokenized exactly once (projection " +
      "boundary holds against CollapseProject)") {
    // the round-5 regression: an inline token expression re-tokenized the
    // text once per lexicon inside interpreted filter lambdas. The
    // optimized plan must contain a single split of the text column.
    val df = SparkEntry.queries("lang_id")(spark, d)
    // optimized LOGICAL plan text (not formatted physical explain): each
    // expression prints once, so a raw count here IS the occurrence count
    val p = df.queryExecution.optimizedPlan.toString
    assert("split\\(".r.findAllIn(p).length === 1, p.take(2000))
  }

  test("lang-mix twins: scorers evaluate exactly once — the scoring " +
      "pass is fenced, argmax/margin never re-inline it") {
    // the round-18 regression: CollapseProject + filter pushdown inlined
    // the 9 lang scorers into the argmax when-chain and the confidence
    // predicate (111 regexp_extract_all occurrences vs 23, 15.4 s vs
    // 6.4 s). The fix scores once behind a localCheckpoint fence; these
    // counts pin it.
    import org.apache.spark.sql.functions.col
    val T = graft.ext.TextOps
    // the single-pass occurrence count, derived from the scorer
    // expressions themselves (self-maintaining as scorers evolve):
    // each `regexp_count` rewrites 1:1 to `size(regexp_extract_all)`
    // in the optimized plan (RuntimeReplaceable)
    val perPass = {
      val s = T.langScores(col("toks"), col("body"))
        .map(_._2.toString).mkString
      "regexp_count".r.findAllIn(s).length
    }
    assert(perPass > 0)
    val scored = graft.queries.ExtQueries.langMixScored(
      graft.ext.WebCodec.pipelineMain(graft.ext.WebCodec.webWarc(
        graft.sources.Tables(spark, d, "documents"))))
    val sp = scored.queryExecution.optimizedPlan.toString
    assert("regexp_extract_all".r.findAllIn(sp).length === perPass,
      "scoring pass must evaluate each scorer exactly once")
    // the registered batch twins: ALL scoring sits behind the fence —
    // zero scorer expressions may survive in the final optimized plan.
    // (The served twins ride the SAME langMixOver builder, but
    // building them here would force WebSink's materialization cache
    // and leak an InMemoryRelation into later plan-shape tests.)
    for (q <- Seq("web_lang_mix", "web_lang_mix_confident")) {
      val p = SparkEntry.queries(q)(spark, d)
        .queryExecution.optimizedPlan.toString
      assert("regexp_extract_all".r.findAllIn(p).isEmpty, q)
      assert("regexp_count".r.findAllIn(p).isEmpty, q)
    }
  }

  test("bpe pair counting: no corpus-global window; one explode+count " +
      "shuffle feeds the learner") {
    // wordCounts is the learner's only corpus-wide pass
    val p = graft.ext.Bpe.wordCounts(
      graft.sources.Tables(spark, d, "documents"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Window"))
    // partial + final: two distinct HashAggregate nodes
    assert(nodeCount(p, "HashAggregate") >= 2, "map-side combine")
  }

  test("quality_perplexity: decimal per-doc sums, no cartesian, " +
      "single-row totals broadcast") {
    val p = plan("quality_perplexity")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("Join Inner"),
      "totals frame is a single-row broadcast")
  }

  private lazy val followers = graft.sources.CdcSource.followers(
    graft.sources.CdcSource.events(spark, d))

  test("a PageRank round is exactly two Spark jobs") {
    // one round more is one id-keyed shuffle plus one eager checkpoint
    // that also observes the next spill; both variants
    val variants = Seq[Int => DataFrame](
      k => graft.serve.Influence.pageRank(followers, iterations = k),
      k => graft.serve.Influence.personalizedPageRank(followers, iterations = k))
    for (pr <- variants) {
      def jobs(k: Int): Int =
        Fence.scope(withJobCount(pr(k).collect())._2)
      jobs(2) // warm: the fixture's schema and codegen cache
      assert(jobs(3) - jobs(2) === 2)
    }
  }

  test("a PageRank round's plan: no join, broadcast or cartesian") {
    // the plan is the last round over the checkpointed previous state
    for (q <- Seq("feed_influence", "feed_influence_personalized")) {
      val p = Fence.scope(plan(q))
      assert(p.contains("Generate"), q)
      assert(!p.contains("Join"), q)
      assert(!p.contains("Broadcast"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("corpus_split: the doc-sized rank path is the range-partitioned " +
      "prefix sum — no single-partition window anywhere") {
    val p = plan("corpus_split")
    assert(!p.contains("SinglePartition"), "global-window collapse detected")
    assert(p.contains("Window"), "per-partition running sum is a Window")
    assert(!p.contains("CartesianProduct"))
  }

  test("mixture_sample: doc-sized frames only meet broadcast seat/offset " +
      "tables; no cartesian") {
    val p = plan("mixture_sample")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("CartesianProduct"))
  }

  test("embed_quantized_topk: scale is one broadcast row; top-k limit " +
      "pushed below the window exchange") {
    val p = plan("embed_quantized_topk")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("CartesianProduct"))
  }

  test("source_tfidf: map-side combined counts; df join is an " +
      "equi-join; no cartesian") {
    val p = plan("source_tfidf")
    // partial + final: two distinct HashAggregate nodes
    assert(nodeCount(p, "HashAggregate") >= 2)
    assert(!p.contains("CartesianProduct"))
  }

  test("source_overlap: inverted-index equi-join on the shingle key; " +
      "size tables broadcast; no BNL, no cartesian") {
    val p = plan("source_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange"))
  }

  test("pii_scan: one corpus scan, regexes stay in the projection — " +
      "no join, no aggregate shuffle") {
    val p = plan("pii_scan")
    assert(p.contains("Scan parquet"))
    assert(!p.contains("HashAggregate"))
    assert(!p.contains("Join"))
  }

  test("bm25_topk_indexed: postings scan is bucket-pruned to the probed " +
      "terms' dirs; query-term joins broadcast; top-k limit pushed down") {
    // the registered query reads the per-fixture lexical-run memo
    // (round 10), so the PROBE plan under audit is built directly — the
    // exact frame standardLexRun materializes on a memo miss
    val df = graft.sinks.TextIndex.bm25TopK(
      graft.sinks.TextIndex.standardQueries(spark, d),
      graft.sinks.TextIndex.materialized(spark, d), k = 20)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the serving-side pruning read that makes the persisted index
    // sublinear: the physical scan carries a term_bucket partition filter
    assert(p.contains("term_bucket"), "postings scan must be bucket-pruned")
    assert(p.contains("PartitionFilters"))
    assert(p.contains("BroadcastExchange"), "query terms must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("WindowGroupLimit"), "per-query top-k pushdown")
  }

  test("memorization_rate: gram-keyed equi-join — no doc-pair nested loop") {
    val p = plan("memorization_rate")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("media_dims: the JPEG walk stays a chain of projections (the " +
      "shape that keeps codegen under the Janino method limit)") {
    // a single recursive expression inlines the walk cursor ~5× per
    // level (~5⁸ nodes) and overflows Janino into interpreted fallback;
    // the stepwise form is one Project per walk step over one scan
    val df = SparkEntry.queries("media_dims")(spark, d)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // ≥10 distinct Project nodes — the stepwise walk keeps one Project
    // per step rather than one mega-expression
    assert(nodeCount(p, "Project") >= 10, "chained walk steps")
    assert(nodeCount(p, "Scan parquet") <= 1, "one corpus scan")
  }

  test("feed_triangles: wedge and closure joins are equi-joins — the " +
      "degree-ordered enumeration never plans a vertex-pair nested loop") {
    val p = plan("feed_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"), "wedge closure is a semi-join")
  }

  test("er_fuzzy_parts: blocking key carries the join; levenshtein is a " +
      "post-join filter, never a join condition driving a nested loop") {
    val p = plan("er_fuzzy_parts")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("events_heavy_hitters: only the single-row total rides a " +
      "broadcast nested loop; the exact recount is map-side combined") {
    val p = plan("events_heavy_hitters")
    // a non-broadcast cross join would surface as CartesianProduct
    assert(!p.contains("CartesianProduct"))
    // exactly one BNLJ NODE is licensed: crossJoin(broadcast(total)) — a
    // second node means the sketch or survivor join degraded. (r11 lesson:
    // a raw substring count here reads 2 for one node, because formatted
    // explain prints each operator in the tree AND as a detail header.)
    assert(nodeCount(p, "BroadcastNestedLoopJoin") <= 1,
      "only the single-row total may nested-loop")
    assert(nodeCount(p, "HashAggregate") >= 2,
      "exact recount must partial-aggregate before the exchange")
  }

  test("feed_trending: only the single-row max-ts rides a broadcast " +
      "nested loop; the decayed sum is map-side combined") {
    val p = plan("feed_trending")
    assert(!p.contains("CartesianProduct"))
    assert(nodeCount(p, "BroadcastNestedLoopJoin") <= 1,
      "only the single-row max-ts may nested-loop")
    assert(nodeCount(p, "HashAggregate") >= 2, "map-side combine")
  }

  test("media decode chains: one documents scan each; the phash band " +
      "join is an equi-join, never a pair nested loop") {
    for (q <- Seq("media_audio_features", "media_video_features",
        "media_scene_cuts")) {
      val p = plan(q)
      assert(nodeCount(p, "Scan parquet") <= 1, s"$q: one synth scan")
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
    val p = plan("media_phash_pairs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "banded hamming join must stay an equi-join")
  }

  test("events_cm_check: the d×w matrix broadcasts into the estimate " +
      "join; only the single-row total nested-loops; counts are " +
      "map-side combined") {
    val p = plan("events_cm_check")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange"), "sketch matrix must broadcast")
    assert(nodeCount(p, "BroadcastNestedLoopJoin") <= 1,
      "only the single-row total may nested-loop")
    assert(nodeCount(p, "HashAggregate") >= 2, "map-side combine")
  }

  test("orders_zorder_cells: two pruned scans (bounds + keys), the " +
      "single-row bounds broadcast, cells map-side combined") {
    val p = plan("orders_zorder_cells")
    assert(!p.contains("CartesianProduct"))
    assert(nodeCount(p, "BroadcastNestedLoopJoin") <= 1,
      "only the single-row min/max bounds may nested-loop")
    // both scans prune to exactly the two layout columns
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(schemas.nonEmpty && schemas.forall(s =>
      s.contains("o_custkey") && s.contains("o_orderdate") &&
        s.split(",").length == 2),
      s"scans must read exactly the layout columns: $schemas")
    assert(nodeCount(p, "HashAggregate") >= 2, "map-side combine")
  }

  test("orders_zorder_skipping: one cached key frame feeds three bounded" +
      " aggregates; every nested loop is a single-row broadcast") {
    val p = plan("orders_zorder_skipping")
    assert(!p.contains("CartesianProduct"))
    // bounds + the two single-row layout summaries + rows_match fold
    assert(nodeCount(p, "BroadcastNestedLoopJoin") <= 3,
      "only single-row frames may nested-loop")
    assert(p.contains("InMemoryTableScan"),
      "the key frame must be computed once and reused")
  }

  test("orders_curve_files: one cached key frame feeds both curves' " +
      "file aggregates; no nested loops beyond the single-row bounds") {
    val p = plan("orders_curve_files")
    assert(!p.contains("CartesianProduct"))
    assert(nodeCount(p, "BroadcastNestedLoopJoin") <= 1,
      "only the single-row min/max bounds may nested-loop")
    assert(p.contains("InMemoryTableScan"),
      "the key frame must be computed once and reused")
  }

  test("orders_zorder_pruned_read: the cell list is a static partition " +
      "filter on the clustered table's scan") {
    val p = plan("orders_zorder_pruned_read")
    // the predicate must be INSIDE the brackets: a bare
    // "PartitionFilters: []" plus zcell in the scan's Output would
    // vacuously satisfy two independent contains checks
    assert("PartitionFilters: \\[[^\\]]*zcell".r.findFirstIn(p).isDefined,
      s"read must prune zcell= directories:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(nodeCount(p, "HashAggregate") >= 2, "map-side combine")
  }

  test("codec chains are shuffle-free up to the final feature aggregate: " +
      "one exchange (the groupBy), no join, no window") {
    // synthesis -> mapPartitions decode -> featurize is per-row work;
    // at 100 TB the ONLY exchange these queries may pay is the final
    // per-media aggregate (and ORDER BY) — a scan-shaped pipeline
    for (q <- Seq("media_features_jpeg_prog", "media_features_webpl_chain",
      "media_features_webpl_palette", "media_video_features_mjpeg",
      "media_scene_cuts_mjpeg", "media_embedding", "media_av_features",
      // the r15 tiers keep the same scan shape: VP8, MP4 (video-only,
      // A/V, Column dims), ADPCM, WebM
      "media_features_vp8", "media_video_features_mp4",
      "media_av_features_mp4", "media_dims_mp4",
      "media_audio_features_adpcm", "media_video_features_webm")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      assert(!p.contains("Window"), s"$q must not window")
      assert(keyedExchangeCount(p) <= 2,
        s"$q: only the feature aggregate + final sort may move keyed " +
          s"data (the round-robin scan-parallelize seam is exempt):\n$p")
    }
  }

  test("web ingestion chains are scan-shaped: per-row codec/regex work, " +
      "no join, no window, only the rollup + final sort may exchange") {
    // WARC parse and HTML extraction are per-row; at 100 TB a web-corpus
    // pass must stream archive splits through executors with zero
    // cross-partition traffic before the (optional) rollup
    for (q <- Seq("web_warc_records", "web_html_text", "web_url_parts",
      "web_domain_stats", "web_pipeline", "web_pipeline_materialized",
      "web_robots_gate", "web_wet_text", "web_chunks_e2e", "web_sitemap_urls",
      "web_url_canonical", "web_charset_mix",
      "text_chunks_sliding", "corpus_jsonl_roundtrip",
      "archive_tar_entries", "archive_zip_entries", "archive_zip_text")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      assert(!p.contains("Window"), s"$q must not window")
      // domain_stats pays one extra exchange by design: its EXACT
      // per-domain distinct-source count is the textbook two-phase
      // (expand) aggregate — keyed by domain throughout, so both
      // shuffles stay long-only and partition-bounded at 100 TB
      val cap = if (q == "web_domain_stats") 3 else 2
      assert(keyedExchangeCount(p) <= cap,
        s"$q: only the rollup + final sort may exchange:\n$p")
    }
    // the pure-Column chains must stay projection-only (codegen-able
    // end to end): no typed/object seam anywhere in the plan
    // (web_main_content r16: block segmentation via nested HOFs is
    // still pure-Column — no explode, no imperative seam)
    for (q <- Seq("web_html_text", "web_url_parts", "web_main_content",
      "web_url_canonical")) {
      val p = plan(q)
      assert(p.contains("Scan parquet"), s"$q reads the table directly")
      assert(!p.contains("MapPartitions") && !p.contains("MapElements") &&
        !p.contains("DeserializeToObject"),
        s"$q is pure-Column; no imperative seam expected:\n$p")
    }
    // r16 additions that stay scan-shaped
    for (q <- Seq("web_http_framing", "web_main_content",
      "web_pipeline_main", "web_pipeline_main_materialized")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      assert(!p.contains("Window"), s"$q must not window")
      assert(nodeCount(p, "Exchange") <= 2,
        s"$q: only the final sort may exchange:\n$p")
    }
    // the frontier resolves urlset refs against the per-domain sitemap
    // table — that side is tiny (3 rows per domain) and MUST broadcast;
    // a shuffle join here would serialize the whole fetch queue through
    // one key space at 100 TB
    locally {
      val p = plan("web_crawl_frontier")
      assert(p.contains("BroadcastHashJoin"),
        s"web_crawl_frontier: sitemap-ref join must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"web_crawl_frontier: no shuffle/cartesian join:\n$p")
      assert(!p.contains("Window"))
    }
    // revisit dedup joins crawl 2's referral URIs against crawl 1's
    // captures — BOTH sides scale with the corpus, so a keyed shuffle
    // join is the intended shape (never cartesian, never windowed)
    locally {
      val p = plan("web_revisit_dedup")
      assert(p.contains("Join"), s"web_revisit_dedup joins by design:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"web_revisit_dedup: no cartesian:\n$p")
      assert(!p.contains("Window"))
    }
    // lang mix: gate → lexicon-score → argmax → two-key rollup; the
    // rollup + final sort are its only exchanges
    locally {
      val p = plan("web_lang_mix")
      assert(!p.contains("Join"), s"web_lang_mix must not join:\n$p")
      assert(!p.contains("Window"))
      assert(nodeCount(p, "Exchange") <= 3,
        s"web_lang_mix: rollup + sort only:\n$p")
    }
    // the funnel is one keyed enrichment join + a 7-group rollup —
    // never cartesian, never windowed
    locally {
      val p = plan("web_funnel")
      assert(p.contains("Join"), s"web_funnel joins by design:\n$p")
      assert(!p.contains("CartesianProduct"), s"web_funnel: no cartesian:\n$p")
      assert(!p.contains("Window"))
    }
    // the redirect chase joins canonicalized Location targets against
    // the crawl's canonical capture keys (both corpus-sized — the
    // revisit-dedup keyed-shuffle shape) plus the per-doc robots
    // verdict — never cartesian, never windowed
    locally {
      val p = plan("web_redirect_chase")
      assert(p.contains("Join"), s"web_redirect_chase joins by design:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"web_redirect_chase: no cartesian:\n$p")
      assert(!p.contains("Window"))
    }
    // the crawl-health rollup (r18) is one scan of the slim fetch log
    // into a 7-group rollup — no joins, no archive bytes, only the
    // rollup + final-sort exchanges
    locally {
      val p = plan("web_fetch_stats_served")
      assert(!p.contains("Join"),
        s"web_fetch_stats_served must not join:\n$p")
      assert(p.toLowerCase.contains("parquet"),
        s"web_fetch_stats_served must read the fetch log:\n$p")
      assert(nodeCount(p, "Exchange") <= 3,
        s"web_fetch_stats_served: rollup + sort only:\n$p")
    }
    // the multi-hop chase (r18) is bounded pointer jumping: each hop
    // joins the chase state against the (tiny, 3xx-only) edge table —
    // every hop must BROADCAST, never shuffle the state, and the whole
    // chase must never go cartesian
    locally {
      val p = plan("web_redirect_chase_multi")
      assert(p.contains("BroadcastHashJoin"),
        s"web_redirect_chase_multi: per-hop edge joins must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"web_redirect_chase_multi: no cartesian:\n$p")
      assert(!p.contains("Window"))
    }
    // the chase's 100 TB fallback (r19, VERDICT r18 caveat): past the
    // broadcast size gate each hop joins KEYED on the canonical-URL
    // key — a real join shape (shuffle hash / sort-merge), never a
    // nested loop or cartesian
    locally {
      val W = graft.ext.WebCodec
      val recs = W.warcRecords(W.webWarc(
        graft.sources.Tables(spark, d, "documents")))
      val p = W.chaseMultiOver(recs, maxBroadcastEdges = 0L)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // all 4 hop joins must be keyed shuffle-hash joins; only the
      // final already-fetched attach may still broadcast at test scale
      assert(nodeCount(p, "ShuffledHashJoin") >= 4,
        s"gated chase: per-hop edge joins must be keyed:\n$p")
      assert(nodeCount(p, "BroadcastHashJoin") <= 1,
        s"gated chase: edge side must not broadcast:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"gated chase: keyed joins only:\n$p")
    }
    // the served chase (r18) reads the WebSink fetch table instead of
    // re-parsing the corpus twice — its plan must scan the serving
    // table (parquet), never the WARC synthesis seam; the one
    // remaining object seam is the (tiny, per-domain) robots gate
    locally {
      val p = plan("web_redirect_chase_served")
      assert(p.contains("Join"),
        s"web_redirect_chase_served joins by design:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"web_redirect_chase_served: no cartesian:\n$p")
      assert(p.toLowerCase.contains("parquet"),
        s"web_redirect_chase_served must read the serving table:\n$p")
    }
  }
}
