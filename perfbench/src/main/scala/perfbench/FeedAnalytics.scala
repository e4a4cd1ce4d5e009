package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.SparkEntry
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.types._

/** feed_analytics: the registered `feed_*` / `cdc_*` queries over a seeded
  * `events` fixture, each forced through `noop` and followed by
  * `Dedup.releaseAll()` as the repository's query bench does. The seed
  * makes the fixture and permutes the query order of every pass; passes
  * repeat until `--seconds` is spent. The batch operators and the `Dedup`
  * fences do the work; streaming is idle.
  *
  * Correctness: an untimed pass before timing, which also warms the JVM,
  * writes every query's output beside its oracle SQL, `cpus` queries at a
  * time; the launcher then compares them under DuckDB with the
  * repository's `tools/oracle_check.py`. */
object FeedAnalytics {

  val Queries: Seq[String] = Seq(
    "cdc_activity_union", "cdc_adapter_comments", "cdc_adapter_follows", "cdc_adapter_likes",
    "cdc_adapter_shards", "cdc_current_state", "cdc_gate_audit", "cdc_scd2", "cdc_state_at",
    "feed_2hop_reach", "feed_cache_key", "feed_comment_enriched", "feed_components",
    "feed_cooccurrence", "feed_count", "feed_influence", "feed_influence_personalized",
    "feed_page", "feed_page_keyset", "feed_page_materialized", "feed_render",
    "feed_render_json", "feed_topk_per_user", "feed_topk_per_user_salted", "feed_trending",
    "feed_triangles", "feed_user_enriched")

  /** Rows and users of the `events` fixture: the repository's sf0.01 test
    * fixture's shape. A pass is mostly per-job overhead (about 480 jobs),
    * not data: at half this size it took as long. */
  val Events = 10000
  val Users = 150

  private val EventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Write `<dir>/events.parquet` as one parquet file, in the layout and
    * types of the repository's test fixtures (ts as a timestamp without time zone). */
  def writeFixture(spark: org.apache.spark.sql.SparkSession, dir: String, seed: Long,
      n: Int, users: Int): Unit = {
    val rows = Gen.events(seed, n, users).map { case (id, tsUs, u, kind, v, props) =>
      Row(id, java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(tsUs, 1000000L),
        (Math.floorMod(tsUs, 1000000L) * 1000).toInt, java.time.ZoneOffset.UTC), u, kind, v, props)
    }
    val tmp = s"$dir/.events"
    spark.createDataFrame(rows.asJava, EventsSchema).coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dir, "events.parquet"))
    Tables.delete(tmp)
  }

  def force(spark: org.apache.spark.sql.SparkSession, name: String, dir: String): Unit =
    try SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    finally graft.ext.Dedup.releaseAll()

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.trace
    val spark = ctx.spark
    val missing = Queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not registered: $missing")

    val fx = ctx.dir("fixture")
    ctx.timed("fixture")(writeFixture(spark, fx, ctx.seed, Events, Users))
    // untimed, and the warm-up: every output beside its oracle SQL, for the
    // DuckDB check. The queries run `cpus` at a time, as the repository's
    // correctness gate runs them, so the Dedup fences are released only
    // once all have ended. This pass also builds the K1 table that
    // feed_page_materialized serves from (ActivitySink.materialized): a
    // one-time write-path cost, kept out of the timed passes as the
    // repository's query bench keeps it.
    val out = ctx.dir("oracle-out")
    val errors = Seq.newBuilder[String]
    ctx.timed("oracle_pass") {
      val pool = Executors.newFixedThreadPool(ctx.cpus)
      try {
        Queries.map { name =>
          pool.submit(() => Try(SparkEntry.queries(name)(spark, fx).coalesce(1).write
            .mode("overwrite").parquet(s"$out/$name")).failed.toOption.map(e => s"$name: $e"))
        }.foreach(_.get().foreach(errors += _))
      } finally {
        pool.shutdown()
        graft.ext.Dedup.releaseAll()
      }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json(oracle))
    // the executions seen so far are set-up's; the timed passes' follow
    tr.settle()
    val setupExecutions = tr.executions.size
    val setupS = ctx.setupS()

    val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val passS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var codegenNs = 0L
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var pass = 0
    while (pass < 1 || System.nanoTime() < deadline) {
      val order = Gen.shuffled(Queries, new SplittableRandom(ctx.seed * 31 + pass))
      val p = pass
      val spent = order.map { name =>
        tr.inGroup(s"query-$name-$p") {
          tr.span(s"query.$name") { _ =>
            val c0 = CodeGenerator.compileTime
            val t0 = System.nanoTime()
            force(spark, name, fx)
            val s = (System.nanoTime() - t0) / 1e9
            codegenNs += CodeGenerator.compileTime - c0
            times += name -> s
            s
          }
        }
      }
      passS += spent.sum
      pass += 1
    }

    val perQuery = times.map(_._2).toSeq
    val endToEnd = Map(
      "setup_s" -> setupS,
      "throughput_per_s" -> perQuery.size / perQuery.sum,
      // the geometric mean, not the median: the queries are 27 different
      // operations, and a median over them jumps between neighbours as the
      // seeded order shifts their times
      "latency_ms" -> math.exp(perQuery.map(math.log).sum / perQuery.size) * 1000)
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        tr.settle()
        val isQuery = (g: String) => g.startsWith("query-")
        val g = tr.total(isQuery)
        val mb = 1024.0 * 1024.0
        val planningMs = tr.executions.asScala.toSeq.drop(setupExecutions).map(_.planningMs).sum
        Queries.map(q => s"queries.${q}_s" -> Stats.median(times.filter(_._1 == q).map(_._2).toSeq))
          .toMap ++ Map(
          "queries.planning_ms" -> planningMs / pass,
          "queries.codegen_ms" -> codegenNs / 1e6 / pass,
          "queries.jobs" -> g.jobs.toDouble / pass,
          "queries.tasks" -> g.tasks.toDouble / pass,
          "queries.task_cpu_ms" -> g.cpuNs / 1e6 / pass,
          "queries.gc_ms" -> g.gcMs.toDouble / pass,
          "queries.shuffle_mb" -> g.shuffleWriteBytes / mb / pass,
          "queries.spill_mb" -> g.spillBytes / mb / pass,
          "queries.scan_mb" -> g.inputBytes / mb / pass)
      }
    val errs = errors.result()
    Outcome(
      attempted = perQuery.size,
      failed = errs.size,
      endToEnd = endToEnd,
      layers = Layers.complete(layers),
      report = Map(
        "passes" -> pass, "batch_s" -> passS.toSeq, "queries" -> Queries.size,
        "oracle_check" -> Map("fixture" -> fx, "out" -> out)),
      errors = errs)
  }
}
