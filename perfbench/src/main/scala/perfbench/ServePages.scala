package perfbench

import java.util.SplittableRandom

import graft.ingest.Pipeline
import graft.serve.FeedQueries
import graft.sinks.ActivitySink
import graft.streaming.StreamingIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** What one served page cost, as far as the traced run can see it. */
final case class PageCost(
    followeesMs: Double,
    pageMs: Double,
    planningMs: Double,
    buckets: Int,
    files: Long,
    rowsScanned: Long)

/** One served feed page: the request, what came back, and its cost. */
final case class Served(
    id: Int,
    reader: String,
    offset: Int,
    rows: Vector[(Long, String)],
    cost: PageCost)

/** The feed read path as a user hits it: followee lookup →
  * `ActivitySink.bucketsOf` → `renderJson(feedPageMaterialized(..))`
  * collected. */
object Serve extends AdaptiveSparkPlanHelper {

  val Limit = 20
  val Block = 10

  /** The request stream of a run, request `i` = `apply(i)`. The reader
    * is drawn by activity (Zipf) among users who follow someone; 90% ask
    * for the first page, 10% for a deep offset. Draws are stratified in
    * blocks of [[Block]] requests (each block takes one reader from each
    * 1/Block quantile of the distribution, in a seeded order, and has
    * exactly Block/10 deep pages), so runs of a similar length serve a
    * similar mix and differ by order and detail, not by how often the
    * heaviest reader happened to come up. */
  final class Requests(gen: Gen, follows: Map[String, Set[String]], seed: Long) {
    private def perm(r: SplittableRandom) = Gen.shuffled(0 until Block, r)
    def apply(i: Int): (String, Int) = {
      val r = new SplittableRandom(seed * 1000003L + i / Block)
      val (stratum, deep) = (perm(r), perm(r))
      val j = i % Block
      val own = new SplittableRandom(seed * 7919L + i)
      var u = gen.activeUserAt((stratum(j) + own.nextDouble()) / Block)
      while (!follows.contains(u.toString)) u = gen.activeUser(own)
      (u.toString, if (deep(j) % 10 == 0) Limit * (1 + own.nextInt(10)) else 0)
    }
  }

  def page(tr: Trace, table: => DataFrame, edges: DataFrame, id: Int, reader: String,
      offset: Int): Served =
    tr.inGroup(s"page-$id") {
      tr.span("page") { sid =>
        val t0 = System.nanoTime()
        val (followees, buckets) = tr.span("serve.followees", sid) { _ =>
          val f = FeedQueries.followeesOf(edges, reader)
          (f, ActivitySink.bucketsOf(f))
        }
        val t1 = System.nanoTime()
        val df = FeedQueries.renderJson(
          FeedQueries.feedPageMaterialized(table, buckets, followees, Limit, offset))
        val rows = tr.span("serve.page", sid) { _ =>
          df.collect().iterator.map(r => (r.getLong(0), r.getString(1))).toVector
        }
        val t2 = System.nanoTime()
        val cost =
          if (!tr.enabled) PageCost(0, 0, 0, 0, 0, 0)
          else {
            val qe = df.queryExecution
            val scans = collect(qe.executedPlan) { case s: FileSourceScanExec => s }
            def m(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
            PageCost((t1 - t0) / 1e6, (t2 - t1) / 1e6, Trace.planningMs(qe), buckets.size,
              m("numFiles"), m("numOutputRows"))
          }
        Served(id, reader, offset, rows, cost)
      }
    }

  /** Serve-layer metrics of a traced run over `pages`. */
  def layers(tr: Trace, pages: Seq[Served]): Map[String, Double] = {
    tr.settle()
    val n = pages.size.toDouble
    val groups = pages.map(p => tr.group(s"page-${p.id}"))
    def med(xs: Seq[Double]) = Stats.median(xs)
    val returned = pages.map(_.rows.size).sum
    Map(
      "serve.followees_ms" -> med(pages.map(_.cost.followeesMs)),
      "serve.page_ms" -> med(pages.map(_.cost.pageMs)),
      // the page query's phases; the followee lookup's collect inside
      // bucketsOf is not included
      "serve.planning_ms" -> med(pages.map(_.cost.planningMs)),
      "serve.jobs_per_page" -> groups.map(_.jobs).sum / n,
      "serve.tasks_per_page" -> groups.map(_.tasks).sum / n,
      "serve.task_wait_ms" -> med(groups.map(g => g.taskWaitMs.toDouble / math.max(g.jobs, 1))),
      "serve.files_per_page" -> pages.map(_.cost.files).sum / n,
      "serve.buckets_per_page" -> pages.map(_.cost.buckets).sum / n,
      "serve.rows_scanned_per_row_returned" ->
        pages.map(_.cost.rowsScanned).sum.toDouble / math.max(returned, 1),
      "serve.task_cpu_ms" -> med(groups.map(_.cpuNs / 1e6)))
  }

  /** Follow edges (follower_id, following_id) as the serving tier keeps
    * them: the FOLLOW_USER rows of the activity table at `table`, copied to
    * `path` and cached. A copy of its own, so appends to the table do not
    * re-cache the graph: the follow graph is the set-up snapshot. */
  def edges(spark: org.apache.spark.sql.SparkSession, table: String, path: String): DataFrame = {
    ActivitySink.read(spark, table).where(col("activity_type") === "FOLLOW_USER")
      .select(col("user_id").as("follower_id"), col("target_id").as("following_id"))
      .write.mode("overwrite").parquet(path)
    val e = spark.read.parquet(path).cache()
    e.count()
    e
  }

  /** Build an activity table at `path` through the K1 write path: the
    * ingest plan over `src` as a static frame, deduplicated, then appended
    * as one micro-batch would append it. */
  def build(spark: org.apache.spark.sql.SparkSession, src: String, path: String): Unit =
    ActivitySink.appendBatch(Pipeline.deduped(StreamingIngest.activityStream(spark.read.text(src))), path)
}

/** serve_pages: a closed loop of `cpus` clients over a compacted table that
  * setup builds from the generator through the K1 write path. Per-page
  * planning, job scheduling, bucket pruning and the semi-join/top-k do the
  * work; ingest is idle. Every page is checked against the model. */
object ServePages {

  val Users = 2000
  val FollowEdges = 4000
  val Envelopes = 20000
  /** Untimed warm-up pages, a fixed count so that `setup_s` is fixed work. */
  val WarmPages = 16

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.trace
    val spark = ctx.spark
    val gen = new Gen(ctx.seed, Users)
    val envelopes = gen.follows(FollowEdges) ++ gen.next(Envelopes)
    val expectedRows = Model.activity(envelopes)
    val model = new Model.Pages(expectedRows, Model.followees(expectedRows))
    val src = ctx.dir("src")
    ctx.timed("generate")(Tables.stage(src, "cdc", envelopes, 4))
    val path = ctx.work.resolve("table").toString
    ctx.timed("build")(Serve.build(spark, src, path))
    ctx.timed("compact")(ActivitySink.compact(spark, path))
    val table = ActivitySink.read(spark, path)
    val edges = ctx.timed("edges")(Serve.edges(spark, path, ctx.work.resolve("edges").toString))

    def loop(deadlineNs: Long, limit: Int, requests: Serve.Requests, idBase: Int) =
      Loops.closed(ctx.cpus, deadlineNs, limit) { i =>
        val (u, o) = requests(i)
        Serve.page(tr, table, edges, idBase + i, u, o)
      }
    // untimed warm-up: the same closed loop over a request stream of its own
    ctx.timed("warm") {
      loop(System.nanoTime() + 60000000000L, WarmPages,
        new Serve.Requests(gen, model.follows, ctx.seed ^ 0x5eed), -1000000)
    }
    val setupS = ctx.setupS()

    val t0 = System.nanoTime()
    val done = loop(t0 + ctx.seconds * 1000000000L, Int.MaxValue,
      new Serve.Requests(gen, model.follows, ctx.seed), 0)
    val wallS = (System.nanoTime() - t0) / 1e9
    val served = done.flatMap(_.value.toOption)
    val errors = done.flatMap(_.value.failed.toOption).map(e => s"page failed: $e") ++
      served.flatMap { p =>
        Model.checkPage(model.page(p.reader, p.offset, Serve.Limit), p.rows)
          .map(e => s"page reader=${p.reader} offset=${p.offset}: $e")
      }
    val correct = done.size - errors.size
    val lat = done.map(_.latencyMs)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "throughput_per_s" -> correct / wallS,
      "latency_ms" -> Stats.median(lat))
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else Serve.layers(tr, served) ++ Map(
        "sinks.compact_s" -> ctx.phases("compact").head,
        "sinks.table_files" -> Tables.dataFiles(path).toDouble)
    Outcome(
      attempted = done.size,
      failed = errors.size,
      endToEnd = endToEnd,
      layers = Layers.complete(layers),
      report = Map(
        "pages" -> done.size, "pages_per_s" -> correct / wallS,
        "page_p50_ms" -> Stats.median(lat),
        "page_p95_ms" -> Stats.tail95(lat),
        "deep_pages" -> served.count(_.offset > 0),
        "empty_pages" -> served.count(_.rows.isEmpty),
        "table_rows" -> expectedRows.size),
      errors = errors)
  }
}
