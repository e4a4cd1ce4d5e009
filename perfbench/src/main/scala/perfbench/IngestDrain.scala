package perfbench

import graft.sinks.ActivitySink
import graft.streaming.StreamingIngest
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

/** ingest_drain: staged envelope files drain through the deduplicated
  * activity stream into the bucketed activity table (AvailableNow, a fixed
  * number of files per trigger). Parsing, the gates, the adapters, the
  * dedup state and the bucketed append do all the work; serving is idle.
  *
  * A round is one streaming query, with a fresh checkpoint and table, over
  * the same staged files; rounds repeat until `--seconds` of drain time is
  * spent. Each round's table is checked against the model. */
object IngestDrain {

  val Users = 2000
  val Files = 4
  val Envelopes = 5000
  val FilesPerTrigger = 1

  /** One AvailableNow drain of `src` into a fresh table; returns the query. */
  def drain(ctx: Ctx, src: String, tbl: String, ckpt: String, filesPerTrigger: Int = FilesPerTrigger)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = ctx.spark.readStream.option("maxFilesPerTrigger", filesPerTrigger.toLong).text(src)
    val q = ActivitySink.runToActivityTable(StreamingIngest.dedupedActivityStream(raw), tbl, ckpt)
    q.awaitTermination()
    q
  }

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.trace
    val envs = new Gen(ctx.seed, Users).next(Envelopes)
    val src = ctx.dir("src")
    Tables.stage(src, "cdc", envs, Files)
    // untimed warm-up: one round over every staged file, in one micro-batch
    // (the same code paths and rows as a timed round, for less time), so
    // the timed rounds run on a warm JVM
    ctx.timed("warm") {
      drain(ctx, src, ctx.work.resolve("warm/table").toString, ctx.work.resolve("warm/ckpt").toString, Files)
    }
    val expected = Model.activity(envs)
    val setupS = ctx.setupS()

    val errors = Seq.newBuilder[String]
    var measuredNs = 0L
    var rounds = 0
    val batchMs = Seq.newBuilder[Double]
    val runIds = Set.newBuilder[String]
    var lastTbl = ""
    while (rounds < 1 || measuredNs < ctx.seconds * 1000000000L) {
      val tbl = ctx.work.resolve(s"round-$rounds/table").toString
      val q = tr.span("ingest_drain.round") { _ =>
        val t0 = System.nanoTime()
        val q = drain(ctx, src, tbl, ctx.work.resolve(s"round-$rounds/ckpt").toString)
        measuredNs += System.nanoTime() - t0
        q
      }
      q.exception.foreach(e => errors += s"round $rounds: ${e.getMessage}")
      runIds += q.runId.toString
      batchMs ++= q.recentProgress.filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").doubleValue)
      ctx.timed("check")(Tables.diff(expected, Tables.read(ctx.spark, tbl)))
        .foreach(d => errors += s"round $rounds: $d")
      if (rounds > 0) Tables.delete(ctx.work.resolve(s"round-${rounds - 1}").toString)
      lastTbl = tbl
      rounds += 1
    }

    val landed = envs.size.toLong * rounds
    val endToEnd = Map(
      "setup_s" -> setupS,
      "throughput_per_s" -> landed / (measuredNs / 1e9),
      "latency_ms" -> Stats.median(batchMs.result()))

    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        // F1–F3 + P1–P4 alone: the same plan over the staged files as a
        // static frame, forced through noop; the observation counts what
        // passed the gates before dedup.
        val times = (0 until 3).map { _ =>
          val obs = Observation("gates")
          val t0 = System.nanoTime()
          tr.span("ingest.transform") { _ =>
            tr.inGroup("ingest.transform") {
              StreamingIngest.activityStream(ctx.spark.read.text(src))
                .observe(obs, count(lit(1)).as("n"))
                .write.format("noop").mode("overwrite").save()
            }
          }
          ((System.nanoTime() - t0) / 1e9, obs.get("n").asInstanceOf[Long])
        }
        val passed = times.head._2
        val admitted = ctx.spark.read.parquet(lastTbl).count()
        val truthPassed = envs.count(Model.admitted)
        if (passed != truthPassed)
          errors += s"gates passed $passed envelopes, generator truth $truthPassed"
        Layers.stream(tr, runIds.result(), rounds, landed, ctx.work.resolve("round-").toString) ++ Map(
          "ingest.transform_s" -> Stats.median(times.map(_._1)),
          "ingest.admitted" -> admitted.toDouble,
          "ingest.gated_out" -> (envs.size - passed).toDouble,
          "ingest.replays_absorbed" -> (passed - admitted).toDouble,
          "sinks.table_files" -> Tables.dataFiles(lastTbl).toDouble)
      }

    val errs = errors.result()
    Outcome(
      attempted = rounds + batchMs.result().size,
      failed = errs.size,
      endToEnd = endToEnd,
      layers = Layers.complete(layers),
      report = Map(
        "rounds" -> rounds, "envelopes_per_round" -> envs.size,
        "events_per_s" -> endToEnd("throughput_per_s"),
        "batch_ms" -> batchMs.result(), "expected_rows" -> expected.size),
      errors = errs)
  }
}
