package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: operations attempted and failed (a
  * wrong result is a failure), the end-to-end metrics (untraced run) or the
  * per-layer metrics (traced run), and details for the run report. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    endToEnd: Map[String, Double],
    layers: Seq[(String, Double, String)],
    report: Map[String, Any],
    errors: Seq[String])

/** Everything a workload needs from the command line and the session. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Int,
    trace: Trace,
    work: Path,
    cpus: Int,
    mainStartNs: Long) {
  /** Wall times of named phases, for the run report. */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]

  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally phases(name) = phases.getOrElse(name, Vector.empty) :+ (System.nanoTime() - t0) / 1e9
  }

  def dir(name: String): String = {
    val p = work.resolve(name); Files.createDirectories(p); p.toString
  }

  /** The benchmark's `setup_s`: seconds from main entry to now. A workload
    * reads it just before its first timed operation, so it holds the
    * session start, generation, staging, table builds and the untimed
    * warm-up. */
  def setupS(): Double = (System.nanoTime() - mainStartNs) / 1e9
}

object Main {

  val Units: Map[String, String] = Map(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_ms" -> "ms",
    "heap_retained_mb" -> "MB")

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "ingest_drain" -> IngestDrain.run,
    "serve_pages" -> ServePages.run,
    "feed_analytics" -> FeedAnalytics.run)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // keep the status store to the last few jobs and executions, so the
      // heap a run leaves behind grows neither with the number of pages or
      // batches it managed nor with the size of the plans that ran last
      .config("spark.ui.retainedJobs", "5")
      .config("spark.ui.retainedStages", "5")
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - t0) / 1e9

    val trace = new Trace(spark, traced)
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toInt, trace, work, cpus, t0)
    val t1 = System.nanoTime()
    val out =
      try run(ctx)
      finally { trace.settle(); trace.close() }
    val runS = (System.nanoTime() - t1) / 1e9
    val rssMb = peakRssMb()
    val heapMb = retainedHeapMb()
    if (traced) trace.writeSpans(work.resolve("spans.jsonl"))
    val t2 = System.nanoTime()
    spark.stop()
    val stopS = (System.nanoTime() - t2) / 1e9

    val metrics =
      if (traced) out.layers.sortBy(_._1).map { case (k, v, u) => k -> (v, u) }
      else (out.endToEnd + ("heap_retained_mb" -> heapMb)).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> (v, Units(k)) }
    val report = out.report ++ Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "traced" -> traced, "cpus" -> cpus, "peak_rss_mb" -> rssMb, "heap_retained_mb" -> heapMb,
      "session_start_s" -> sessionStartS,
      "phases_s" -> ctx.phases.toMap, "run_s" -> runS, "stop_s" -> stopS,
      "main_s" -> (System.nanoTime() - t0) / 1e9,
      "attempted" -> out.attempted, "failed" -> out.failed, "errors" -> out.errors.take(20))
    Files.writeString(work.resolve("report.json"), Json(report))
    out.errors.take(20).foreach(e => System.err.println(s"[perfbench] WRONG: $e"))
    val m = metrics.map { case (k, (v, u)) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }
    println(s"""{"correct":${out.failed == 0 && out.errors.isEmpty},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{${m.mkString(",")}}}""")
  }

  /** Heap still reachable at the end of the run, in MB: what the run left
    * resident (caches, state, tables), without the garbage-collector
    * timing that makes peak resident size jitter. Collections repeat until
    * the heap stops shrinking: each one lets Spark's context cleaner drop
    * blocks (broadcasts, shuffles) whose handles the previous one freed. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); Thread.sleep(250); mx.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (prev - cur > 0.5 && rounds < 10) { prev = cur; cur = collect(); rounds += 1 }
    cur
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
}

/** Minimal JSON rendering for reports. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => apply(o.toString)
  }
}
