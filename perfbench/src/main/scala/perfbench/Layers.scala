package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The per-layer metrics (BENCHMARK.json's `per_layer`; the traced run of
  * a listed workload prints every one of them, a layer the workload leaves
  * idle at 0) and the shared derivations for the streaming and sink
  * layers. */
object Layers {

  /** name → unit */
  val metrics: Seq[(String, String)] = Seq(
    "ingest.source_rows_per_envelope" -> "ratio", "ingest.transform_s" -> "s",
    "ingest.admitted" -> "count", "ingest.gated_out" -> "count",
    "ingest.replays_absorbed" -> "count",
    "streaming.batches" -> "count", "streaming.batch_ms_p50" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "streaming.log_ms" -> "ms", "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "streaming.task_cpu_ms" -> "ms", "streaming.gc_ms" -> "ms",
    "sinks.append_ms" -> "ms", "sinks.shuffle_write_mb" -> "MB",
    "sinks.files_written" -> "count", "sinks.files_per_batch" -> "count",
    "sinks.mb_written" -> "MB", "sinks.table_files" -> "count", "sinks.compact_s" -> "s",
    "serve.followees_ms" -> "ms", "serve.page_ms" -> "ms", "serve.planning_ms" -> "ms",
    "serve.jobs_per_page" -> "count", "serve.tasks_per_page" -> "count",
    "serve.task_wait_ms" -> "ms", "serve.files_per_page" -> "count",
    "serve.buckets_per_page" -> "count", "serve.rows_scanned_per_row_returned" -> "ratio",
    "serve.task_cpu_ms" -> "ms",
    "queries.planning_ms" -> "ms", "queries.codegen_ms" -> "ms", "queries.jobs" -> "count",
    "queries.tasks" -> "count", "queries.task_cpu_ms" -> "ms", "queries.gc_ms" -> "ms",
    "queries.shuffle_mb" -> "MB", "queries.spill_mb" -> "MB", "queries.scan_mb" -> "MB") ++
    FeedAnalytics.Queries.map(q => s"queries.${q}_s" -> "s")

  /** `m` completed to every listed metric (idle ones at 0), with units.
    * Fails on a name it does not know, so every workload prints exactly
    * BENCHMARK.json's set. */
  def complete(m: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = m.keySet -- metrics.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    metrics.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }

  private val Mb = 1024.0 * 1024.0

  private def d(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Streaming and sink layers of a run whose streaming queries `runIds`
    * moved `envelopes` envelopes over `rounds` query runs, writing tables
    * under `tablePrefix`. Per-round totals are divided by `rounds`;
    * per-batch figures are medians over the micro-batches that read data,
    * as the StreamingQueryListener reported them. */
  def stream(
      tr: Trace,
      runIds: Set[String],
      rounds: Int,
      envelopes: Long,
      tablePrefix: String): Map[String, Double] = {
    tr.settle()
    val batches = tr.progress.asScala.toSeq
      .filter(p => runIds(p.runId.toString) && p.numInputRows > 0)
    val g = tr.total(runIds)
    val writes = tr.executions.asScala.toSeq.filter(_.writePath.exists(_.contains(tablePrefix)))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val last = batches.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
    Map(
      "ingest.source_rows_per_envelope" -> batches.map(_.numInputRows).sum.toDouble / envelopes,
      "streaming.batches" -> batches.size.toDouble / rounds,
      "streaming.batch_ms_p50" -> med(batches.map(d(_, "triggerExecution"))),
      "streaming.add_batch_ms" -> med(batches.map(d(_, "addBatch"))),
      "streaming.planning_ms" -> med(batches.map(d(_, "queryPlanning"))),
      "streaming.log_ms" -> med(batches.map(p =>
        Seq("latestOffset", "getBatch", "walCommit", "commitOffsets").map(d(p, _)).sum)),
      "streaming.state_rows" -> med(last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble)),
      "streaming.state_mb" -> med(last.map(_.stateOperators.map(_.memoryUsedBytes).sum / Mb)),
      "streaming.task_cpu_ms" -> g.cpuNs / 1e6 / rounds,
      "streaming.gc_ms" -> g.gcMs.toDouble / rounds,
      "sinks.append_ms" -> med(writes.map(_.durationNs / 1e6)),
      "sinks.shuffle_write_mb" -> g.shuffleWriteBytes / Mb / rounds,
      "sinks.files_written" -> writes.map(_.filesWritten).sum.toDouble / rounds,
      "sinks.files_per_batch" -> med(writes.map(_.filesWritten.toDouble)),
      "sinks.mb_written" -> writes.map(_.bytesWritten).sum / Mb / rounds)
  }
}
