package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level totals of the Spark jobs run under one job group. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  /** Σ over jobs of (first task launch − job submit). */
  var taskWaitMs = 0L
}

/** One finished SQL execution as a QueryExecutionListener saw it. */
final case class Execution(
    durationNs: Long,
    planningMs: Double,
    writePath: Option[String],
    filesWritten: Long,
    bytesWritten: Long)

object Trace {
  /** Analysis + optimization + planning time of a query, from its
    * QueryPlanningTracker. */
  def planningMs(qe: QueryExecution): Double =
    Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      .map(_.durationMs).sum.toDouble
}

final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** The benchmark's tracing. With `enabled` false every method is a plain
  * pass-through: no listener is registered and no job group is set, which
  * is how end-to-end numbers are measured. With `enabled` true it records
  *  - spans (id, parent, start, end) around the benchmark's own calls into
  *    each layer, kept in memory and written out at the end;
  *  - per job group task totals from a SparkListener (each page and each
  *    query runs in its own group; a streaming query's jobs run under its
  *    run id);
  *  - the planning time and writes of SQL executions (path, duration,
  *    files, bytes) from a QueryExecutionListener;
  *  - every streaming progress report from a StreamingQueryListener. */
final class Trace(spark: SparkSession, val enabled: Boolean) {

  private val nextSpan = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  val groups = new ConcurrentHashMap[String, GroupStats]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSubmit = new ConcurrentHashMap[Int, Long]()
  private val jobStarted = ConcurrentHashMap.newKeySet[Int]()
  val executions = new ConcurrentLinkedQueue[Execution]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobGroup.put(e.jobId, g)
      jobSubmit.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      val s = stats(g); s.synchronized { s.jobs += 1 }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      Option(stageJob.get(e.stageId)).foreach { job =>
        if (jobStarted.add(job)) {
          val s = stats(jobGroup.getOrDefault(job, ""))
          s.synchronized { s.taskWaitMs += e.taskInfo.launchTime - jobSubmit.get(job) }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = Option(stageJob.get(e.stageId)).map(j => jobGroup.getOrDefault(j, "")).getOrElse("")
      val m = e.taskMetrics
      val s = stats(g)
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      def writesIn(p: SparkPlan): Seq[DataWritingCommandExec] = p.collect {
        case w: DataWritingCommandExec => Seq(w)
        case c: CommandResultExec => writesIn(c.commandPhysicalPlan)
      }.flatten
      val writes = writesIn(qe.executedPlan)
      val path = writes.collectFirst {
        case w if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] =>
          w.cmd.asInstanceOf[InsertIntoHadoopFsRelationCommand].outputPath.toString
      }
      def metric(k: String) = writes.flatMap(_.metrics.get(k)).map(_.value).sum
      executions.add(Execution(durationNs, Trace.planningMs(qe), path,
        metric("numFiles"), metric("numOutputBytes")))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` as a span named `name` under `parent`; the body gets the
    * new span's id so it can open children. */
  def span[T](name: String, parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = nextSpan.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id) finally spans.add(Span(id, parent, name, t0, System.nanoTime()))
    }

  /** Run `body` with this thread's Spark jobs in job group `group`. */
  def inGroup[T](group: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }

  /** Wait until every listener event posted so far has been delivered. */
  def settle(): Unit = if (enabled) org.apache.spark.BenchBus.drain(spark.sparkContext)

  def group(g: String): GroupStats = Option(groups.get(g)).getOrElse(new GroupStats)

  /** Totals over every job group accepted by `p`. */
  def total(p: String => Boolean): GroupStats = {
    val t = new GroupStats
    groups.asScala.foreach { case (g, s) =>
      if (p(g)) s.synchronized {
        t.jobs += s.jobs; t.tasks += s.tasks; t.cpuNs += s.cpuNs; t.gcMs += s.gcMs
        t.shuffleWriteBytes += s.shuffleWriteBytes; t.spillBytes += s.spillBytes
        t.inputBytes += s.inputBytes; t.taskWaitMs += s.taskWaitMs
      }
    }
    t
  }


  /** Write the spans as JSON lines. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}
