package graft

import graft.util.Fence
import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate → one JVM-wide
  * session; suites must not stop() it). Each test runs in its own
  * [[Fence]] scope, so the blocks it fences are freed when it ends. */
trait SparkSuite extends AnyFunSuite {
  override def withFixture(test: NoArgTest): Outcome =
    Fence.scope(super.withFixture(test))

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs it started, counted by
    * job group: jobs that eager checkpoints, broadcasts and AQE stages run
    * on other threads inherit the group. */
  def withJobCount[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val fence = s"$group-fence"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    // listener events arrive in post order: once the fence job's start is
    // seen, every job `body` started has been counted
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val result = body
      sc.setJobGroup(fence, fence)
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(30, java.util.concurrent.TimeUnit.SECONDS), "fence job never seen")
      (result, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
