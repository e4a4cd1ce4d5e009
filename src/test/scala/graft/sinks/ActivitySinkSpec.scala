package graft.sinks

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSuite
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** K1 layout + A2 observability: the materialized activity table and the
  * observe() ingest counter (≙ reference connection_state.py:8-9,
  * event_processor.py:73-74 — mapped to Spark-native metrics, not the
  * reference's unreliable per-poll counter, SURVEY.md §2.10 item 5). */
class ActivitySinkSpec extends SparkSuite {

  test("materialized write emits the observed ingest metric (A2)") {
    @volatile var observed: Long = -1L
    val latch = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val m = qe.observedMetrics.get("graft_ingest")
        m.foreach { row => observed = row.getAs[Long]("events_written"); latch.countDown() }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // a fixture copy no other suite keys the build-once memo by, so this
    // test's call is the one that builds (and observes) the table
    // whichever suites ran earlier in the JVM
    val fixture = tmpDir("graft_a2_fixture")
    java.nio.file.Files.list(java.nio.file.Paths.get("/root/testdata/sf0.001"))
      .forEach(f => java.nio.file.Files.copy(f,
        java.nio.file.Paths.get(fixture, f.getFileName.toString)))
    spark.listenerManager.register(listener)
    try {
      val table = ActivitySink.materialized(spark, fixture)
      val n = table.count()
      assert(latch.await(30, TimeUnit.SECONDS), "observe metric never arrived")
      assert(observed === n, s"observed $observed != materialized rows $n")
    } finally spark.listenerManager.unregister(listener)
  }

  test("materialized table has the clustering layout and prunes by bucket") {
    val table = ActivitySink.materialized(spark, "/root/testdata/sf0.001")
    assert(table.columns.contains("user_bucket"))
    // bucket column is consistent with the partitioning function
    val bad = table.where(
      col("user_bucket") =!= pmod(hash(col("user_id")), lit(ActivitySink.defaultBuckets)))
    assert(bad.count() === 0)
    // bucketsOf covers every row of the keys it is given
    val keys = table.select("user_id").distinct().limit(5)
    val buckets = ActivitySink.bucketsOf(keys)
    val covered = table
      .join(keys, Seq("user_id"), "left_semi")
      .where(!col("user_bucket").isin(buckets: _*))
    assert(covered.count() === 0)
  }

  /** Data files under `path`, and those whose rows, read back in file
    * order, break the clustering order (user_id, event_timestamp desc,
    * activity_pk desc). Read order is `monotonically_increasing_id` taken
    * straight off the scan; ties in the sort key are in order. */
  private def clusteringBreaks(path: String): (Long, Set[String]) = {
    val rows = spark.read.parquet(path).select(
      input_file_name().as("file"), monotonically_increasing_id().as("pos"),
      col("user_id"), col("event_timestamp").as("ts"), col("activity_pk").as("pk"))
    val prev = Window.partitionBy("file").orderBy("pos")
    val inOrder =
      lag("user_id", 1).over(prev) < col("user_id") ||
        (lag("user_id", 1).over(prev) === col("user_id") &&
          (lag("ts", 1).over(prev) > col("ts") ||
            (lag("ts", 1).over(prev) === col("ts") && lag("pk", 1).over(prev) >= col("pk"))))
    val breaks = rows
      .withColumn("in_order", coalesce(inOrder, lit(true)))
      .where(!col("in_order"))
      .select("file").distinct().collect().map(_.getString(0)).toSet
    (rows.select("file").distinct().count(), breaks)
  }

  test("appended and compacted files keep the clustering order") {
    val path = tmpDir("graft_clustering") + "/activity"
    val activity = ActivitySink.materialized(spark, "/root/testdata/sf0.001")
      .drop("user_bucket")
    ActivitySink.appendBatch(activity, path)
    val (appended, appendBreaks) = clusteringBreaks(path)
    assert(appended > 1)
    assert(appendBreaks.isEmpty,
      s"${appendBreaks.size} of $appended appended files out of clustering order")
    ActivitySink.compact(spark, path)
    val (compacted, compactBreaks) = clusteringBreaks(path)
    assert(compactBreaks.isEmpty,
      s"${compactBreaks.size} of $compacted compacted files out of clustering order")
  }

  // crashed: the table is left only at __old by a swap that crashed
  // between its renames
  for (crashed <- Seq(false, true)) test(
      "compact restores one-file-per-bucket and GCs batch markers" +
        (if (crashed) ", from a table left only at __old" else "")) {
    val path = tmpDir("graft_compact") + "/activity"
    val activity = ActivitySink.materialized(spark, "/root/testdata/sf0.001")
      .drop("user_bucket")
    // two appends ⇒ ≥ 2 files in every non-empty bucket dir, plus markers
    ActivitySink.appendBatch(activity, path)
    ActivitySink.appendBatch(activity, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/_batches"))
    fs.create(new org.apache.hadoop.fs.Path(s"$path/_batches/0"), true).close()

    def bucketFiles(): Map[String, Int] = fs
      .listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("user_bucket="))
      .map(d => d.getPath.getName ->
        fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet")))
      .toMap

    assert(bucketFiles().values.forall(_ >= 2))
    val before = spark.read.parquet(path)
      .orderBy("activity_type", "activity_pk").collect()

    // the crash window: live renamed aside, second rename never ran
    if (crashed) assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__old")))
    ActivitySink.compact(spark, path)

    val files = bucketFiles()
    assert(files.nonEmpty && files.values.forall(_ === 1),
      s"expected one file per bucket, got $files")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_batches")))
    val after = spark.read.parquet(path)
      .orderBy("activity_type", "activity_pk").collect()
    assert(after.toSeq === before.toSeq) // identical reads
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__old")))
    // pruning still works: bucket column consistent with the hash
    val bad = spark.read.parquet(path).where(
      col("user_bucket") =!= pmod(hash(col("user_id")), lit(64)))
    assert(bad.count() === 0)
  }
}
