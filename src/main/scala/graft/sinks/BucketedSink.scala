package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared hash-bucketed serving-layout machinery behind
  * [[ActivitySink]] (CDC tier, K1) and [[CorpusSink]] (corpus tier):
  * `pmod(hash(key), N)` directory partitioning (bounded directory count —
  * what survives 100 TB / 1000 executors), clustering-sorted files,
  * marker-fenced streaming appends, and the small-file compaction pass.
  * Each tier keeps its own key/sort/column-name policy; the write/append/
  * run/compact mechanics live once, here. */
private[sinks] object BucketedSink {

  /** Write `df` partitioned into `bucketCol = pmod(hash(key), buckets)`
    * directories, each file sorted by `sortCols`. The sort leads with
    * `bucketCol`: the partitioned writer requires its input ordered by the
    * partition column, and if the given ordering does not start with it
    * the writer plans its own `Sort(bucketCol)` and the optimizer drops
    * the clustering sort beneath it — every file would lose its order. */
  def write(
      df: DataFrame,
      path: String,
      key: Column,
      bucketCol: String,
      buckets: Int,
      sortCols: Seq[Column],
      mode: String): Unit =
    df.withColumn(bucketCol, pmod(hash(key), lit(buckets)))
      .repartition(col(bucketCol))
      .sortWithinPartitions(col(bucketCol) +: sortCols: _*)
      .write
      .mode(mode)
      .partitionBy(bucketCol)
      .parquet(path)

  /** Checkpointed foreachBatch into the bucketed layout via `append`.
    * Delivery: a per-batch marker file skips batches that already
    * committed fully, so clean restarts never duplicate. A crash between
    * a partial parquet append and the marker write can still replay that
    * batch (plain parquet append is not transactional) — at-least-once
    * at the file level; rows carrying a deterministic key let readers
    * needing exactly-once apply `dropDuplicates`, and a transactional
    * table format slots in at this seam for stronger guarantees. */
  def runToTable(
      stream: DataFrame,
      path: String,
      checkpointPath: String,
      append: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    graft.util.Drain.availableNow(stream, checkpointPath) { (batch, id) =>
      val marker = new org.apache.hadoop.fs.Path(s"$path/_batches/$id")
      val fs = marker.getFileSystem(
        batch.sparkSession.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) {
        append(batch)
        fs.create(marker, true).close()
      }
    }

  /** Compact an appended table back to the canonical one-file-per-bucket
    * clustered layout and GC the `_batches` markers, swapping the rewrite
    * in through [[graft.util.SwapDirs.replace]]. Run BETWEEN streaming
    * runs, not concurrently with an active writer: the markers only guard
    * foreachBatch retries within a run (committed batches are already
    * fenced by the checkpoint), so a quiesced stream loses nothing by
    * their removal. */
  def compact(
      spark: SparkSession,
      path: String,
      rewrite: (DataFrame, String) => Unit): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.util.SwapDirs.replace(fs, hPath)(tmp =>
      rewrite(spark.read.parquet(path), tmp.toString))
  }
}
