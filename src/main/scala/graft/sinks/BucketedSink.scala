package graft.sinks

import graft.util.ArtifactMemo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One hash-bucketed serving table, declared once: rows land in
  * `bucketCol = pmod(hash(key), n)` directories (bounded directory count —
  * what survives 100 TB / 1000 executors), each file sorted by `sort`.
  * `identity` is the deterministic row key that absorbs the replays of
  * at-least-once appends ([[BucketedSink.runToTable]]): [[read]] and
  * [[compact]] drop duplicates on it. It is empty where readers take the
  * table as written. The writer, every pruning probe ([[bucket]],
  * [[inBuckets]]) and compaction derive from this one declaration, so a
  * probe cannot hash differently from the writer. The bucket count `n`
  * is passed per call: the indexes read theirs from their `meta` row. */
private[graft] final case class BucketedSink(
    key: String,
    bucketCol: String,
    sort: Seq[Column],
    identity: Seq[String] = Nil) {

  /** The bucket id of the row's `key` column out of `n` buckets. */
  def bucket(n: Int): Column = pmod(hash(col(key)), lit(n))

  /** Rows in the given bucket directories: the partition-pruning filter. */
  def inBuckets(ids: Int*): Column = col(bucketCol).isin(ids: _*)

  /** Write `df` into the bucketed layout. The sort leads with
    * `bucketCol`: the partitioned writer requires its input ordered by the
    * partition column, and if the given ordering does not start with it
    * the writer plans its own `Sort(bucketCol)` and the optimizer drops
    * the clustering sort beneath it — every file would lose its order. */
  def write(df: DataFrame, path: String, n: Int, mode: String): Unit =
    df.withColumn(bucketCol, bucket(n))
      .repartition(col(bucketCol))
      .sortWithinPartitions(col(bucketCol) +: sort: _*)
      .write
      .mode(mode)
      .partitionBy(bucketCol)
      .parquet(path)

  private def deduped(df: DataFrame): DataFrame =
    if (identity.isEmpty) df else df.dropDuplicates(identity)

  /** The table, one row per identity: an exactly-once view over
    * at-least-once appends. */
  def read(spark: SparkSession, path: String): DataFrame =
    deduped(spark.read.parquet(path))

  /** Compact an appended table back to the canonical one-file-per-bucket
    * clustered layout, deduplicated on `identity`, and GC the `_batches`
    * markers, swapping the rewrite in through
    * [[graft.util.SwapDirs.replace]]. Run BETWEEN streaming runs, not
    * concurrently with an active writer: the markers only guard
    * foreachBatch retries within a run (committed batches are already
    * fenced by the checkpoint), so a quiesced stream loses nothing by
    * their removal. */
  def compact(spark: SparkSession, path: String, n: Int): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.util.SwapDirs.replace(fs, hPath)(tmp =>
      write(deduped(spark.read.parquet(path).drop(bucketCol)),
        tmp.toString, n, "overwrite"))
  }

  /** The table for a fixture dir, built once per JVM through
    * [[ArtifactMemo]] and persisted MEMORY_AND_DISK: `rows` written to the
    * memo's tmp dir, then [[read]] back. OVERWRITE, not append: the tmp
    * dir outlives the JVM, and an append would stack a full duplicate
    * copy per run and serve stale-schema rows after any pipeline change. */
  def materialized(spark: SparkSession, kind: String, sfDir: String, n: Int)(
      rows: => DataFrame): DataFrame =
    ArtifactMemo.once(kind, sfDir) {
      val path = ArtifactMemo.dir(kind, sfDir)
      write(rows, path, n, "overwrite")
      read(spark, path).persist(StorageLevel.MEMORY_AND_DISK)
    }
}

private[graft] object BucketedSink {

  /** Checkpointed foreachBatch into a table via `append`.
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
}
