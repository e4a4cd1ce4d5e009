package graft.sinks

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Every declared bucketed table hashes rows the way its pruning probes
  * do: the bucket column on disk is `pmod(hash(key), n)` (spelled here,
  * independently of [[BucketedSink.bucket]]), compaction leaves one file
  * per bucket, and the table reads back the same rows before and after
  * compaction. */
class BucketedSinkSpec extends SparkSuite {

  private val declared = Seq(
    ("activity", ActivitySink.table, ActivitySink.defaultBuckets),
    ("corpus", CorpusSink.table, CorpusSink.defaultBuckets),
    ("media", MediaSink.table, MediaSink.defaultBuckets),
    ("web", WebSink.web, WebSink.defaultBuckets),
    ("web fetch", WebSink.fetch, WebSink.defaultBuckets),
    ("web recrawl", WebSink.recrawl, WebSink.defaultBuckets),
    ("text postings", TextIndex.postingsLayout, TextIndex.defaultBuckets),
    ("text doclens", TextIndex.doclensLayout, TextIndex.defaultBuckets),
    ("dedup sigs", DedupIndex.sigsLayout, DedupIndex.defaultBuckets),
    ("dedup bands", DedupIndex.bandsLayout, DedupIndex.defaultBuckets),
    ("pq codes", PqIndex.codesLayout, PqIndex.defaultBuckets),
    ("ann vectors", AnnIndex.vectorsLayout, AnnIndex.defaultBuckets))

  /** One frame carrying every key, sort and identity column the
    * declarations name; each identity is unique per row, so the only
    * duplicates are the replayed second append. */
  private def rows = spark.range(40).select(
    col("id"),
    concat(lit("u"), (col("id") % 13).cast("string")).as("user_id"),
    timestamp_seconds(col("id") * 60).as("event_timestamp"),
    col("id").as("activity_pk"),
    col("id").as("doc_id"),
    col("id").as("media_id"),
    lit(200).as("http_status"),
    concat(lit("http://example.com/"), col("id").cast("string")).as("target_uri"),
    col("id").cast("int").as("rec_index"),
    concat(lit("t"), (col("id") % 11).cast("string")).as("term"),
    (col("id") % 7 * 7919L).as("band_hash"),
    col("id").as("vec_id"),
    (col("id") % 9).as("cell"))

  for ((name, layout, n) <- declared) test(
      s"$name table: bucket column is pmod(hash(${layout.key}), $n), " +
        "compaction leaves one file per bucket and the same rows") {
    val path = tmpDir("graft_bucketed") + "/t"
    layout.write(rows, path, n, "append")
    layout.write(rows, path, n, "append") // a replayed batch

    val bad = spark.read.parquet(path)
      .where(col(layout.bucketCol) =!= pmod(hash(col(layout.key)), lit(n)))
    assert(bad.count() === 0)
    def sorted(it: Array[org.apache.spark.sql.Row]) = it.map(_.toString).sorted.toSeq
    val before = sorted(layout.read(spark, path).collect())

    layout.compact(spark, path, n)
    val filesPerBucket = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(layout.bucketCol + "="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(filesPerBucket.nonEmpty && filesPerBucket.forall(_ === 1),
      s"expected one file per bucket, got ${filesPerBucket.mkString(",")}")
    assert(sorted(layout.read(spark, path).collect()) === before)
  }
}
