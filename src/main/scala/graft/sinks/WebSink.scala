package graft.sinks

import graft.ext.WebCodec
import graft.util.ArtifactMemo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Streaming WEB-CORPUS ingest — the crawl front door joins the
  * streaming tier: a checkpointed stream of raw (media_id, payload)
  * WARC archives is parse-GATED (every archive through
  * [[WebCodec.pipeline]]'s real gzip/WARC/HTTP walk; archives the codec
  * rejects drop at the gate, exactly the batch contract), HTML-extracted
  * and quality-gated, and appended into a bucket-partitioned serving
  * table in the house [[BucketedSink]] posture: marker-fenced
  * foreachBatch (at-least-once at the file level), deterministic
  * `media_id` keys restoring exactly-once via read-side dedup, and
  * [[compact]] folding appended files back to one per bucket.
  *
  * The table serves (media_id, host, http_status, body, n_words,
  * alpha_milli, kept) — cleaned corpus text plus its gate verdicts, the
  * shape a downstream tokenize/pack/mix stage consumes — bucketed by
  * `pmod(hash(media_id), N)` so a keyed lookup prunes to one directory
  * at any table size.
  */
object WebSink {

  val defaultBuckets = 32

  private def write(rows: DataFrame, path: String, mode: String): Unit =
    BucketedSink.write(rows, path, col("media_id"), "web_bucket",
      defaultBuckets,
      Seq(col("media_id"), col("http_status"), col("target_uri")), mode)

  /** Parse-gate + extract + gate one micro-batch of raw archives and
    * append it into the bucketed layout. The gate IS the batch pipeline
    * operator — streamed bytes and batch bytes take the identical code
    * path, which is what lets the streamed table ride the SAME DuckDB
    * oracle as the batch `web_pipeline` query. */
  def appendBatch(media: DataFrame, path: String): Unit =
    write(WebCodec.pipeline(media), path, "append")

  /** The streaming ingest: checkpointed foreachBatch of raw archive
    * rows through the parse gate into the serving table. Delivery
    * semantics per [[BucketedSink.runToTable]]; readers needing
    * exactly-once apply `dropDuplicates("media_id", "http_status",
    * "target_uri")` — a document's WARC can carry several fetch rows
    * beside its 200 capture (3xx aliases since r17; r18 adds 503
    * retries, 404/410 dead fetches, and chain/loop hops, where the
    * loop pair shares one status — so the target URI completes the
    * row identity). */
  def runToWebTable(media: DataFrame, path: String, checkpointPath: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    BucketedSink.runToTable(media, path, checkpointPath, appendBatch(_, path))

  /** Fold accumulated appends back to one file per bucket; replayed
    * rows are deduplicated here so they stop paying read-side dedup.
    * Quiesced-writer contract per [[BucketedSink.compact]]. */
  def compact(spark: SparkSession, path: String): Unit =
    BucketedSink.compact(spark, path, (df, tmp) =>
      write(df.drop("web_bucket").dropDuplicates("media_id", "http_status", "target_uri"),
        tmp, "overwrite"))

  /** Exactly-once view over the at-least-once table. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).dropDuplicates("media_id", "http_status", "target_uri")

  /** Streaming append for the MAIN-CONTENT variant: the identical
    * mechanics, the [[WebCodec.pipelineMain]] gate (boilerplate
    * removal + gates over main text) instead of whole-page extraction.
    * Same code path as `web_pipeline_main`, so the streamed table
    * rides that query's oracle verbatim. */
  def appendBatchMain(media: DataFrame, path: String): Unit =
    write(WebCodec.pipelineMain(media), path, "append")

  /** Streaming ingest into the main-content serving table. */
  def runToMainTable(media: DataFrame, path: String, checkpointPath: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    BucketedSink.runToTable(media, path, checkpointPath, appendBatchMain(_, path))

  /** The streamed FETCH LOG (r18): the slim per-record fetch table a
    * real crawler materializes beside the payload store — (media_id,
    * rec_index, warc_type, target_uri, http_status, location,
    * retry_after, warc_date). The frontier / recrawl / chase serving
    * queries read THIS instead of re-parsing archives. Row identity is
    * (media_id, rec_index) — deterministic per archive, so replays
    * dedup read-side like the other tables. */
  private def writeFetch(rows: DataFrame, path: String, mode: String): Unit =
    BucketedSink.write(rows, path, col("media_id"), "web_bucket",
      defaultBuckets, Seq(col("media_id"), col("rec_index")), mode)

  def appendBatchFetch(media: DataFrame, path: String): Unit =
    writeFetch(WebCodec.fetchLog(media), path, "append")

  /** Streaming ingest into the fetch-log table. */
  def runToFetchTable(media: DataFrame, path: String, checkpointPath: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    BucketedSink.runToTable(media, path, checkpointPath, appendBatchFetch(_, path))

  /** Exactly-once view over the at-least-once fetch log. */
  def readFetch(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).dropDuplicates("media_id", "rec_index")

  /** The materialized cleaned-corpus table for a fixture dir: the synth
    * WARC corpus through the SAME parse-gate + extract path the
    * streaming ingest runs, persisted for the serving queries. */
  def materialized(spark: SparkSession, sfDir: String): DataFrame =
    ArtifactMemo.once("websink", sfDir) {
      val path = ArtifactMemo.dir("websink", sfDir)
      val docs = graft.sources.Tables(spark, sfDir, "documents")
      // OVERWRITE, not append (the ActivitySink pattern): the tmp dir
      // outlives the JVM; appending would stack duplicate copies per
      // run and serve stale-schema rows after any pipeline change
      write(WebCodec.pipeline(WebCodec.webWarc(docs)), path, "overwrite")
      read(spark, path).persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The materialized MAIN-CONTENT corpus table (r16) — the serving
    * shape a tokenize/pack stage reads when the cleaner runs upstream. */
  def materializedMain(spark: SparkSession, sfDir: String): DataFrame =
    ArtifactMemo.once("websinkmain", sfDir) {
      val path = ArtifactMemo.dir("websinkmain", sfDir)
      val docs = graft.sources.Tables(spark, sfDir, "documents")
      write(WebCodec.pipelineMain(WebCodec.webWarc(docs)), path, "overwrite")
      read(spark, path).persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The materialized FETCH LOG (r18) for a fixture dir. */
  def materializedFetch(spark: SparkSession, sfDir: String): DataFrame =
    ArtifactMemo.once("websinkfetch", sfDir) {
      val path = ArtifactMemo.dir("websinkfetch", sfDir)
      val docs = graft.sources.Tables(spark, sfDir, "documents")
      writeFetch(WebCodec.fetchLog(WebCodec.webWarc(docs)), path, "overwrite")
      readFetch(spark, path).persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The materialized CRAWL-2 fetch log (r18): recrawlRecords rows —
    * live re-fetches with content identity, 304 revisits with their
    * referral + validator — bucketed like the crawl-1 log. Row
    * identity is target_uri (one fetch row per URL per crawl). */
  def materializedRecrawl(spark: SparkSession, sfDir: String): DataFrame =
    ArtifactMemo.once("websinkrecrawl", sfDir) {
      val path = ArtifactMemo.dir("websinkrecrawl", sfDir)
      val docs = graft.sources.Tables(spark, sfDir, "documents")
      BucketedSink.write(
        WebCodec.recrawlRecords(WebCodec.webWarcRecrawl(docs)), path,
        col("media_id"), "web_bucket", defaultBuckets,
        Seq(col("media_id"), col("target_uri")), "overwrite")
      spark.read.parquet(path)
        .dropDuplicates("media_id", "target_uri")
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
}
