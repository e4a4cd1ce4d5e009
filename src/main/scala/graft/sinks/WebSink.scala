package graft.sinks

import graft.ext.WebCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * shape a downstream tokenize/pack/mix stage consumes — hash-bucketed
  * by `media_id` so a keyed lookup prunes to one directory at any table
  * size.
  */
object WebSink {

  val defaultBuckets = 32

  /** The cleaned-corpus layout, shared by the whole-page and the
    * main-content tables. A document's WARC can carry several fetch rows
    * beside its 200 capture (3xx aliases since r17; r18 adds 503
    * retries, 404/410 dead fetches, and chain/loop hops, where the loop
    * pair shares one status — so the target URI completes the row
    * identity). */
  private[sinks] val web = BucketedSink("media_id", "web_bucket",
    Seq(col("media_id"), col("http_status"), col("target_uri")),
    Seq("media_id", "http_status", "target_uri"))

  /** The streamed FETCH LOG (r18): the slim per-record fetch table a
    * real crawler materializes beside the payload store — (media_id,
    * rec_index, warc_type, target_uri, http_status, location,
    * retry_after, warc_date). The frontier / recrawl / chase serving
    * queries read THIS instead of re-parsing archives. Row identity is
    * (media_id, rec_index) — deterministic per archive, so replays
    * dedup read-side like the other tables. */
  private[graft] val fetch = BucketedSink("media_id", "web_bucket",
    Seq(col("media_id"), col("rec_index")), Seq("media_id", "rec_index"))

  /** The CRAWL-2 fetch log (r18), bucketed like the crawl-1 log. Row
    * identity is target_uri (one fetch row per URL per crawl). */
  private[sinks] val recrawl = BucketedSink("media_id", "web_bucket",
    Seq(col("media_id"), col("target_uri")), Seq("media_id", "target_uri"))

  /** Parse-gate + extract + gate one micro-batch of raw archives and
    * append it into the bucketed layout. The gate IS the batch pipeline
    * operator — streamed bytes and batch bytes take the identical code
    * path, which is what lets the streamed table ride the SAME DuckDB
    * oracle as the batch `web_pipeline` query. */
  def appendBatch(media: DataFrame, path: String): Unit =
    web.write(WebCodec.pipeline(media), path, defaultBuckets, "append")

  /** The streaming ingest: checkpointed foreachBatch of raw archive
    * rows through the parse gate into the serving table. Delivery
    * semantics per [[BucketedSink.runToTable]]; readers needing
    * exactly-once use [[read]]. */
  def runToWebTable(media: DataFrame, path: String, checkpointPath: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    BucketedSink.runToTable(media, path, checkpointPath, appendBatch(_, path))

  /** Fold accumulated appends back to one file per bucket; replayed
    * rows are deduplicated here so they stop paying read-side dedup.
    * Quiesced-writer contract per [[BucketedSink.compact]]. */
  def compact(spark: SparkSession, path: String): Unit =
    web.compact(spark, path, defaultBuckets)

  /** Exactly-once view over the at-least-once table. */
  def read(spark: SparkSession, path: String): DataFrame =
    web.read(spark, path)

  /** Streaming append for the MAIN-CONTENT variant: the identical
    * mechanics, the [[WebCodec.pipelineMain]] gate (boilerplate
    * removal + gates over main text) instead of whole-page extraction.
    * Same code path as `web_pipeline_main`, so the streamed table
    * rides that query's oracle verbatim. */
  def appendBatchMain(media: DataFrame, path: String): Unit =
    web.write(WebCodec.pipelineMain(media), path, defaultBuckets, "append")

  /** Streaming ingest into the main-content serving table. */
  def runToMainTable(media: DataFrame, path: String, checkpointPath: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    BucketedSink.runToTable(media, path, checkpointPath, appendBatchMain(_, path))

  def appendBatchFetch(media: DataFrame, path: String): Unit =
    fetch.write(WebCodec.fetchLog(media), path, defaultBuckets, "append")

  /** Streaming ingest into the fetch-log table. */
  def runToFetchTable(media: DataFrame, path: String, checkpointPath: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    BucketedSink.runToTable(media, path, checkpointPath, appendBatchFetch(_, path))

  /** Exactly-once view over the at-least-once fetch log. */
  def readFetch(spark: SparkSession, path: String): DataFrame =
    fetch.read(spark, path)

  /** The materialized cleaned-corpus table for a fixture dir: the synth
    * WARC corpus through the SAME parse-gate + extract path the
    * streaming ingest runs, persisted for the serving queries. */
  def materialized(spark: SparkSession, sfDir: String): DataFrame =
    web.materialized(spark, "websink", sfDir, defaultBuckets)(
      WebCodec.pipeline(WebCodec.webWarc(docs(spark, sfDir))))

  /** The materialized MAIN-CONTENT corpus table (r16) — the serving
    * shape a tokenize/pack stage reads when the cleaner runs upstream. */
  def materializedMain(spark: SparkSession, sfDir: String): DataFrame =
    web.materialized(spark, "websinkmain", sfDir, defaultBuckets)(
      WebCodec.pipelineMain(WebCodec.webWarc(docs(spark, sfDir))))

  /** The materialized FETCH LOG (r18) for a fixture dir. */
  def materializedFetch(spark: SparkSession, sfDir: String): DataFrame =
    fetch.materialized(spark, "websinkfetch", sfDir, defaultBuckets)(
      WebCodec.fetchLog(WebCodec.webWarc(docs(spark, sfDir))))

  /** The materialized CRAWL-2 fetch log (r18): recrawlRecords rows —
    * live re-fetches with content identity, 304 revisits with their
    * referral + validator. */
  def materializedRecrawl(spark: SparkSession, sfDir: String): DataFrame =
    recrawl.materialized(spark, "websinkrecrawl", sfDir, defaultBuckets)(
      WebCodec.recrawlRecords(WebCodec.webWarcRecrawl(docs(spark, sfDir))))

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables(spark, sfDir, "documents")
}
