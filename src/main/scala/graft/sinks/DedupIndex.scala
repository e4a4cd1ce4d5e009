package graft.sinks

import graft.ext.Dedup
import graft.util.Fence
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted near-dup (MinHash/LSH) index — the incremental counterpart
  * of [[graft.ext.Dedup.nearDupJaccard]], answering the question a
  * continuously-ingesting pipeline actually asks: "is this NEW batch a
  * near-duplicate of anything in the 100 TB corpus I already hold?" —
  * without rescanning, re-shingling, or re-signing the corpus. The
  * batch-mode operator re-derives signatures for everything on every
  * call; this object lands them ONCE and probes forever, the same
  * build/probe/append lifecycle as [[AnnIndex]].
  *
  * Layout under `path`:
  *  - `meta/` — one row (buckets): table geometry.
  *  - `sigs/` — `(doc_id, sig: array<long>[96])` bucketed by doc_id:
  *    a FIXED 768 bytes per document regardless of document size — the
  *    property that makes the index affordable where storing shingle
  *    sets would re-store the corpus.
  *  - `bands/` — `(doc_id, band_id, band_hash)` hash-bucketed by
  *    band_hash, files sorted (band_hash, doc_id): the LSH candidate
  *    join touches 24-byte rows only.
  *
  * Probe shape at scale: the incoming batch shingles/signs ITSELF (one
  * scan of the batch, [[Dedup.numHashes]] fused minima), then joins its
  * bands against the index on (band_id, band_hash) — a skinny shuffle
  * of the BATCH against a bucketed table scan, never a corpus text
  * rescan — and verifies candidates by signature agreement (the
  * standard MinHash estimate: E[agreeing fraction] = Jaccard), reading
  * only the candidates' 768-byte signature rows. Hash-specific
  * estimates → the registered query is rows-only; DedupIndexSpec pins
  * planted exact/near/novel behavior, the agreement-vs-true-Jaccard
  * error, and append-then-probe.
  *
  * Determinism: signatures are the splitmix64-mixed minima of
  * [[graft.expr.MinHashSignature]] — a pure function of the text — so
  * probes are exactly reproducible.
  */
object DedupIndex {

  val defaultBuckets = 32

  /** Signature agreement threshold ≈ the Jaccard threshold it
    * estimates (E[agree] = J, σ = √(J(1−J)/96) ≈ 0.04 at J=0.8). */
  val defaultMinAgree = 0.8

  /** `portable = false` (production): fused xxhash64 shingle hashing
    * ([[Dedup.shingled]]) — fastest, Spark-only hash. `portable = true`:
    * md5-derived element hashes ([[Dedup.shingledPortable]]) whose
    * downstream splitmix64 minima are bit-exactly reproducible in DuckDB
    * — the mode the registered `dedup_incremental_indexed` query uses so
    * the driver can full-oracle the probe path. Build and probe MUST use
    * the same mode (meta records it). */
  private def signedOf(docs: DataFrame, portable: Boolean): DataFrame =
    Dedup.signed(
      if (portable) Dedup.shingledPortable(docs) else Dedup.shingled(docs))
      .select(col("doc_id"), col("sig"))

  private[sinks] val sigsLayout =
    BucketedSink("doc_id", "doc_bucket", Seq(col("doc_id").asc))
  private[sinks] val bandsLayout = BucketedSink("band_hash", "band_bucket",
    Seq(col("band_hash").asc, col("doc_id").asc))

  private def writeTables(
      signed: DataFrame, path: String, buckets: Int, mode: String): Unit = {
    sigsLayout.write(signed, s"$path/sigs", buckets, mode)
    bandsLayout.write(Dedup.banded(signed), s"$path/bands", buckets, mode)
  }

  /** Build the index from scratch over a corpus `(doc_id, text, …)`. */
  def build(docs: DataFrame, path: String, portable: Boolean = false): Unit = {
    docs.sparkSession.range(1).select(lit(defaultBuckets).as("buckets"),
      lit(portable).as("portable"))
      .write.mode("overwrite").parquet(s"$path/meta")
    writeTables(Fence.cached(signedOf(docs, portable)), path, defaultBuckets,
      "overwrite")
  }

  /** Append a new batch's signatures + bands (they were computed for
    * the probe anyway — indexing the batch afterwards is one more
    * bucketed write, no recompute of anything existing). The two
    * writes are not atomic together, and [[runToIndex]]'s batch marker
    * only SKIPS fully-committed batches — a crash between the sigs
    * append and the marker replays the batch, re-appending identical
    * rows (at-least-once, [[BucketedSink.runToTable]]'s stated
    * contract). Readers restore exactly-once by deterministic-key
    * dedup: [[probe]] dedups the sigs scan on doc_id, and its band
    * candidates are `distinct` by construction. Its own fence scope
    * frees the batch's cached signatures on return: [[runToIndex]] calls
    * it once per micro-batch, where no query scope is open. */
  def append(newDocs: DataFrame, path: String): Unit = Fence.scope {
    val meta = newDocs.sparkSession.read.parquet(s"$path/meta")
      .head() // bounded: 1 row
    writeTables(
      Fence.cached(signedOf(newDocs, metaPortable(meta))),
      path, meta.getAs[Int]("buckets"), "append")
  }

  /** `portable` from a meta row; absent on pre-flag indexes -> false. */
  private def metaPortable(meta: org.apache.spark.sql.Row): Boolean =
    meta.schema.fieldNames.contains("portable") &&
      meta.getAs[Boolean]("portable")

  /** Streaming ingestion: marker-fenced, checkpointed micro-batch
    * appends per [[BucketedSink.runToTable]] — each batch's sigs+bands
    * land under one marker, so clean restarts never double-index. */
  def runToIndex(
      docs: DataFrame,
      path: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    BucketedSink.runToTable(docs, s"$path/bands", checkpointPath,
      append(_, path))

  /** Compact accumulated appends in BOTH tables back to one-file-per-
    * bucket clustered files and GC their batch markers — without this a
    * continuously-ingesting index degrades linearly in batch count (the
    * small-file problem [[BucketedSink.compact]] exists to solve); same
    * quiesced-writer contract and crash-safe rename-aside swap. */
  def compact(spark: SparkSession, path: String): Unit = {
    val buckets = spark.read.parquet(s"$path/meta")
      .head().getAs[Int]("buckets") // bounded: 1 row
    sigsLayout.compact(spark, s"$path/sigs", buckets)
    bandsLayout.compact(spark, s"$path/bands", buckets)
  }

  /** Near-dup matches of an incoming batch against the index:
    * `(doc_id, dup_of, sig_agree_r)` — one row per (incoming doc,
    * indexed doc) pair sharing an LSH band whose signature agreement
    * meets `minAgree`. Incoming doc_ids must be disjoint from indexed
    * ones (the ingest contract; a re-probed indexed doc would match
    * itself at 1.0). */
  def probe(
      newDocs: DataFrame,
      path: String,
      minAgree: Double = defaultMinAgree): DataFrame = {
    val spark = newDocs.sparkSession
    val incoming = Fence.cached(signedOf(newDocs,
      metaPortable(spark.read.parquet(s"$path/meta").head())))
    val newBands = Dedup.banded(incoming)
      .select(col("doc_id").as("new_id"), col("band_id"), col("band_hash"))
    val idxBands = spark.read.parquet(s"$path/bands")
      .select(col("doc_id").as("old_id"), col("band_id"), col("band_hash"))
    val cands = newBands
      .join(idxBands, Seq("band_id", "band_hash"))
      .select(col("new_id"), col("old_id"))
      .distinct()
    val idxSigs = spark.read.parquet(s"$path/sigs")
      .select(col("doc_id"), col("sig"))
      .dropDuplicates("doc_id") // at-least-once appends, identical rows
      .select(col("doc_id").as("old_id"), col("sig").as("old_sig"))
    cands
      .join(incoming.select(col("doc_id").as("new_id"), col("sig")), Seq("new_id"))
      .join(idxSigs, Seq("old_id"))
      .withColumn("agree",
        size(filter(zip_with(col("sig"), col("old_sig"),
          (a, b) => a === b), x => x)).cast("double") /
          lit(Dedup.numHashes.toDouble))
      .where(col("agree") >= minAgree)
      .select(col("new_id").as("doc_id"), col("old_id").as("dup_of"),
        round(col("agree"), 6).as("sig_agree_r"))
      .orderBy("doc_id", "dup_of")
  }

  /** Incoming docs with NO near-dup match in the index — the batch a
    * pipeline forwards downstream before [[append]]ing it. */
  def novel(
      newDocs: DataFrame,
      path: String,
      minAgree: Double = defaultMinAgree): DataFrame =
    newDocs.join(
      probe(newDocs, path, minAgree).select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** Build-once path for a fixture dir, indexing the doc_id-even half
    * of `documents`; `dedup_incremental_indexed` probes the odd half.
    * Built in PORTABLE hash mode so the probe carries a full DuckDB
    * oracle (the splitmix64 minima over md5-derived shingle hashes are
    * reproducible in SQL; VERDICT r8 item 7). */
  def materialized(spark: SparkSession, sfDir: String): String =
    graft.util.ArtifactMemo.path("dedupindex", sfDir) { path =>
      build(graft.sources.Tables(spark, sfDir, "documents")
        .where(pmod(col("doc_id"), lit(2)) === 0), path, portable = true)
    }
}
