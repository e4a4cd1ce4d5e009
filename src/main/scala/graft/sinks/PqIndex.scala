package graft.sinks

import graft.ext.{Pq, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted product-quantization index — the serving lifecycle around
  * [[Pq.adcTopK]], completing the persisted-index family ([[AnnIndex]]
  * cells, [[DedupIndex]] signatures, [[TextIndex]] postings): encode the
  * corpus once, probe the 32×-compressed code table many times, append
  * new vectors against the FROZEN build-time codebook (FAISS `add` after
  * `train` — re-deriving scale or codewords would silently re-mean every
  * stored code).
  *
  * Layout under `path`:
  *  - `meta/` — ONE row `(s, stride, buckets)`: the int8 quantization
  *    scale and index geometry, frozen at build.
  *  - `codebook/` — the `(j, cw_id, cwdot, cw)` rows (≤ m·256 by the
  *    [[Pq.pqMaxCw]] cap): the model artifact probes re-flatten.
  *  - `codes/` — `(vec_id, pq: array<long>)`, ONE row per vector (m
  *    codeword ids ≈ 8 bytes of payload at 100 TB), hash-bucketed by
  *    vec_id with vec_id-sorted files: appends land in bounded
  *    directories, and the refine stage's point-reads prune by bucket.
  *
  * Determinism: [[probe]] over a freshly-[[build]]t index is
  * row-for-row, bit-for-bit [[Pq.adcTopK]] (same codes, same codebook,
  * same [[Pq.adcRank]] scorer), which is what lets the registered
  * `sim_topk_pq_indexed` query carry the SAME full DuckDB oracle as
  * `sim_topk_pq` — the driver's hash check then pins table-probe ≡
  * in-plan every round.
  *
  * Scale: build is one quantize projection + one codegen encode
  * projection + one bucketed write — the N×C×m encode flops never touch
  * a shuffle; probe scans ONLY the 8-codes-per-vector table (the 32×
  * bandwidth story) plus a broadcast `|q|·m·C` lookup table; append
  * encodes just the new rows with the stored scale (saturating at ±127
  * beyond the build-time range) and codebook literal. */
object PqIndex {

  val defaultBuckets = 16

  private[sinks] val codesLayout =
    BucketedSink("vec_id", "vec_bucket", Seq(col("vec_id").asc))

  def build(embeddings: DataFrame, path: String): Unit = {
    Similarity.quantizeScale(embeddings)
      .select(col("s"), lit(Pq.pqStride).as("stride"),
        lit(defaultBuckets).as("buckets"))
      .write.mode("overwrite").parquet(s"$path/meta")
    Pq.codebook(embeddings)
      .write.mode("overwrite").parquet(s"$path/codebook")
    writeCodes(Pq.codes(embeddings), path, defaultBuckets, "overwrite")
  }

  /** Append-only ingestion: quantize with the STORED scale, encode with
    * the STORED codebook literal, land in the bucketed layout. Meta and
    * codebook are untouched — probes see the new vectors, no rebuild. */
  def append(newEmbeddings: DataFrame, path: String): Unit = {
    val spark = newEmbeddings.sparkSession
    val meta = readMeta(spark, path)
    val flat = Pq.flatCodebook(readCodebook(spark, path))
    val q8 = newEmbeddings
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), AnnIndex.quantizeStored(col("v"), meta.s).as("qv"))
    writeCodes(Pq.encodeWith(q8, flat), path, meta.buckets, "append")
  }

  /** Compact accumulated appends back to one-file-per-bucket
    * vec_id-sorted files; crash-safe swap per [[BucketedSink.compact]]. */
  def compact(spark: SparkSession, path: String): Unit =
    codesLayout.compact(spark, s"$path/codes", readMeta(spark, path).buckets)

  /** ADC top-k probe for external float query vectors `(q_id,
    * embedding)`: quantized with the stored scale, ranked against the
    * stored codes by [[Pq.adcRank]]. Reader contract: `dropDuplicates`
    * on vec_id — appends are at-least-once at the file level and
    * replayed rows are byte-identical ([[AnnIndex.probeWith]]'s rule). */
  def probeWith(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val meta = readMeta(spark, path) // bounded: 1 row
    val q8 = queries
      .select(col("q_id"), Similarity.asDouble(col("embedding")).as("v"))
      .select(col("q_id").as("vec_id"), AnnIndex.quantizeStored(col("v"), meta.s).as("qv"))
    val cds = spark.read.parquet(s"$path/codes")
      .select(col("vec_id"), col("pq"))
      .dropDuplicates("vec_id")
      .select(col("vec_id"), posexplode(col("pq")))
      .select(col("vec_id"), col("pos").as("j"), col("col").as("code"))
    Pq.adcRank(cds, readCodebook(spark, path), q8, k, excludeSelf)
  }

  /** Fixture-parity probe: queries are the corpus's own first
    * `numQueries` vectors (the `sim_topk_pq` convention). Over a fresh
    * [[build]] this is bit-identical to [[Pq.adcTopK]]. */
  def probe(
      embeddings: DataFrame,
      path: String,
      numQueries: Int,
      k: Int): DataFrame =
    probeWith(embeddings.sparkSession, path,
      embeddings.where(col("vec_id") < numQueries)
        .select(col("vec_id").as("q_id"), col("embedding")),
      k, excludeSelf = true) // q_ids ARE vec_ids here

  private def writeCodes(
      codes: DataFrame, path: String, buckets: Int, mode: String): Unit =
    codesLayout.write(
      codes.groupBy("vec_id")
        .agg(array_sort(collect_list(struct(col("j"), col("code")))).as("jc"))
        .select(col("vec_id"), transform(col("jc"), x => x.getField("code")).as("pq")),
      s"$path/codes", buckets, mode)

  private def readCodebook(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/codebook")

  private final case class Meta(s: Double, buckets: Int)

  private def readMeta(spark: SparkSession, path: String): Meta = {
    val r = spark.read.parquet(s"$path/meta").head() // bounded: 1 row
    Meta(r.getAs[Double]("s"), r.getAs[Int]("buckets"))
  }

  /** Build-once path for a fixture dir; the registered
    * `sim_topk_pq_indexed` query probes this. */
  def materialized(spark: SparkSession, sfDir: String): String =
    graft.util.ArtifactMemo.path("pqindex", sfDir) {
      build(graft.sources.Tables(spark, sfDir, "embeddings"), _)
    }
}
