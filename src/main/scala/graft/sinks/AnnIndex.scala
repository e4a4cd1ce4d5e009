package graft.sinks

import graft.ext.Similarity
import graft.util.Fence
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-appendable ANN index — the lifecycle around
  * [[Similarity.quantizedIvfTopK]] (VERDICT r7 item 1): that operator
  * re-derives centroids and assignments from the corpus on every call,
  * which is correct and oracle-able but not how a serving system works.
  * This object lands the index AS A TABLE — build once, probe many
  * times, append new vectors with an assignment-only pass — using the
  * same [[BucketedSink]] layout/compaction machinery as the CDC and
  * corpus tiers.
  *
  * Layout under `path`:
  *  - `meta/` — ONE row `(s, stride, buckets)`: the quantization scale
  *    and index geometry. The codebook contract: `s` and the centroid
  *    set are FROZEN at build time (standard IVF practice — FAISS
  *    `add` after `train`), so appended vectors quantize with the
  *    stored scale (saturating at ±127 if they exceed the build-time
  *    range) and assign to the stored centroids. Re-deriving either
  *    would silently invalidate every previously-assigned cell.
  *  - `centroids/` — `(cent_id, qcv)`: the strided sample of BUILD-time
  *    quantized codes ([[Similarity.ivfStride]] convention: every
  *    stride-th vec_id), tiny by construction (N/stride rows).
  *  - `vectors/` — `(vec_id, qv, cell)` hash-bucketed by cell into
  *    `cell_bucket=` directories, files sorted
  *    `(cell, vec_id)`: a probe touches only the directories its cells
  *    hash into (partition pruning) and inside them row groups are
  *    cell-clustered (min/max pruning). Bounded directory count — the
  *    [[BucketedSink]] discipline that survives 100 TB — while still
  *    pruning to ~nprobe/C of the corpus per probe.
  *
  * Determinism: every stage is the exact integer-fed arithmetic of
  * [[Similarity.quantizedIvfTopK]] — [[probe]] over a freshly-[[build]]t
  * index is row-for-row, bit-for-bit that operator's output, which is
  * what lets the registered `sim_topk_ivf_indexed` query carry the SAME
  * full DuckDB oracle as `sim_topk_ivf_q8`.
  *
  * Scale: build is one quantize projection + one N×C broadcast argmax +
  * one bucketed write (no corpus shuffle beyond the layout write);
  * probe is centroid ranking (|q|×C, broadcast) + a PRUNED scan of the
  * probed cells + one per-query top-k window; append touches only the
  * appended rows. The two driver-side reads are bounded by
  * construction: the 1-row meta and the ≤ |q|·nprobe probed-cell list
  * (the pruning predicate a serving system computes per request).
  */
object AnnIndex {

  val defaultBuckets = 32

  private[sinks] val vectorsLayout = BucketedSink("cell", "cell_bucket",
    Seq(col("cell").asc, col("vec_id").asc))

  private def asD(c: org.apache.spark.sql.Column) = Similarity.asDouble(c)

  /** Build the index table from scratch: quantize (global scale),
    * sample centroids, assign cells, land the bucketed layout. The code
    * table is CACHED across its three consumers (centroids write +
    * both sides of the assignment join) — one corpus quantize pass, not
    * four. The meta row aggregates [[Similarity.quantizeScale]]
    * directly, so it exists — and later probes/appends fail loudly on
    * geometry, not a bare empty-head — even when the corpus is empty
    * (a `limit(1)` over the empty code table would write a ZERO-row
    * meta). */
  def build(embeddings: DataFrame, path: String): Unit = {
    val stride = Similarity.ivfStride
    Similarity.quantizeScale(embeddings)
      .select(col("s"), lit(stride).as("stride"), lit(defaultBuckets).as("buckets"))
      .write.mode("overwrite").parquet(s"$path/meta")
    val q = Fence.cached(
      Similarity.quantize(embeddings).select(col("vec_id"), col("qv")))
    q.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("cent_id"), col("qv").as("qcv"))
      .write.mode("overwrite").parquet(s"$path/centroids")
    writeVectors(
      assignCells(q, readCentroids(embeddings.sparkSession, path))
        .join(labelsOf(embeddings), Seq("vec_id")),
      path, defaultBuckets, "overwrite")
  }

  /** Payload metadata stored BESIDE the vector (the filtered-search
    * contract of every production vector store: the predicate column
    * must live in the index row, never a join back to the source at
    * probe time). Sources without a `label` column store null — the
    * unfiltered probe path never reads it. */
  private def labelsOf(embeddings: DataFrame): DataFrame =
    if (embeddings.columns.contains("label"))
      embeddings.select(col("vec_id"), col("label").cast("int").as("label"))
    else
      embeddings.select(col("vec_id"), lit(null).cast("int").as("label"))

  /** Assignment-only append: quantize `newEmbeddings` with the STORED
    * scale (saturating — the frozen-codebook contract documented above),
    * assign against the STORED centroids, append into the bucketed
    * layout. Centroids and meta are untouched: the probe path sees the
    * new vectors with no rebuild. */
  def append(newEmbeddings: DataFrame, path: String): Unit = {
    val spark = newEmbeddings.sparkSession
    val meta = readMeta(spark, path)
    val codes = newEmbeddings
      .select(col("vec_id"), asD(col("embedding")).as("v"))
      .select(col("vec_id"), quantizeStored(col("v"), meta.s).as("qv"))
    writeVectors(
      assignCells(codes, readCentroids(spark, path))
        .join(labelsOf(newEmbeddings), Seq("vec_id")),
      path, meta.buckets, "append")
  }

  /** The index write path in STREAMING form: embeddings arrive as a
    * stream (vec_id, embedding) and land as assignment-only appends —
    * checkpointed, marker-fenced batches per [[BucketedSink.runToTable]]
    * (clean restarts never duplicate). The codebook stays frozen; a
    * probe between micro-batches sees everything ingested so far. This
    * completes the lifecycle: build offline once, ingest online
    * forever, probe at any time. */
  def runToIndex(
      embeddings: DataFrame,
      path: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    BucketedSink.runToTable(embeddings, s"$path/vectors", checkpointPath,
      append(_, path))

  /** Cell-occupancy statistics of the index table — the balance
    * dashboard a serving operator reads (a hot cell = a hot probe
    * shard; IVF quality degrades when occupancy skews). One row:
    * cells, vectors, min/max/avg occupancy. Reads only the skinny
    * (cell) column off the bucketed layout. */
  def cellStats(spark: SparkSession, path: String): DataFrame = {
    val occ = spark.read.parquet(s"$path/vectors")
      .select(col("vec_id"), col("cell"))
      .dropDuplicates("vec_id") // the probe path's at-least-once reader rule
      .groupBy("cell").agg(count(lit(1)).as("n"))
    occ.agg(
      count(lit(1)).as("n_cells"),
      sum(col("n")).as("n_vectors"),
      min(col("n")).as("min_occ"),
      max(col("n")).as("max_occ"),
      round(sum(col("n")).cast("double") / count(lit(1)), 6).as("avg_occ_r"))
  }

  /** Compact accumulated appends back to one-file-per-bucket
    * cell-clustered files; crash-safe swap per [[BucketedSink.compact]]. */
  def compact(spark: SparkSession, path: String): Unit =
    vectorsLayout.compact(spark, s"$path/vectors", readMeta(spark, path).buckets)

  /** Top-k probe for external query vectors `(q_id, q: array<double>)`
    * — already in CODE space (the caller quantized them, or they are
    * index rows' own codes upcast). Output matches
    * [[Similarity.ivfTopK]]: `(q_id, rank, neighbor_id, sim_r)`.
    *
    * `excludeSelf` drops candidates with `vec_id == q_id` — ONLY
    * correct when query ids ARE index vec_ids ([[probe]]'s fixture
    * parity). External request ids live in their own id space: a
    * collision with a corpus vec_id is meaningless there, and excluding
    * it would silently drop a legitimate neighbor — so the default
    * keeps every candidate.
    *
    * Reader contract: the vectors scan `dropDuplicates` on vec_id —
    * [[BucketedSink.runToTable]]'s appends are at-least-once at the
    * file level (a crash between a parquet append and its marker
    * replays the batch), and replayed rows are byte-identical, so the
    * deterministic-key dedup restores exactly-once at read time. */
  def probeWith(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      excludeSelf: Boolean = false): DataFrame =
    probeImpl(spark, path, queries, k, excludeSelf, filtered = false)

  /** One probe implementation under both surfaces: `filtered = true`
    * threads the query's `qlabel` through the probe frame and gates the
    * candidates on the stored `label` payload before any cosine. */
  private def probeImpl(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      excludeSelf: Boolean,
      filtered: Boolean): DataFrame = {
    val meta = readMeta(spark, path) // one bounded driver read per probe
    val cents = readCentroids(spark, path)
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("qsim").desc, col("cent_id"))
    val probeCols = Seq(col("q_id"), col("q")) ++
      (if (filtered) Seq(col("qlabel")) else Nil) :+ col("cent_id").as("cell")
    // cached: the ranking feeds BOTH the driver-side pruning collect and
    // the candidate join below — |q|·nprobe skinny rows, one computation
    val probes = Fence.cached(queries
      .crossJoin(broadcast(cents))
      .withColumn("qsim", Similarity.cosine(col("q"), col("cv")))
      .withColumn("qrn", row_number().over(qw))
      .where(col("qrn") <= Similarity.ivfProbes)
      .select(probeCols: _*))
    // the pruning predicate: probed cells + the directories they hash
    // into, computed in-plan and collected BOUNDED (≤ |q|·nprobe rows —
    // a serving system knows its request's cells driver-side; this is
    // the read that makes a persisted index sublinear)
    val probed = probes
      .select(col("cell"), vectorsLayout.bucket(meta.buckets).as("b"))
      .distinct().collect()
    val cells = probed.map(_.getLong(0))
    val dirs = probed.map(_.getInt(1)).distinct
    val vecCols = Seq(col("vec_id"), col("qv"), col("cell")) ++
      (if (filtered) Seq(col("label")) else Nil)
    val vecs = spark.read.parquet(s"$path/vectors")
      .where(vectorsLayout.inBuckets(dirs: _*) && col("cell").isin(cells: _*))
      .select(vecCols: _*)
      .dropDuplicates("vec_id") // at-least-once appends, identical rows
      .withColumn("v", asD(col("qv"))).drop("qv")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    val joined = vecs.join(broadcast(probes), Seq("cell"))
    val gated = if (filtered) joined.where(col("label") === col("qlabel"))
      else joined
    (if (excludeSelf) gated.where(col("vec_id") =!= col("q_id")) else gated)
      .withColumn("sim", Similarity.cosine(col("q"), col("v")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("sim"), 6).as("sim_r"))
      .orderBy("q_id", "rank")
  }

  /** [[probeWith]] under a stored-payload predicate: queries carry a
    * `qlabel`, and only index rows whose stored `label` matches score —
    * the filter applies to the probed cells' candidates BEFORE any
    * cosine (pre-filtering), never starving below k while matches exist
    * in the probed cells. The predicate column rides the SAME pruned
    * bucket read the unfiltered probe does; no join back to the source
    * table at probe time — the vector-store payload-filter contract. */
  def probeWithFiltered(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      excludeSelf: Boolean = false): DataFrame =
    probeImpl(spark, path, queries, k, excludeSelf, filtered = true)

  /** The QUERY side of the lifecycle in streaming form — the mirror of
    * [[runToIndex]]'s ingest side: query vectors arrive as a stream
    * `(q_id, q: array<double>)` and each micro-batch probes the
    * persisted index, landing `(q_id, rank, neighbor_id, sim_r)`
    * results as marker-fenced parquet appends (clean restarts never
    * duplicate a batch's results — [[BucketedSink.runToTable]]'s exact
    * idempotence contract). A probe between ingest micro-batches sees
    * everything landed so far; together the two streams are the full
    * online serving loop: ingest forever, query forever, one index. */
  def runProbes(
      queries: DataFrame,
      path: String,
      outPath: String,
      checkpointPath: String,
      k: Int): org.apache.spark.sql.streaming.StreamingQuery =
    BucketedSink.runToTable(queries, outPath, checkpointPath,
      batch => probeWith(batch.sparkSession, path, batch, k)
        .write.mode("append").parquet(s"$outPath/results"))

  /** Fixture-parity probe: queries are the index's own rows with
    * `vec_id < numQueries` (the `sim_topk_ivf_q8` convention), read
    * back from the vectors table. Over a freshly-built index this is
    * bit-identical to [[Similarity.quantizedIvfTopK]]. */
  def probe(
      spark: SparkSession,
      path: String,
      numQueries: Int,
      k: Int): DataFrame =
    probeWith(spark, path,
      spark.read.parquet(s"$path/vectors")
        .where(col("vec_id") < numQueries)
        .select(col("vec_id"), col("qv")).dropDuplicates("vec_id")
        .select(col("vec_id").as("q_id"), asD(col("qv")).as("q")),
      k, excludeSelf = true) // q_ids ARE vec_ids here

  /** `(cell, vec_id)`-keyed cell assignment by quantized-cosine argmax,
    * ties to the lowest cent_id — [[Similarity.ivfTopK]]'s exact
    * assignment stage (map-side-partial `max_by`, no N×C shuffle). */
  private def assignCells(codes: DataFrame, cents: DataFrame): DataFrame = {
    val base = codes.select(col("vec_id"), col("qv"), asD(col("qv")).as("v"))
    base.crossJoin(broadcast(cents))
      .withColumn("csim", Similarity.cosine(col("v"), col("cv")))
      .groupBy("vec_id")
      .agg(max_by(col("cent_id"),
        struct(col("csim"), (-col("cent_id")).as("neg_id"))).as("cell"))
      .join(base.select(col("vec_id"), col("qv")), Seq("vec_id"))
  }

  private def writeVectors(
      assigned: DataFrame, path: String, buckets: Int, mode: String): Unit =
    vectorsLayout.write(
      assigned.select(col("vec_id"), col("qv"), col("cell"), col("label")),
      s"$path/vectors", buckets, mode)

  /** Int8 codes of the double array `v` under a STORED scale `s`,
    * saturating at ±127 (the frozen-codebook contract: a vector beyond the
    * build-time range clamps instead of wrapping). */
  private[sinks] def quantizeStored(
      v: org.apache.spark.sql.Column, s: Double): org.apache.spark.sql.Column =
    transform(v, x =>
      greatest(lit(-127.0), least(lit(127.0), floor(x * lit(127.0) / lit(s) + lit(0.5))))
        .cast("tinyint"))

  private def readCentroids(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/centroids")
      .select(col("cent_id"), asD(col("qcv")).as("cv"))

  // stride stays in the TABLE as format self-description (what geometry
  // built the frozen centroids) but is not parsed: no consumer may
  // re-apply it — re-deriving centroids would invalidate every cell.
  private final case class Meta(s: Double, buckets: Int)

  private def readMeta(spark: SparkSession, path: String): Meta = {
    val r = spark.read.parquet(s"$path/meta").head() // bounded: 1 row
    Meta(r.getAs[Double]("s"), r.getAs[Int]("buckets"))
  }

  /** Build-once path for a fixture dir; the registered
    * `sim_topk_ivf_indexed` query probes this. */
  def materialized(spark: SparkSession, sfDir: String): String =
    graft.util.ArtifactMemo.path("annindex", sfDir) {
      build(graft.sources.Tables(spark, sfDir, "embeddings"), _)
    }
}
