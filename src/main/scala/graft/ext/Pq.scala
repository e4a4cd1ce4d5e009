package graft.ext

import graft.util.Fence
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid — "Product Quantization for
  * Nearest Neighbor Search", PAMI 2011) — the compression rung between
  * [[Similarity.quantize]]'s int8 (4×) and [[Similarity.binarize]]'s sign
  * bits (32×): the 64-dim vector splits into `m = 8` subspaces of 8 dims,
  * each subvector snaps to its nearest codeword from a per-subspace
  * codebook, and a vector is stored as 8 one-byte codeword ids — 32×
  * smaller than float32 with far better dot-product fidelity than sign
  * bits, because each subspace keeps a real (quantized) direction instead
  * of one bit per dimension.
  *
  * Everything runs over the int8 codes of [[Similarity.quantize]], not the
  * raw floats: subvector distances, codeword dots, and ADC lookups are
  * then sums of products of integers ≤ 127 — EXACT in doubles — so the
  * whole family is deterministic and carries complete DuckDB oracles
  * (the same trick [[Similarity.quantizedIvfTopK]] uses). Codebooks are
  * data-sampled exactly like the IVF centroids — every [[pqStride]]-th
  * vector's subvector is a codeword (codeword id = donor vec_id), CAPPED
  * at [[pqMaxCw]] codewords per subspace (`vec_id < pqStride·256`), so C is
  * a fixed design constant at any corpus size, the FAISS convention — and
  * there is no trained model to ship: bit-reproducible on any cluster.
  *
  * Scale shape (the FAISS serving layout, re-expressed in Spark):
  *  - codebooks are `m·C` tiny rows — collected once (bounded) into a
  *    flat literal, never shuffled;
  *  - encoding is ONE codegen projection ([[graft.expr.PqEncodeAll]])
  *    over the corpus scan — the vectors never shuffle;
  *  - an ADC query builds a `|q|·m·C` lookup table (broadcast), scans ONLY
  *    the 8-byte code rows, and reduces per (query, vector) with map-side
  *    partials — the float vectors are touched by nothing but the final
  *    refine fetch on `4·k` survivors.
  * At 100 TB the code table is what lives hot (32× less scan bandwidth);
  * the float table is point-read by the refine stage only, which is the
  * [[graft.sinks.AnnIndex]] bucketed-fetch discipline.
  */
object Pq {

  import Similarity.{asDouble, cosine, dot}

  /** Subspace count; 64 dims / 8 = 8 dims per subvector. */
  val pqM = 8
  val pqSubDim = 8

  /** Codebook sampling: every 2nd vector donates, capped at 256 codewords
    * per subspace (the FAISS 8-bit-PQ codebook size) — C stays a constant
    * independent of corpus size, so encoding is O(N·C·m) flops with a
    * broadcast codebook at any scale. */
  val pqStride = 2
  val pqMaxCw = 256

  /** Tiny positive floor — keeps all-zero codes (possible on a degenerate
    * corpus) from dividing to NaN, without perturbing any real norm. */
  private val tiny = java.lang.Double.MIN_VALUE

  /** Per-subspace int8 codebooks: every `pqStride`-th vector donates its j-th
    * subvector, codeword id = donor vec_id. `cwdot` (‖cw‖², exact int) rides
    * along so encoders and ADC both read it instead of recomputing. */
  /** The int8 code frame `(vec_id, qv)` the whole family derives from. */
  private def q8Of(embeddings: DataFrame): DataFrame =
    Similarity.quantize(embeddings).select(col("vec_id"), col("qv"))

  private[graft] def codebookFrom(q8: DataFrame): DataFrame =
    q8.where(pmod(col("vec_id"), lit(pqStride)) === 0 &&
        col("vec_id") < pqStride.toLong * pqMaxCw)
      .select(col("vec_id").as("cw_id"), posexplode(subvectors(col("qv"))))
      .select(col("pos").as("j"), col("cw_id"),
        col("col").as("cw"), dot(col("col"), col("col")).as("cwdot"))

  def codebook(embeddings: DataFrame): DataFrame =
    codebookFrom(q8Of(embeddings))

  /** array(64 int8-as-double) → array of `pqM` 8-dim subvectors. */
  private def subvectors(qv: Column): Column =
    array((0 until pqM).map(j =>
      slice(transform(qv, x => x.cast("double")), j * pqSubDim + 1, pqSubDim)): _*)

  /** The flat codebook-literal layout [[graft.expr.PqEncodeAll]] scans:
    * per subspace j ascending, per codeword ascending cw_id, the 10
    * doubles `[cw_id, cwdot, cw_0…cw_7]`. Bounded collect (≤ m·[[pqMaxCw]]
    * = 2048 rows) — the codebook is an index-build model artifact, the
    * [[Lm.nanoModel]] precedent; [[graft.sinks.PqIndex]] persists these
    * same rows and re-flattens them so appends encode against the FROZEN
    * build-time codebook. */
  private[graft] def flatCodebook(cb: DataFrame): Array[Double] =
    cb.select(col("j"), col("cw_id"), col("cwdot"), col("cw"))
      .collect()
      .map { r =>
        (r.getInt(0), r.getLong(1), r.getDouble(2),
          r.getSeq[Double](3).toArray)
      }
      .sortBy { case (j, id, _, _) => (j, id) }
      .flatMap { case (_, id, cwdot, cw) => id.toDouble +: cwdot +: cw }

  /** One-projection encoder over pre-quantized `(vec_id, qv)` rows and a
    * [[flatCodebook]] literal → skinny (vec_id, j, code) triples. */
  private[graft] def encodeWith(q8: DataFrame, flat: Array[Double]): DataFrame =
    q8.select(col("vec_id"),
        posexplode(graft.expr.PqEncode.encodeAll(
          transform(col("qv"), x => x.cast("double")), lit(flat), pqM, pqSubDim)))
      .select(col("vec_id"), col("pos").as("j"), col("col").as("code"))

  /** PQ encoding: per (vector, subspace) the nearest codeword by L2 over
    * the int8 subvectors (d² = ‖s‖² − 2·s·cw + ‖cw‖², every term an exact
    * integer; ties → lowest cw_id — ‖s‖² is constant per (vector,
    * subspace), so the [[graft.expr.PqEncodeAll]] kernel ranks the
    * identical `‖cw‖² − 2·s·cw`). One codegen projection over the corpus
    * scan against the [[flatCodebook]] literal — no N×C join blow-up, no
    * argmin shuffle; the only shuffle-bound rows are the final skinny
    * (vec_id, j, code) triples. At 1000 executors the literal ships once
    * per task closure, exactly how a trained PQ codebook deploys. */
  def codes(embeddings: DataFrame): DataFrame = {
    val q8 = q8Of(embeddings)
    encodeWith(q8, flatCodebook(codebookFrom(q8)))
  }

  /** The ADC scorer both the in-plan path and the persisted-index probe
    * rank with: `cds` (vec_id, j, code) candidates against int8 queries
    * `q8` (q_id, qv) under codebook `cb`. The query's subvectors dot
    * every codeword once into a `|q|·m·C` lookup table; each candidate
    * then costs m table lookups summed — never a 64-dim dot. Similarity
    * = ADC-dot / (‖q8‖·‖recon‖) with reconstruction norm Σⱼ‖cw(codeⱼ)‖²
    * (exact int) — bit-deterministic, fully oracle-able. */
  private[graft] def adcRank(
      cds: DataFrame,
      cb: DataFrame,
      q8: DataFrame,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val qsubs = q8
      .select(col("vec_id").as("q_id"),
        sqrt(dot(transform(col("qv"), x => x.cast("double")),
          transform(col("qv"), x => x.cast("double")))).as("qn"),
        posexplode(subvectors(col("qv"))))
      .select(col("q_id"), col("qn"), col("pos").as("j"), col("col").as("qsub"))
    val lut = qsubs
      .join(broadcast(cb), Seq("j"))
      .select(col("q_id"), col("qn"), col("j"), col("cw_id"),
        dot(col("qsub"), col("cw")).as("pdot"))
    // candidate-side: reconstruction norm² = Σⱼ cwdot(codeⱼ)
    val recon = cds
      .join(broadcast(cb.select(col("j"), col("cw_id").as("code"), col("cwdot"))),
        Seq("j", "code"))
      .groupBy("vec_id")
      .agg(sum("cwdot").as("recon2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("asim").desc, col("vec_id"))
    cds
      .join(broadcast(lut),
        cds("j") === lut("j") && cds("code") === lut("cw_id") &&
          (if (excludeSelf) cds("vec_id") =!= lut("q_id") else lit(true)))
      .groupBy(col("q_id"), col("vec_id"), col("qn"))
      .agg(sum(col("pdot")).as("adot"))
      .join(recon, Seq("vec_id"))
      .withColumn("asim",
        col("adot") / greatest(col("qn") * sqrt(col("recon2")), lit(tiny)))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_id").as("neighbor_id"),
        round(col("asim"), 6).as("asim_r"))
      .orderBy("q_id", "rnk")
  }

  /** In-plan ADC top-k: encode the corpus, rank against the first
    * `numQueries` vectors' own codes ([[adcRank]]). The int8 frame is
    * CACHED across its three consumers (codebook collect, encode scan,
    * query slice) — one quantize pass, not three; plain cache blocks
    * only (evictable-safe), released by Bench between queries. */
  def adcTopK(
      embeddings: DataFrame,
      numQueries: Int,
      k: Int): DataFrame = {
    val q8 = Fence.cached(q8Of(embeddings))
    val cb = codebookFrom(q8)
    adcRank(
      encodeWith(q8, flatCodebook(cb)), cb,
      q8.where(col("vec_id") < numQueries), k)
  }

  /** ADC shortlist (`4·k`) → exact float cosine re-rank — the
    * FAISS refine pattern over PQ codes: the 32×-cheap scan proposes,
    * `|q|·4·k` float point-reads decide. Reported similarities
    * are the TRUE cosines; recall dominates the raw ADC rank at equal k. */
  def adcRefineTopK(
      embeddings: DataFrame,
      numQueries: Int,
      k: Int): DataFrame = {
    val cands = adcTopK(embeddings, numQueries, k * 4)
      .select(col("q_id"), col("neighbor_id"))
    val base = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("neighbor_id"))
    cands
      .join(broadcast(base.where(col("vec_id") < numQueries)
        .select(col("vec_id").as("q_id"), col("v").as("q"))), Seq("q_id"))
      .join(base.select(col("vec_id").as("neighbor_id"), col("v")),
        Seq("neighbor_id"))
      .withColumn("sim", cosine(col("q"), col("v")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("neighbor_id"),
        round(col("sim"), 6).as("sim_r"))
      .orderBy("q_id", "rnk")
  }

  /** IVFADC — the full FAISS serving stack (Jégou et al. 2011, §IV) in
    * one deterministic plan: IVF cell pruning (over the int8 codes, same
    * cells as [[Similarity.quantizedIvfTopK]]) bounds WHICH vectors are
    * scored, PQ/ADC lookups bound WHAT each score costs, and an exact
    * float re-rank of the `4·k` survivors makes the reported
    * similarities TRUE cosines. At 100 TB this is the only shape that
    * works: scan cost = (nprobe/C)·N candidates × m byte-lookups each,
    * with float vectors touched only for `|q|·4·k` point
    * reads. Composes three independently-oracled parts, so it keeps a
    * complete DuckDB oracle. */
  def ivfAdcTopK(
      embeddings: DataFrame,
      numQueries: Int,
      k: Int): DataFrame = {
    // ONE cached quantize pass feeds the cell pruning, codebook collect,
    // encode scan, and query-side norm/LUT slices
    val q8 = Fence.cached(q8Of(embeddings))
    val cands = Similarity.ivfCandidates(
        q8.select(col("vec_id"), col("qv").as("embedding")), numQueries)
      .select(col("q_id"), col("vec_id"))
    val cb = codebookFrom(q8)
    val cds = encodeWith(q8, flatCodebook(cb))
    val qn8 = q8
      .where(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"),
        sqrt(dot(transform(col("qv"), x => x.cast("double")),
          transform(col("qv"), x => x.cast("double")))).as("qn"))
    val lut = q8
      .where(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), posexplode(subvectors(col("qv"))))
      .select(col("q_id"), col("pos").as("j"), col("col").as("qsub"))
      .join(broadcast(cb), Seq("j"))
      .select(col("q_id"), col("j"), col("cw_id"),
        dot(col("qsub"), col("cw")).as("pdot"))
    val recon = cds
      .join(broadcast(cb.select(col("j"), col("cw_id").as("code"), col("cwdot"))),
        Seq("j", "code"))
      .groupBy("vec_id")
      .agg(sum("cwdot").as("recon2"))
    // ADC score ONLY the cell-pruned pairs
    val adc = cands
      .join(cds, Seq("vec_id"))
      .join(broadcast(lut),
        cands("q_id") === lut("q_id") && cds("j") === lut("j") &&
          cds("code") === lut("cw_id"))
      .groupBy(cands("q_id").as("q_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adot"))
      .join(recon, Seq("vec_id"))
      .join(broadcast(qn8), Seq("q_id"))
      .withColumn("asim",
        col("adot") / greatest(col("qn") * sqrt(col("recon2")), lit(tiny)))
    val sw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("asim").desc, col("vec_id"))
    val shortlist = adc
      .withColumn("arnk", row_number().over(sw))
      .where(col("arnk") <= k * 4)
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
    // exact float refine of the survivors
    val base = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("neighbor_id"))
    shortlist
      .join(broadcast(base.where(col("vec_id") < numQueries)
        .select(col("vec_id").as("q_id"), col("v").as("q"))), Seq("q_id"))
      .join(base.select(col("vec_id").as("neighbor_id"), col("v")),
        Seq("neighbor_id"))
      .withColumn("sim", cosine(col("q"), col("v")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("neighbor_id"),
        round(col("sim"), 6).as("sim_r"))
      .orderBy("q_id", "rnk")
  }

  /** Near-duplicate candidate pairs by PQ-code collision — the embedding
    * twin of MinHash banding, running on 8 BYTES per vector: two vectors
    * sharing ≥ `minShared` of their m subspace codes are candidates
    * (each shared code is one band hit), then ONLY candidates pay an
    * exact float cosine and survive at ≥ `threshold`. Precision is 1.0
    * by construction; the code table is the same artifact
    * [[graft.sinks.PqIndex]] serves, so at scale this is a self-join of
    * the 8-byte code rows keyed by (subspace, code) — bucket-bounded,
    * never all-pairs, and far cheaper than re-sketching the corpus. */
  def codeNearDup(
      embeddings: DataFrame,
      minShared: Int = 2,
      threshold: Double = 0.3): DataFrame = {
    val q8 = Fence.cached(q8Of(embeddings))
    // Drop PqEncodeAll's fail-closed ragged-vector sentinel (-1 in every
    // subspace) BEFORE the self-join: two corrupt vectors would collide
    // on all 8 (j, -1) keys and surface as a bogus n_shared=8 candidate,
    // then feed a cosine over mismatched-length arrays (ADVICE r9).
    val cds = encodeWith(q8, flatCodebook(codebookFrom(q8)))
      .where(col("code") >= 0)
    val pairs = cds.as("a")
      .join(cds.as("b"),
        col("a.j") === col("b.j") && col("a.code") === col("b.code") &&
          col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    val base = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    pairs
      .join(base.select(col("vec_id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(base.select(col("vec_id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("sim", cosine(col("v_a"), col("v_b")))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("sim"), 6).as("sim_r"))
      .orderBy("id_a", "id_b")
  }

  /** Per-subspace codebook health: how many codewords the encoding
    * actually uses and how skewed the most popular one is — the index
    * dashboard that catches a degenerate codebook (few codes used → the
    * subspace quantizes everything onto a point and ADC loses all
    * discrimination there). One skinny (j, code) aggregate. */
  def codeStats(embeddings: DataFrame): DataFrame =
    codes(embeddings)
      .groupBy("j", "code")
      .agg(count(lit(1)).as("pop"))
      .groupBy("j")
      .agg(
        count(lit(1)).as("n_codes_used"),
        sum("pop").as("n_vecs"),
        max("pop").as("max_code_pop"))
      .withColumn("max_share_r",
        round(col("max_code_pop").cast("double") / col("n_vecs"), 6))
      .orderBy("j")

  /** Recall@k of the raw ADC ranking vs the exact float top-k — the
    * honest price of 32× compression, deterministic on both sides (same
    * contract as [[Similarity.quantizeRecall]] / binaryRecall), so the
    * compression-vs-recall ladder float→int8→PQ→binary is measured, not
    * asserted. */
  def adcRecall(
      embeddings: DataFrame,
      numQueries: Int,
      k: Int): DataFrame = {
    val exact = Similarity.cosineTopK(embeddings, numQueries, k)
      .select(col("q_id"), col("neighbor_id"))
    val approx = adcTopK(embeddings, numQueries, k)
      .select(col("q_id").as("aq"), col("neighbor_id").as("approx_id"))
    exact
      .join(approx,
        exact("q_id") === col("aq") && col("neighbor_id") === col("approx_id"),
        "left")
      .groupBy(exact("q_id").as("qid"))
      .agg(round(count(col("approx_id")).cast("double") / k, 6).as("recall_r"))
      .orderBy("qid")
  }
}
