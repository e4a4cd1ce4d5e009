package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Domain-mixture allocation for training-corpus assembly: decide how much
  * each source contributes to a fixed budget (documents or tokens), then
  * materialize exactly that sample — the operation every multi-domain
  * pretraining run performs before packing (reference: the per-table
  * fan-in of codeshardlabs/user-feed-cdc's pipeline consumes whatever
  * arrives; a training pipeline must instead RATION sources against a
  * budget).
  *
  * Weights follow temperature sampling at τ = 2 (the multilingual-corpus
  * standard, e.g. mT5): `w_i ∝ √n_i`, which up-weights rare domains
  * relative to proportional sampling without letting any domain dominate.
  * Seats are assigned by the largest-remainder (Hamilton) method, so
  * `Σ alloc_i = budget` EXACTLY and every `alloc_i` is `base_i` or
  * `base_i + 1` — no float apportionment drift. Because up-weighting can
  * hand a rare source more seats than it has items, the allocation also
  * reports `granted = least(alloc, n_i)` — the seats the source can
  * actually FILL; the sample queries materialize `granted`, and under
  * extreme skew `Σ granted < budget` is visible in the allocation table
  * rather than a silent sample shortfall.
  *
  * Determinism contract (cross-engine): `sqrt` is IEEE-754
  * correctly-rounded in both the JVM and DuckDB — unlike `ln` — so
  * `floor(sqrt(n)·10⁶)` is bit-identical; all seat arithmetic is integer
  * (Spark DECIMAL(38,0) with `div`, DuckDB HUGEINT with `//`), and
  * remainder ties break by source name. Nothing in the allocation can
  * float-diverge.
  *
  * Scale: the corpus-sized work is one per-source aggregate (and, for
  * the samples, one range-partitioned prefix sum); the seat math runs on
  * |sources| rows (bounded by design — domains number in the dozens)
  * and DECIMAL(38,0) holds `budget × weight` up to ~10³⁸, far past any
  * real corpus. Per-source ranks come from
  * [[Packing.withGlobalOffsetBy]] over the COMPOSITE key
  * `(source, …)` — tuple-wise ordering, immune to separator characters
  * in source names — plus a |sources|-row broadcast of first positions,
  * NOT a per-source window: a per-source `row_number` would sort each
  * domain in one task, which dies exactly when one domain is 100 TB.
  */
object Mixture {

  /** Largest-remainder seat assignment over a per-source size frame
    * `(source, <nCol>)`: √-temperature weights, `total div 2`
    * budget, all-integer math. Shared by the doc-count and token-count
    * allocations. */
  private def allocateSeats(counts: DataFrame, nCol: String): DataFrame = {
    val weighted = counts.withColumn(
      "weight", floor(sqrt(col(nCol).cast("double")) * lit(1e6)).cast("long"))
    val totals = weighted.agg(
      sum(col(nCol)).as("total"), sum(col("weight")).as("w_sum"))
    // all-integer seat math: prod/base/rem are exact in DECIMAL(38,0)
    val seats = weighted.crossJoin(broadcast(totals))
      .withColumn("budget", expr("total div 2"))
      .withColumn("prod",
        col("budget").cast("decimal(38,0)") * col("weight").cast("decimal(38,0)"))
      .withColumn("base", expr("prod div cast(w_sum as decimal(38,0))"))
      .withColumn("rem",
        (col("prod") - col("base").cast("decimal(38,0)") *
          col("w_sum").cast("decimal(38,0)")).cast("long"))
    val leftover = seats.agg(
      (min(col("budget")) - sum(col("base"))).as("leftover"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    // the global window runs over |sources| rows — bounded, not data-sized
    seats.crossJoin(broadcast(leftover))
      .withColumn("rn", row_number().over(w))
      .withColumn("alloc",
        col("base") + when(col("rn") <= col("leftover"), 1L).otherwise(0L))
      .select(col("source"), col(nCol), col("weight"), col("alloc"),
        least(col("alloc"), col(nCol)).as("granted"))
      .orderBy("source")
  }

  /** 1-based within-source rank (or running `valueCol` prefix when it is
    * not the constant 1) in ascending `orderCols` order, via ONE
    * range-partitioned global prefix sum plus a |sources|-row broadcast
    * of each source's first global position. `orderCols` must lead with
    * `source` so each source's rows are contiguous in the total order. */
  private def perSourcePrefix(
      df: DataFrame, orderCols: Seq[String], valueCol: String,
      outCol: String): DataFrame = {
    val pos = Packing.withGlobalOffsetBy(df, orderCols, valueCol, "__pos")
    val firsts = pos.groupBy("source").agg(min(col("__pos")).as("__first"))
    pos.join(broadcast(firsts), Seq("source"))
      .withColumn(outCol, col("__pos") - col("__first"))
      .drop("__pos", "__first")
  }

  /** Per-source seat counts for `total div 2` documents:
    * `(source, n_docs, weight, alloc, granted)` with `Σ alloc = budget`
    * and `granted = least(alloc, n_docs)`. */
  def allocation(docs: DataFrame): DataFrame =
    allocateSeats(
      docs.groupBy("source").agg(count(lit(1)).as("n_docs")),
      "n_docs")

  /** The token-budget twin of [[allocation]]: seats are TOKENS, the unit
    * a pretraining run actually budgets. `(source, n_tokens, weight,
    * alloc, granted)` with `Σ alloc = total_tokens div 2`
    * exactly; weights are √-temperature over per-source token mass. */
  def allocationTokens(docs: DataFrame): DataFrame =
    allocateSeats(tokenCounts(docs)
      .groupBy("source").agg(sum(col("n_tok")).as("n_tokens")),
      "n_tokens")

  /** One tokenize pass shared by the token allocation and sample. */
  private def tokenCounts(docs: DataFrame): DataFrame =
    // r19: single-split docs fixture - tokenize on all cores
    TextOps.scanParallel(docs).select(col("doc_id"), col("source"),
      size(TextOps.wsTokens(lower(col("text")))).cast("long").as("n_tok"))

  /** Materialized sample: the first `granted_i` documents of each source
    * in doc_id order — `(doc_id, source, rk)` with `rk` the 1-based
    * within-source rank. Deterministic (doc_id order, exact seat
    * counts), so the whole sample carries a full oracle; its size is
    * `Σ granted` (= budget unless a source cannot fill its seats —
    * see [[allocation]]). */
  def sample(docs: DataFrame): DataFrame = {
    val alloc = allocation(docs).select(col("source"), col("granted"))
    val keyed = docs.select(col("doc_id"), col("source"))
      .withColumn("__one", lit(1L))
    perSourcePrefix(keyed, Seq("source", "doc_id"), "__one", "__pfx")
      .withColumn("rk", col("__pfx") + lit(1L))
      .join(broadcast(alloc), Seq("source"))
      .where(col("rk") <= col("granted"))
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy("doc_id")
  }

  /** Materialized token-budget sample: each source contributes its
    * doc_id-order prefix of documents until its granted token seats
    * ([[allocationTokens]]) are covered — a document whose EXCLUSIVE
    * token prefix is still below the grant is kept, so the boundary
    * document straddles the budget (the same straddle convention as
    * [[Packing.packWindows]]). `(doc_id, source, n_tok, tok_pfx)`, all
    * exact integers.
    *
    * Scale: identical machinery to [[sample]], but the prefix sum runs
    * over REAL token counts instead of ones — still one
    * range-partitioned pass and two |sources|-row broadcasts, and the
    * corpus is tokenized once (the allocation aggregates the same
    * per-doc counts frame the prefix sum consumes). */
  def sampleTokens(docs: DataFrame): DataFrame =
    sampleTokensCounted(tokenCounts(docs))
      .select(col("doc_id"), col("source"), col("n_tok"), col("tok_pfx"))
      .orderBy("doc_id")

  /** The reusable core of [[sampleTokens]] over an ALREADY-COUNTED frame
    * `(doc_id, source, n_tok, …extras)`: allocate token seats over the
    * frame's own per-source mass, then keep each source's doc_id-order
    * prefix while the EXCLUSIVE token prefix is below the grant (the
    * straddle convention). Keeps every input column, adds `tok_pfx` and
    * `granted`. Composed by
    * [[graft.streaming.CorpusIngest.cleanBatchBudget]], where the
    * counts come from the gated corpus rather than raw documents. */
  def sampleTokensCounted(perDoc: DataFrame): DataFrame = {
    // NOT fenced here (r19 optimization round, measured): the common
    // callers hand a cheap tokenize frame - a fence cost more in
    // barrier jobs than the duplicate scan (mixture_sample_tokens
    // 1.29->1.60 s, training_order_runs 2.74->3.52 s with the fence).
    // Callers with an EXPENSIVE upstream (cleanBatchBudget's full gate
    // chain) fence before calling.
    val alloc = allocateSeats(
      perDoc.groupBy("source").agg(sum(col("n_tok")).as("n_tokens")),
      "n_tokens")
      .select(col("source"), col("granted"))
    perSourcePrefix(perDoc, Seq("source", "doc_id"), "n_tok", "tok_pfx")
      .join(broadcast(alloc), Seq("source"))
      .where(col("tok_pfx") < col("granted"))
  }

  /** The end-to-end corpus-assembly composition: ration sources against
    * the token budget ([[sampleTokens]]), then pack the selected
    * documents into fixed-size context windows
    * ([[Packing.packWindowsCounted]]) — sample → pack is exactly the
    * assembly step between "cleaned corpus" and "training batches".
    * The sample already carries each doc's token count, so packing
    * adds no extra tokenize pass. */
  def samplePacked(docs: DataFrame): DataFrame =
    Packing.packWindowsCounted(
      sampleTokens(docs).select(col("doc_id"), col("n_tok")))

  /** Data-constrained repetition allocation (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models": repeating data up to
    * ~4 epochs is nearly as good as fresh data; beyond that returns
    * decay): apportion a token budget across sources by √-temperature
    * weight, but CAP each source at `maxEpochs` passes over its unique
    * mass and re-distribute what the capped sources cannot absorb to
    * the uncapped ones — exact water-filling, the allocation a
    * data-constrained pretraining run computes when the budget EXCEEDS
    * some sources' unique tokens (the up-weighted rare domains repeat;
    * the capped ones release their excess).
    *
    * Algorithm (all |sources|-row math): sort sources by saturation
    * point `cap/weight` ascending — the order in which they hit their
    * caps as the water level rises; the saturated set is always a
    * PREFIX of this order. A source `j` saturates iff the budget left
    * after filling the caps before it cannot cover `cap_j` at `j`'s
    * weight share: `(B − C_{j−1})·w_j ≥ cap_j·(W_tot − W_{j−1})`, all
    * exact DECIMAL(38,0) products (budget × weight ≤ 10³⁸ far past any
    * real corpus). Unsaturated sources split the residual budget by
    * largest remainder (the [[allocateSeats]] discipline), so
    * `Σ alloc = B` exactly whenever `B ≤ Σ cap` — and when the budget
    * exceeds even `maxEpochs` passes over everything, every source
    * saturates and the shortfall `B − Σ cap` is VISIBLE in the table
    * rather than silently absorbed.
    *
    * Output: `(source, n_tokens, weight, cap, alloc, epochs_r,
    * saturated)` with `epochs_r = round(alloc/n_tokens, 6)` — > 1 means
    * the source repeats.
    *
    * Determinism: the sort key `cap/weight` is one IEEE division both
    * engines round identically; everything else is integer. */
  def allocationEpochs(
      docs: DataFrame, budgetDenom: Int = 1, maxEpochs: Int = 4): DataFrame = {
    require(budgetDenom >= 1, "budgetDenom must be >= 1")
    require(maxEpochs >= 1, "maxEpochs must be >= 1")
    val weighted = tokenCounts(docs)
      .groupBy("source").agg(sum(col("n_tok")).as("n_tokens"))
      .withColumn("weight",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1e6)).cast("long"))
      .withColumn("cap", col("n_tokens") * lit(maxEpochs.toLong))
    val totals = weighted.agg(
      sum(col("n_tokens")).as("total"), sum(col("weight")).as("w_sum"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    // the water-filling order; every window below runs over |sources| rows
    val ord = org.apache.spark.sql.expressions.Window
      .orderBy((col("cap").cast("double") / col("weight")).asc, col("source"))
    val pfx = ord.rowsBetween(org.apache.spark.sql.expressions.Window
      .unboundedPreceding, -1)
    val marked = weighted.crossJoin(broadcast(totals))
      .withColumn("budget", expr(s"total div $budgetDenom"))
      .withColumn("c_prev", coalesce(sum(col("cap")).over(pfx), lit(0L)))
      .withColumn("w_prev", coalesce(sum(col("weight")).over(pfx), lit(0L)))
      .withColumn("saturated",
        (dec(col("budget")) - dec(col("c_prev"))) * dec(col("weight")) >=
          dec(col("cap")) * (dec(col("w_sum")) - dec(col("w_prev"))))
    val residual = marked.agg(
      (min(col("budget")) -
        sum(when(col("saturated"), col("cap")).otherwise(0L))).as("resid"),
      sum(when(col("saturated"), 0L).otherwise(col("weight"))).as("w_unsat"))
    // largest-remainder split of the residual among the unsaturated
    val seats = marked.crossJoin(broadcast(residual))
      .withColumn("prod",
        when(col("saturated"), lit(null))
          .otherwise(dec(col("resid")) * dec(col("weight"))))
      .withColumn("base",
        when(col("saturated"), col("cap"))
          .otherwise(expr("cast(prod div cast(w_unsat as decimal(38,0)) as bigint)")))
      .withColumn("rem",
        when(col("saturated"), lit(-1L))
          .otherwise((col("prod") - dec(col("base")) * dec(col("w_unsat")))
            .cast("long")))
    val leftover = seats.agg(
      (min(col("resid")) -
        sum(when(col("saturated"), 0L).otherwise(col("base")))).as("leftover"))
    val rw = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    seats.crossJoin(broadcast(leftover))
      .withColumn("rn", row_number().over(rw))
      .withColumn("alloc",
        col("base") + when(!col("saturated") && col("rn") <= col("leftover"),
          1L).otherwise(0L))
      .select(col("source"), col("n_tokens"), col("weight"), col("cap"),
        col("alloc"),
        round(col("alloc").cast("double") / col("n_tokens"), 6).as("epochs_r"),
        col("saturated"))
      .orderBy("source")
  }

  /** Deterministic sharded training order — the shuffle between "packed
    * sample" and "what the trainer reads": each sampled document lands
    * in a shard (`pmod` of a salted-md5 hash) at a pseudo-random but
    * fully reproducible position, so every rank of a 1000-GPU job can
    * open its shard and stream documents in a fixed order that
    * interleaves sources (a crawl's per-domain runs would otherwise
    * serialize gradient exposure). Membership and order are pure
    * functions of the data — the [[split]] md5 discipline — so a re-run
    * or re-partition cannot reorder a shard.
    *
    * Output: `(doc_id, source, shard, pos)` with `pos` 0-based within
    * shard, ordered by the hash. The 8 shards are the output files — at
    * 100 TB thousands, each loader-window-sized; positions come from
    * ONE range-partitioned prefix sum over `(shard, hash)` plus a
    * |shards|-row broadcast of first positions, NOT a per-shard window
    * (the per-source-sort trap, avoided the [[sample]] way). */
  /** Length-based curriculum ordering — Bengio et al. 2009's
    * easy-to-hard schedule in its most widely deployed deterministic
    * form (short sequences first, also the warm-up ordering that
    * stabilizes early training under packed batching): every document
    * ranked by (n_tokens asc, doc_id) and cut into fixed-size training
    * batches. The complement of [[trainingOrder]]'s decorrelating
    * shuffle: that op destroys ordering structure, this one imposes a
    * specific curriculum structure — a pipeline typically applies the
    * curriculum across epochs 0–1 and switches to the shuffle after.
    *
    * Scale: the global ordinal is a range-partitioned prefix COUNT
    * ([[Packing.withGlobalOffsetBy]]) — no single-partition window at
    * any corpus size; batch assignment is integer div/mod on the
    * ordinal, exact in both engines. */
  def curriculumOrder(docs: DataFrame, batchSize: Int = 32): DataFrame = {
    require(batchSize >= 1, "batchSize must be >= 1")
    val counted = TextOps.scanParallel(docs).select(
        col("doc_id"),
        size(TextOps.wsTokens(lower(col("text")))).cast("long").as("n_tokens"))
      .withColumn("__one", lit(1L))
    Packing.withGlobalOffsetBy(
        counted, Seq("n_tokens", "doc_id"), "__one", "__ord")
      .select(col("doc_id"), col("n_tokens"),
        expr(s"__ord div $batchSize").as("batch_id"),
        pmod(col("__ord"), lit(batchSize.toLong)).as("pos"))
      .orderBy("batch_id", "pos")
  }

  def trainingOrder(docs: DataFrame): DataFrame = {
    val keyed = sampleTokens(docs)
      .select(col("doc_id"), col("source"))
      .withColumn("__h",
        md5(concat(col("doc_id").cast("string"), lit(":order"))))
      .withColumn("shard",
        pmod(conv(substring(col("__h"), 1, 8), 16, 10).cast("long"),
          lit(8L)))
      .withColumn("__one", lit(1L))
    val pos = Packing.withGlobalOffsetBy(
      keyed, Seq("shard", "__h", "doc_id"), "__one", "__pos")
    val firsts = pos.groupBy("shard").agg(min(col("__pos")).as("__first"))
    pos.join(broadcast(firsts), Seq("shard"))
      .select(col("doc_id"), col("source"), col("shard"),
        (col("__pos") - col("__first")).as("pos"))
      .orderBy("shard", "pos")
  }

  /** Interleave audit of [[trainingOrder]]: per shard, the longest
    * consecutive same-source run, the run count, and the document
    * count — the dashboard that catches a broken shuffle (one domain
    * streaming back-to-back into a trainer). Runs come from the
    * gaps-and-islands identity `pos − rank-within-(shard, source)`:
    * both ranks are prefix sums over the SAME hash order, so
    * consecutive same-source docs share a group id. No data-sized
    * window: the second rank is another range-partitioned prefix sum,
    * and the aggregates are run-keyed. */
  def trainingOrderRuns(docs: DataFrame): DataFrame = {
    val ordered = trainingOrder(docs)
      .withColumn("__h",
        md5(concat(col("doc_id").cast("string"), lit(":order"))))
      .withColumn("__one", lit(1L))
    val ssPos = Packing.withGlobalOffsetBy(
      ordered, Seq("shard", "source", "__h", "doc_id"), "__one", "__sspos")
    val ssFirsts = ssPos.groupBy("shard", "source")
      .agg(min(col("__sspos")).as("__ssfirst"))
    ssPos.join(broadcast(ssFirsts), Seq("shard", "source"))
      .withColumn("grp", col("pos") - (col("__sspos") - col("__ssfirst")))
      .groupBy(col("shard"), col("source"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("shard"))
      .agg(max(col("run_len")).as("max_run"),
        count(lit(1)).as("n_runs"),
        sum(col("run_len")).as("n_docs"))
      .orderBy("shard")
  }

  /** Deterministic stratified train/validation/test split with EXACT
    * per-source counts: each source contributes `n div 10` test and
    * `n div 10` validation documents, remainder train — unlike
    * `randomSplit` or the hash-threshold
    * [[TextAnalysis.trainValSplit]], which are proportional only in
    * expectation (and unstratified: a small source can land entirely
    * in one split). Docs are ordered within source by the md5 of a
    * salted doc_id (a deterministic pseudo-random permutation both
    * engines compute byte-identically), so membership is a pure
    * function of the data: re-running, re-partitioning, or re-scaling
    * the cluster cannot move a document across splits.
    *
    * Output: `(doc_id, source, split)`. Same rank machinery as
    * [[sample]] — one range-partitioned prefix sum over the composite
    * `(source, hash, doc_id)` key, no per-source sort task. */
  def split(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("test_n", expr("n_docs div 10"))
      .withColumn("val_n", expr("n_docs div 10"))
      .select(col("source"), col("test_n"), col("val_n"))
    val keyed = docs.select(col("doc_id"), col("source"))
      .withColumn("__h", md5(concat(col("doc_id").cast("string"), lit(":split"))))
      .withColumn("__one", lit(1L))
    perSourcePrefix(keyed, Seq("source", "__h", "doc_id"), "__one", "__pfx")
      .withColumn("rk", col("__pfx") + lit(1L))
      .join(broadcast(counts), Seq("source"))
      .select(col("doc_id"), col("source"),
        when(col("rk") <= col("test_n"), "test")
          .when(col("rk") <= col("test_n") + col("val_n"), "validation")
          .otherwise("train").as("split"))
      .orderBy("doc_id")
  }
}
