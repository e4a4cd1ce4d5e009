package graft.streaming

import graft.ext.{TextAnalysis, TextOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming corpus ingestion — the continuous half of the training-data
  * pipeline: documents arrive as a stream and pass, in order, a quality
  * gate, online exact dedup, and a decontamination filter, producing the
  * clean stream a downstream tokenizer/packer consumes. The same gate
  * composition is registered as the batch query `corpus_clean` with a full
  * DuckDB oracle, so the streaming plan's semantics are pinned by the
  * batch twin (the SURVEY §2.9 pattern the CDC tier already follows).
  *
  * Stage order is the scale order:
  *  1. quality gate — a pure expression filter at scan speed; rejected
  *     docs never enter dedup STATE (the expensive resource in a stream);
  *  2. online exact dedup — `dropDuplicatesWithinWatermark` on the
  *     content fingerprint: state is bounded by the watermark horizon,
  *     and replayed deliveries (at-least-once sources) collapse to one —
  *     the same effectively-once upgrade [[StreamingIngest]] proves for
  *     the CDC tier;
  *  3. decontamination — stream-static LEFT ANTI join against the probe
  *     (benchmark) fingerprint set; the static side is tiny by definition
  *     and broadcasts, so the stream never shuffles.
  *
  * At 100 TB/day the three stages remain one narrow pipeline: no stage
  * shuffles the stream except dedup's keyed state store, which partitions
  * by fingerprint — even load by construction (md5). */
object CorpusIngest {

  /** The quality floor every gate applies, the probe slice
    * (doc_id % 50 == 0) the batch gates decontaminate against, and the
    * streaming dedup horizon. */
  private val qualityFloor = 0.3
  private val probeSlice = 50
  private val dedupHorizon = "1 hour"

  /** Content fingerprint — identical bytes to the batch
    * [[TextAnalysis.contamination]] key, so batch and stream agree on
    * what "duplicate" and "contaminated" mean. */
  def fingerprint = md5(TextOps.normText(col("text")))

  /** The clean-corpus stream. `docs` must carry
    * (doc_id, text, source, event_ts: timestamp); `probeFps` is a STATIC
    * frame of benchmark fingerprints (`fp: string`). Docs whose
    * fingerprint appears in the probe set are dropped entirely — a
    * benchmark document itself must not survive into training data, so
    * unlike the reporting-oriented [[TextAnalysis.contamination]] there
    * is no self-exclusion.
    *
    * `keepText = true` appends the document text to the output — the
    * TRAINING-SHARD form a [[graft.sinks.CorpusSink]] table should land
    * so a tokenizer/packer can read shards directly; the default skinny
    * form is the cleaned-corpus MANIFEST (ids + fingerprints + quality)
    * the batch twin `corpus_clean` oracles. */
  def cleanStream(
      docs: DataFrame,
      probeFps: DataFrame,
      keepText: Boolean = false): DataFrame = {
    val outCols = Seq(col("doc_id"), col("source"), col("fp"),
      round(col("quality"), 6).as("quality_r"), col("event_ts")) ++
      (if (keepText) Seq(col("text")) else Nil)
    TextAnalysis.withQuality(
      // Per-stage observe() metrics (the A2 pattern, ActivitySink): one
      // CollectMetrics count after each gate, surfaced per micro-batch in
      // StreamingQueryProgress.observedMetrics. Stage drops are the
      // differences: quality_rejected = docs_in − quality_passed,
      // dup_dropped = quality_passed − dedup_survivors, contaminated =
      // dedup_survivors − docs_out. This is the operational surface a
      // 100 TB/day ingest is run by — a silent gate is an outage you
      // discover from the training loss.
      docs.observe("graft_corpus_in", count(lit(1)).as("docs_in")))
      .where(col("quality") >= qualityFloor)
      .observe("graft_corpus_quality", count(lit(1)).as("quality_passed"))
      .withColumn("fp", fingerprint)
      .withWatermark("event_ts", dedupHorizon)
      .dropDuplicatesWithinWatermark("fp")
      .observe("graft_corpus_dedup", count(lit(1)).as("dedup_survivors"))
      .join(broadcast(probeFps.select("fp")), Seq("fp"), "left_anti")
      .observe("graft_corpus_out", count(lit(1)).as("docs_out"))
      .select(outCols: _*)
  }

  /** [[cleanStream]]'s training-shard form with PII REDACTED at the
    * output projection: the landed text substitutes emails/IPs/phones
    * ([[TextAnalysis.piiRedacted]]) while the fingerprint — and
    * therefore dedup and decontamination — still keys on the RAW bytes,
    * so the stream stays semantically identical to the `corpus_clean`
    * batch twin and two docs differing only inside a redacted span
    * remain distinct. A per-batch `pii_docs` observe() metric counts
    * how many landed docs carried any PII — the redaction dashboard
    * next to the stage-drop counts. */
  def cleanStreamRedacted(
      docs: DataFrame,
      probeFps: DataFrame): DataFrame =
    TextAnalysis.withQuality(
      docs.observe("graft_corpus_in", count(lit(1)).as("docs_in")))
      .where(col("quality") >= qualityFloor)
      .observe("graft_corpus_quality", count(lit(1)).as("quality_passed"))
      .withColumn("fp", fingerprint)
      .withColumn("n_pii", TextAnalysis.piiCount(col("text")))
      .withWatermark("event_ts", dedupHorizon)
      .dropDuplicatesWithinWatermark("fp")
      .observe("graft_corpus_dedup", count(lit(1)).as("dedup_survivors"))
      .join(broadcast(probeFps.select("fp")), Seq("fp"), "left_anti")
      .observe("graft_corpus_pii",
        count(lit(1)).as("docs_out"),
        sum(when(col("n_pii") > 0, 1L).otherwise(0L)).as("pii_docs"))
      .select(col("doc_id"), col("source"), col("fp"),
        round(col("quality"), 6).as("quality_r"), col("event_ts"),
        col("n_pii"), TextAnalysis.piiRedacted(col("text")).as("text"))

  /** Axis-hyperplane sign pattern of an embedding — the coarse LSH cell
    * (each coordinate axis is a hyperplane; the sign vector IS the
    * SimHash of the embedding under those planes), encoded as a '0'/'1'
    * string so both engines key on identical values. Near-identical
    * embeddings (paraphrases under a reasonable encoder) agree on almost
    * every sign, and exactly-regenerated ones agree on all — the
    * deterministic, state-store-friendly key a streaming tier needs
    * (declared-approximate vs. the batch tier's threshold-verified
    * [[graft.ext.Dedup]] pipelines: a paraphrase that flips a
    * near-zero coordinate lands in a neighboring cell and is missed). */
  // NaN pinned to '0' explicitly: Spark's `NaN > 0` is false but
  // DuckDB's CASE WHEN x > 0 is TRUE for NaN (NaN sorts greatest), so
  // without the guard a broken-encoder embedding would land in
  // different sign-cells in the two engines
  def signPattern(emb: Column): Column =
    array_join(
      transform(emb, x => when(!isnan(x) && x > 0, "1").otherwise("0")), "")

  /** [[cleanStream]] + a semantic stage: after exact-fingerprint dedup,
    * drop docs whose embedding sign-cell was already seen inside the
    * watermark horizon — the streaming counterpart of the batch tier's
    * SemDeDup pipeline, with the same bounded-state discipline (two
    * chained `dropDuplicatesWithinWatermark` state stores, each keyed by
    * an even-load hash-like key). `docs` must additionally carry
    * `embedding: array<float>`. */
  def cleanStreamSemantic(
      docs: DataFrame,
      probeFps: DataFrame): DataFrame =
    TextAnalysis.withQuality(
      docs.observe("graft_corpus_in", count(lit(1)).as("docs_in")))
      .where(col("quality") >= qualityFloor)
      .observe("graft_corpus_quality", count(lit(1)).as("quality_passed"))
      .withColumn("fp", fingerprint)
      .withColumn("sem_fp", signPattern(col("embedding")))
      .withWatermark("event_ts", dedupHorizon)
      .dropDuplicatesWithinWatermark("fp")
      .observe("graft_corpus_dedup", count(lit(1)).as("dedup_survivors"))
      .dropDuplicatesWithinWatermark("sem_fp")
      .observe("graft_corpus_sem", count(lit(1)).as("sem_survivors"))
      .join(broadcast(probeFps.select("fp")), Seq("fp"), "left_anti")
      .observe("graft_corpus_out", count(lit(1)).as("docs_out"))
      .select(col("doc_id"), col("source"), col("fp"),
        round(col("quality"), 6).as("quality_r"), col("event_ts"))

  /** Schema of a scored stream row ([[cleanStreamLm]]'s mapPartitions
    * pass); `quality` rides through the typed map so the gate computes
    * it exactly once. */
  private[streaming] final case class ScoredDoc(
      doc_id: Long, text: String, source: String,
      event_ts: java.sql.Timestamp, quality: Double,
      nll_nano: Long, n_toks: Int)

  /** [[cleanStream]] + a model-based gate under a FIXED trained LM — the
    * deployable streaming form of the perplexity stage: the top-K
    * nano-nat model ([[graft.ext.Lm.nanoModel]], trained offline on a
    * reference corpus) ships as a Spark broadcast and scores inside one
    * STATELESS mapPartitions pass (O(1) hash lookups per token — a map
    * literal would scan linearly per token, and a per-token join would
    * need a windowed stateful re-aggregation). Integer nano-nat sums
    * make the stream's scores bit-identical to the batch twin's
    * join-based scores, so the gate decisions cannot drift between the
    * tiers. Docs with avg NLL above `nllCutoff` are dropped after the
    * quality gate, before dedup state. */
  def cleanStreamLm(
      docs: DataFrame,
      probeFps: DataFrame,
      model: Map[String, Long],
      unkLpn: Long,
      nllCutoff: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    // quality gate FIRST: Catalyst cannot push a Column filter through
    // the opaque typed map, and the quality floor exists precisely
    // because much of the firehose fails it — junk must not pay
    // per-token scoring. quality rides through the map so it is
    // computed exactly once.
    val scored = TextAnalysis.withQuality(docs)
      .select(col("doc_id"), col("text"), col("source"), col("event_ts"),
        col("quality"))
      .observe("graft_corpus_lm_in", count(lit(1)).as("docs_in"))
      .where(col("quality") >= qualityFloor)
      .as[(Long, String, String, java.sql.Timestamp, Double)]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (id, text, src, ts, q) =>
          val (s, n) = graft.ext.Lm.scoreRow(text, m, unkLpn)
          ScoredDoc(id, text, src, ts, q, s, math.max(n, 1))
        }
      }
      .toDF()
    scored
      .withColumn("avg_nll",
        -(col("nll_nano").cast("double") / 1e9) / col("n_toks"))
      .where(col("avg_nll") <= nllCutoff)
      .observe("graft_corpus_lm_passed", count(lit(1)).as("lm_passed"))
      .withColumn("fp", fingerprint)
      .withWatermark("event_ts", dedupHorizon)
      .dropDuplicatesWithinWatermark("fp")
      .join(broadcast(probeFps.select("fp")), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("source"), col("fp"),
        round(col("quality"), 6).as("quality_r"),
        round(col("avg_nll"), 6).as("avg_nll_r"), col("event_ts"))
  }

  /** [[cleanStream]] + a DSIR selection gate under a FIXED trained
    * importance-ratio model ([[graft.ext.Dsir.nanoRatioModel]] — the
    * deployable "make the firehose look like the target slice" filter,
    * Xie et al. 2023): per-doc average nano-nat importance ratio scored
    * row-local via the broadcast vocab ([[graft.ext.Lm.scoreRow]] — the
    * SAME tokenizer/integer-sum seam the LM gate uses, so the documented
    * bit-identical stream/batch contract carries over verbatim), gated at
    * `logwCutoff` (set OFFLINE from the batch twin's percentile — a
    * stream cannot know its own quantiles), then exact-fp dedup within
    * the watermark and decontamination. Docs scoring ABOVE the cutoff
    * pass: DSIR keeps what looks like the target. */
  def cleanStreamDsir(
      docs: DataFrame,
      probeFps: DataFrame,
      model: Map[String, Long],
      unkRn: Long,
      logwCutoff: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    // quality gate FIRST (the cleanStreamLm rationale: junk must not pay
    // per-token scoring, and the filter cannot push through a typed map)
    val scored = TextAnalysis.withQuality(docs)
      .select(col("doc_id"), col("text"), col("source"), col("event_ts"),
        col("quality"))
      .observe("graft_corpus_dsir_in", count(lit(1)).as("docs_in"))
      .where(col("quality") >= qualityFloor)
      .as[(Long, String, String, java.sql.Timestamp, Double)]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (id, text, src, ts, q) =>
          // ScoredDoc.nll_nano carries the importance-ratio nano sum here
          val (s, n) = graft.ext.Lm.scoreRow(text, m, unkRn)
          ScoredDoc(id, text, src, ts, q, s, math.max(n, 1))
        }
      }
      .toDF()
    scored
      .withColumn("avg_logw",
        (col("nll_nano").cast("double") / 1e9) / col("n_toks"))
      .where(col("avg_logw") >= logwCutoff)
      .observe("graft_corpus_dsir_passed", count(lit(1)).as("dsir_passed"))
      .withColumn("fp", fingerprint)
      .withWatermark("event_ts", dedupHorizon)
      .dropDuplicatesWithinWatermark("fp")
      .join(broadcast(probeFps.select("fp")), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("source"), col("fp"),
        round(col("quality"), 6).as("quality_r"),
        round(col("avg_logw"), 6).as("avg_logw_r"), col("event_ts"))
  }

  /** The shared batch gate chain every `cleanBatch*` variant runs:
    * quality floor → `stage` (the variant's scoring/keying addition) →
    * exact-fp "first doc_id wins" → `afterDedup` (the variant's
    * post-dedup stage) → decontamination anti-join → canonical output
    * columns (+ the variant's extras). One definition, so the dedup
    * tie-break, probe derivation and join shapes cannot drift between
    * the four variants. */
  private def corpusGate(
      input: DataFrame,
      probeDocs: DataFrame,
      probeModulus: Int,
      stage: DataFrame => DataFrame = identity,
      afterDedup: DataFrame => DataFrame = identity,
      extraOut: Seq[Column] = Nil): DataFrame = {
    val probeFps = probeDocs
      .where(pmod(col("doc_id"), lit(probeModulus)) === 0)
      .select(fingerprint.as("fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    afterDedup(
      stage(TextAnalysis.withQuality(input)
        .where(col("quality") >= qualityFloor))
        .withColumn("fp", fingerprint)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1))
      .join(broadcast(probeFps), Seq("fp"), "left_anti")
      .select(Seq(col("doc_id"), col("source"), col("fp"),
        round(col("quality"), 6).as("quality_r")) ++ extraOut: _*)
      .orderBy("doc_id")
  }

  /** Batch twin of [[cleanStreamLm]], self-contained over the fixture:
    * trains the top-K model on the corpus in-plan, scores by join
    * ([[graft.ext.Lm.nanoScores]] — exactly the stream's integer
    * arithmetic), gates at the corpus's 90th NLL percentile,
    * then fp-dedup + decontamination. Fully oracle-able. */
  def cleanBatchLm(docs: DataFrame): DataFrame = {
    // fence the LM scores (r19 optimization): consumed by BOTH the
    // percentile cut and the gate join - un-fenced, the tokenize +
    // vocab + scoring subtree executed twice (guide §2.4)
    val scores = graft.ext.Lm.nanoScores(docs)
      .select(col("doc_id"), col("avg_nll_r"))
      .localCheckpoint(false)
    val cut = scores.agg(
      expr("percentile(avg_nll_r, 0.9)").as("cut"))
    corpusGate(docs, docs, probeSlice,
      stage = _.join(scores, "doc_id")
        .crossJoin(broadcast(cut))
        .where(col("avg_nll_r") <= col("cut")),
      extraOut = Seq(col("avg_nll_r")))
  }

  /** [[cleanBatch]] + a model-based gate: drop the worst 10%
    * tail of the corpus by unigram-LM average negative log-likelihood
    * ([[graft.ext.Lm.perplexity]]) — the CCNet-style stage that catches
    * gibberish the surface heuristics pass. The cutoff is the corpus's
    * own 90th percentile (self-calibrating, like
    * `quality_adaptive_keep`'s per-language median), computed exactly
    * here for the oracle; at 100 TB the one corpus-wide exact percentile
    * swaps for `approx_percentile` (the `q_price_quantiles_approx`
    * pattern) — the rest of the plan is unchanged. */
  def cleanBatchPerplexity(docs: DataFrame): DataFrame = {
    // same fence rationale as cleanBatchLm (r19 optimization)
    val ppl = graft.ext.Lm.perplexity(docs)
      .select(col("doc_id"), col("avg_nll_r"), col("ppl_r"))
      .localCheckpoint(false)
    val cut = ppl.agg(expr("percentile(avg_nll_r, 0.9)").as("cut"))
    corpusGate(docs, docs, probeSlice,
      stage = _.join(ppl, "doc_id")
        .crossJoin(broadcast(cut))
        .where(col("avg_nll_r") <= col("cut")),
      extraOut = Seq(col("ppl_r")))
  }

  /** Batch twin of [[cleanStreamDsir]], self-contained over the fixture:
    * trains the fixed-vocab ratio model in-plan
    * ([[graft.ext.Dsir.nanoRatioScores]] — exactly the stream's integer
    * arithmetic), keeps the corpus's most-target-like half
    * tail by average importance ratio, then fp-dedup + decontamination.
    * Fully oracle-able. */
  def cleanBatchDsir(docs: DataFrame): DataFrame = {
    // same fence rationale as cleanBatchLm (r19 optimization)
    val scores = graft.ext.Dsir.nanoRatioScores(docs)
      .select(col("doc_id"), col("avg_logw_r"))
      .localCheckpoint(false)
    val cut = scores.agg(
      expr("percentile(avg_logw_r, 0.5)").as("cut"))
    corpusGate(docs, docs, probeSlice,
      stage = _.join(scores, "doc_id")
        .crossJoin(broadcast(cut))
        .where(col("avg_logw_r") >= col("cut")),
      extraOut = Seq(col("avg_logw_r")))
  }

  /** Batch twin of [[cleanStreamSemantic]] over the `documents` ×
    * `embeddings` fixtures (doc_id = vec_id): quality gate → exact-fp
    * "first doc_id wins" → sem-cell "first doc_id wins" →
    * decontamination. Fully oracle-able. */
  def cleanBatchSemantic(docs: DataFrame, embs: DataFrame): DataFrame = {
    val wSem = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sem_fp")).orderBy(col("doc_id"))
    // embeddings join INSIDE the stage, after the quality floor: only
    // surviving docs pay the embedding payload, and the quality gate's
    // scan-parallel pass never shuffles the wide vectors
    corpusGate(
      docs, docs, probeSlice,
      stage = _.join(
        embs.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .withColumn("sem_fp", signPattern(col("embedding"))),
      afterDedup = _.withColumn("rn2", row_number().over(wSem))
        .where(col("rn2") === 1))
  }

  /** Drop-reason accounting for the batch gate: every doc attributed to
    * exactly one outcome in stage order — `quality_reject` (failed the
    * quality floor), `duplicate` (passed quality, later copy of a
    * fingerprint), `contaminated` (survived dedup but fingerprint in the
    * probe set), `kept`. Counts sum to the corpus size by construction —
    * the first dashboard a pipeline owner reads after a run. */
  def cleanReport(docs: DataFrame): DataFrame = {
    val probeFps = docs
      .where(pmod(col("doc_id"), lit(probeSlice)) === 0)
      .select(fingerprint.as("fp")).distinct()
    // dedup rank: first doc_id among QUALITY-PASSING copies of a
    // fingerprint (the quality predicate joins the partition key so
    // rejected copies don't shadow a passing one)
    val dupRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp"), col("quality") >= qualityFloor)
      .orderBy(col("doc_id"))
    TextAnalysis.withQuality(docs)
      .withColumn("fp", fingerprint)
      .withColumn("rn",
        when(col("quality") >= qualityFloor, row_number().over(dupRank)))
      .join(broadcast(probeFps.withColumn("is_probe", lit(true))),
        Seq("fp"), "left")
      .withColumn("outcome",
        when(col("quality") < qualityFloor, "quality_reject")
          .when(col("rn") > 1, "duplicate")
          .when(col("is_probe"), "contaminated")
          .otherwise("kept"))
      .groupBy("outcome").agg(count(lit(1)).as("n_docs"))
      .orderBy("outcome")
  }

  /** Batch twin of [[cleanStream]] over the `documents` fixture: same
    * quality gate, "first doc_id wins" in place of "first arrival wins"
    * for the dedup stage, same no-self-exclusion decontamination against
    * the doc_id % 50 == 0 probe slice. Fully oracle-able. */
  def cleanBatch(docs: DataFrame): DataFrame =
    corpusGate(docs, docs, probeSlice)

  /** Batch twin of [[cleanStreamRedacted]]: the `corpus_clean` gate plus
    * the PII count and the md5 of the redacted text (hashed to keep the
    * oracle payload small — the stream lands the full redacted text). */
  def cleanBatchRedacted(docs: DataFrame): DataFrame =
    corpusGate(docs, docs, probeSlice,
      stage = _.withColumn("n_pii", TextAnalysis.piiCount(col("text"))),
      extraOut = Seq(col("n_pii"),
        md5(TextAnalysis.piiRedacted(col("text"))).as("redacted_md5")))

  /** Whitespace token count on raw text — the [[graft.ext.Mixture]]
    * tokenizer, shared by the batch and stream budget gates so the two
    * tiers meter identical units. */
  private def nTok = size(TextOps.wsTokens(lower(col("text")))).cast("long")

  /** [[cleanBatch]] + TOKEN-BUDGET enforcement (VERDICT r7 item 4): the
    * cleaned corpus is rationed source-by-source against the
    * √-temperature token allocation over its own clean mass
    * ([[graft.ext.Mixture.sampleTokensCounted]]), keeping each source's
    * doc_id-order prefix until its grant is covered (exclusive-prefix
    * straddle). The batch twin that pins [[cleanStreamBudget]]'s
    * semantics — same gate, same tokenizer, same straddle. */
  def cleanBatchBudget(
      docs: DataFrame,
      probeModulus: Int = probeSlice): DataFrame =
    graft.ext.Mixture.sampleTokensCounted(
      // fence the gated frame (r19 optimization): sampleTokensCounted
      // consumes it twice (seat allocation + prefix sum) and the gate
      // chain (quality scoring, window dedup, decontamination) is the
      // expensive side - one pass instead of two (guide §2.4)
      corpusGate(docs, docs, probeModulus,
        stage = _.withColumn("n_tok", nTok),
        extraOut = Seq(col("n_tok")))
        .localCheckpoint(false))
      .select(col("doc_id"), col("source"), col("fp"), col("quality_r"),
        col("n_tok"), col("tok_pfx"), col("granted").cast("long").as("granted"))
      .orderBy("doc_id")

  /** Schema of a budget-gated stream row. */
  private[streaming] final case class BudgetedDoc(
      doc_id: Long, source: String, fp: String, quality_r: Double,
      event_ts: java.sql.Timestamp, n_tok: Long, tok_pfx: Long)

  /** [[cleanStream]] + ONLINE token-budget enforcement: each source's
    * cumulative clean-token intake rides in keyed state (ONE long per
    * source) and a doc is admitted while the source's EXCLUSIVE token
    * prefix is below its grant — the
    * [[graft.ext.Mixture.sampleTokens]] straddle convention, so the
    * boundary doc lands and the stream stops granting after it.
    * `grants` is the per-source token budget, computed OFFLINE
    * ([[graft.ext.Mixture.allocationTokens]] over a reference corpus —
    * the production shape: a stream cannot know its final mass) and
    * shipped as a broadcast. Unknown sources have grant 0: counted,
    * never admitted — adding a source mid-run means restating the grant
    * map, not resetting state.
    *
    * Cumulative grants survive restarts via the checkpointed state
    * store (CorpusIngestSpec replays a restart and pins it). In-batch
    * arrival is normalized to doc_id order per source, so a stream fed
    * in doc_id order is row-identical to [[cleanBatchBudget]] minus
    * the `granted` column (the batch twin contract; arrival-order feeds
    * differ exactly where the batch prefix would).
    *
    * Scale: the gate adds one keyed state exchange on `source` —
    * |sources| state rows total, each ONE long. The in-batch doc_id
    * normalization DOES buffer each source's slice of the current
    * micro-batch in the group task (the sort needs the slice
    * materialized), so under source skew the bound is per-source
    * micro-batch rows, not a constant — the production lever is the
    * trigger size (`maxFilesPerTrigger` / `maxOffsetsPerTrigger`),
    * which caps every group's slice; an arrival-order variant would
    * drop the buffer at the cost of the batch-twin row identity. */
  def cleanStreamBudget(
      docs: DataFrame,
      probeFps: DataFrame,
      grants: Map[String, Long]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(grants)
    cleanStream(docs, probeFps, keepText = true)
      .withColumn("n_tok", nTok)
      .select(col("doc_id"), col("source"), col("fp"), col("quality_r"),
        col("event_ts"), col("n_tok"))
      .as[(Long, String, String, Double, java.sql.Timestamp, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        (src: String,
         it: Iterator[(Long, String, String, Double, java.sql.Timestamp, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) => {
          val grant = bc.value.getOrElse(src, 0L)
          var used = state.getOption.getOrElse(0L)
          val out = it.toArray.sortBy(_._1).flatMap { d =>
            val pfx = used
            used += d._6
            if (pfx < grant)
              Some(BudgetedDoc(d._1, src, d._3, d._4, d._5, d._6, pfx))
            else None
          }
          state.update(used)
          out.iterator
        })
      .toDF()
  }
}
