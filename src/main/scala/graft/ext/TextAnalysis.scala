package graft.ext

import graft.util.Fence
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents`: per-corpus stats, token
  * counting, heuristic language ID, quality scoring, and fingerprinting —
  * the standard pre-training corpus triage set. All pure expressions +
  * one-shuffle aggregates; every op has a DuckDB oracle twin.
  */
object TextAnalysis {

  import TextOps._

  /** The contamination probe set: the fixture's doc_id % 50 == 0 slice
    * stands in for a benchmark/eval set. */
  private val probeSlice = 50

  /** Per-language corpus stats: doc counts, char/token means, source
    * diversity. One hash-aggregate shuffle (map-side partials first). */
  def corpusStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", size(wsTokens(col("text"))))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        avg(length(col("text"))).as("avg_len"),
        avg(col("toks")).as("avg_tokens"),
        countDistinct("source").as("n_sources"))
      .orderBy("lang")

  /** Per-doc token counts: whitespace and BPE-ish pre-tokenizer. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(wsTokens(col("text"))).as("ws_tokens"),
      bpeIshTokenCount(col("text")).as("bpe_ish_tokens"),
      length(col("text")).as("len_chars"),
      col("n_chars"))
      .orderBy("doc_id")

  /** Heuristic language ID (r17): token-lexicon hits for segmented
    * languages PLUS script-range character counts for unsegmented ones
    * (zh counts CJK Unified Ideographs — unsegmented Chinese is one
    * whitespace token and would match no lexicon); predict the
    * max-scoring language with a fixed tie-break order. Deterministic
    * by construction. */
  // The token array is materialized behind its own projection (referenced
  // once per lexicon, so CollapseProject keeps the boundary) and the scan
  // is parallelized: an inline `wsTokens(...)` here would re-tokenize per
  // lexicon inside interpreted `filter` lambdas — the interpreted-lambda
  // scan trap this repo documents (see PLANS.md) — and a single-file
  // fixture would run all of it on one core.
  def langId(docs: DataFrame): DataFrame = {
    val withToks = scanParallel(docs).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      wsTokens(lower(col("text"))).as("toks"), col("text").as("txt"))
    val scored = withToks.select(
      (col("doc_id") +: col("labeled_lang") +:
        TextOps.langScores(col("toks"), col("txt"))
          .map { case (l, c) => c.as(s"s_$l") }): _*)
    // predicted = first language (in scorer order) achieving the max score
    val predicted = TextOps.langNames.foldRight(lit("und")) {
      case (l, rest) =>
        val isMax = TextOps.langNames.foldLeft(lit(true)) {
          case (acc, other) => acc && col(s"s_$l") >= col(s"s_$other")
        }
        when(isMax, lit(l)).otherwise(rest)
    }
    scored
      .withColumn("predicted_lang", predicted)
      .withColumn("correct",
        when(col("predicted_lang") === col("labeled_lang"), 1).otherwise(0))
      .orderBy("doc_id")
  }

  /** Lang-id accuracy rollup per labeled language. */
  def langIdAccuracy(docs: DataFrame): DataFrame =
    langId(docs)
      .groupBy("labeled_lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("correct").as("n_correct"),
        (sum("correct").cast("double") / count(lit(1))).as("accuracy"))
      .orderBy("labeled_lang")

  /** Language-ID confusion matrix: (labeled, predicted) doc counts — the
    * error-structure view behind [[langIdAccuracy]]'s per-language
    * rollup (which languages get mistaken for which). One tiny
    * aggregate over [[langId]]'s scan. */
  def langConfusion(docs: DataFrame): DataFrame =
    langId(docs)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("labeled_lang", "predicted_lang")

  /** Lang-id CONFIDENCE (r18): the margin between the best and
    * second-best scores — the thresholding signal a mixture-sampling
    * stage uses to drop ambiguous documents instead of mislabeling
    * them. Pure Column: the per-language scores sorted descending in
    * an array, margin = top1 − top2; `confident` applies the
    * conventional ≥3 cut. Rides [[langId]]'s scan shape. */
  def langIdMargin(docs: DataFrame): DataFrame = {
    val out = langId(docs)
    val arr = sort_array(
      array(TextOps.langNames.map(l => col(s"s_$l")): _*), asc = false)
    out.select(col("doc_id"), col("labeled_lang"), col("predicted_lang"),
        arr.getItem(0).cast("long").as("best_score"),
        arr.getItem(1).cast("long").as("second_score"))
      .withColumn("margin", (col("best_score") - col("second_score"))
        .cast("long"))
      .withColumn("confident", col("margin") >= 3)
      .orderBy("doc_id")
  }

  /** Vocabulary coverage curve: what fraction of all token OCCURRENCES
    * the top-k most frequent tokens cover, for a ladder of k — the
    * statistic that sizes a vocabulary (coverage saturating by k=1000
    * says a bigger vocab buys nothing). Exact integer arithmetic until
    * the final ratio.
    *
    * Scale: one map-side-combined token count; the rank window runs over
    * the COUNT frame — vocabulary-sized, not corpus-sized — so its
    * single-partition sort is bounded by |vocab| (the deliberate
    * exception to the no-global-window rule pack_windows enforces for
    * corpus-sized frames). */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs
      .select(explode(wsTokens(lower(col("text")))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
    val byFreq = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token"))
    val ranked = counts.withColumn("rk", row_number().over(byFreq))
    val total = counts.agg(sum("n").as("total_occ"))
    ranked
      .crossJoin(broadcast(Seq(10, 50, 100, 500).toDF("k")))
      .where(col("rk") <= col("k"))
      .groupBy("k")
      .agg(sum("n").as("covered_occ"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("covered_occ"), col("total_occ"),
        round(col("covered_occ").cast("double") / col("total_occ"), 6)
          .as("coverage_r"))
      .orderBy("k")
  }

  /** Per-doc quality features + composite score (length band, punctuation
    * ratio, stopword ratio, alpha ratio) — the usual cheap quality gates for
    * corpus filtering, as exact arithmetic both engines reproduce. */
  // greatest(…, 1): empty text reaches the ratios with len 0 (and a
  // single "" token keeps nToks ≥ 1); ANSI mode (Spark 4 default) turns
  // a zero divisor into a job-killing error, so guard rather than trust
  // the corpus. Identical arithmetic for every non-empty doc.
  private def qLen: Column = greatest(length(col("text")), lit(1))
  private def qAlpha: Column = regexp_count(col("text"), lit("[a-zA-Z]"))
  private val enStops: Seq[String] = langLexica.toMap.apply("en")

  /** Internal name of the materialized token projection [[withQuality]]
    * introduces; never escapes (dropped before the caller sees the frame). */
  private val qTokCol = "__q_toks"

  /** The composite quality score over a MATERIALIZED token attribute
    * (plus `col("text")` for the char-level ratios). `toks` must be a
    * real attribute, not an inline `wsTokens(...)`: `lexiconHits` is an
    * interpreted `filter` lambda, and an inline token expression there
    * re-tokenizes per reference outside codegen — the interpreted-lambda
    * scan trap this repo documents (PLANS.md; the [[langId]] projection
    * boundary is the template). The attribute is referenced three times
    * in a non-cheap alias, so CollapseProject keeps the boundary. */
  private[graft] def qualityOfToks(toks: Column): Column =
    least(size(toks), lit(256)).cast("double") / 256 * 0.4 +
      (qAlpha.cast("double") / qLen) * 0.4 +
      least(lexiconHits(toks, enStops).cast("double") /
        greatest(size(toks), lit(1)) * 5, lit(1.0)) * 0.2

  /** Adds the composite quality score as column `out`, materializing the
    * token array behind its own projection first — the ONE way every
    * batch query and the streaming corpus ingest
    * ([[graft.streaming.CorpusIngest]]) compute quality, so the gate
    * formula cannot drift between tiers. Batch inputs are additionally
    * spread to full scan parallelism ([[TextOps.scanParallel]] — a
    * single-file fixture otherwise runs the whole interpreted-lambda
    * scan on one core); streaming inputs pass through untouched
    * (repartition-by-rdd is undefined on a streaming frame, and a
    * micro-batch already shuffles into the state store). */
  def withQuality(df: DataFrame, out: String = "quality"): DataFrame = {
    val base = if (df.isStreaming) df else scanParallel(df)
    base
      .withColumn(qTokCol, wsTokens(lower(col("text"))))
      .withColumn(out, qualityOfToks(col(qTokCol)))
      .drop(qTokCol)
  }

  def qualityScore(docs: DataFrame): DataFrame = {
    val punct = regexp_count(col("text"), lit("[^a-zA-Z0-9\\s]"))
    val toks = col(qTokCol)
    val stops = lexiconHits(toks, enStops)
    scanParallel(docs)
      .withColumn(qTokCol, wsTokens(lower(col("text"))))
      .select(
        col("doc_id"),
        length(col("text")).as("len_chars"),
        size(toks).as("n_tokens"),
        (punct.cast("double") / qLen).as("punct_ratio"),
        (qAlpha.cast("double") / qLen).as("alpha_ratio"),
        (stops.cast("double") / greatest(size(toks), lit(1)))
          .as("stopword_ratio"),
        qualityOfToks(toks).as("quality"))
      .orderBy("doc_id")
  }

  /** Per-doc fingerprints: md5 of the normalized text (exact identity) and
    * the lexicographic-min md5 over word-3-gram shingles (a rolling-hash
    * style locality fingerprint — equal for near-identical docs).
    * The shingle-min is the fused [[graft.expr.MinShingleMd5]] pass — no
    * shingle-array materialization; identical output to the composed
    * `MinMd5(shingles(toks, 3))` form (min over duplicates = min over the
    * distinct shingle set). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(normText(col("text"))).as("exact_md5"),
      graft.expr.MinShingleMd5(wsTokens(lower(col("text"))), 3)
        .as("min_shingle_md5"))
      .orderBy("doc_id")

  /** Distinct-count triple (exact — oracle-checked). */
  def distinctExact(docs: DataFrame): DataFrame =
    docs.agg(
      countDistinct(normText(col("text"))).as("distinct_norm_texts"),
      countDistinct(col("source")).as("distinct_sources"),
      countDistinct(col("lang")).as("distinct_langs"))

  /** Approximate distinct (HLL++) — declared-approximate; the registered
    * query ships the SELF-VERIFYING form [[distinctApproxCheck]]. */
  def distinctApprox(docs: DataFrame): DataFrame =
    docs.agg(
      approx_count_distinct(normText(col("text"))).as("approx_norm_texts"),
      approx_count_distinct(col("source")).as("approx_sources"))

  /** Self-verifying HLL++ distinct-count query (VERDICT r10 item 3): the
    * output row carries the EXACT counts (DuckDB recomputes them) plus
    * the error-bound check `|hll − exact| / exact ≤ 0.02` as booleans the
    * oracle pins to TRUE — the sketch's engine-specific estimate never
    * rides the hash, but its accuracy contract does, so a broken HLL
    * merge shows up as a red row instead of passing rows-only. The 2%
    * tolerance is far above HLL++'s behavior at fixture cardinality
    * (sparse-mode estimates are exact to a few thousand distincts) yet
    * far below any real regression (a lost register bank is ≥ 2^k off).
    * The sketch runs at rsd = 0.01 (2^14 registers — the linear-counting
    * regime for every fixture cardinality, where estimates are exact to
    * ±1; the default rsd = 0.05's 512 registers measured off-by-one on a
    * 20-distinct column, outside 2% relative), and the tolerance carries
    * an absolute floor of 1 so tiny cardinalities aren't held to a
    * sub-integer band. The exact twin here is the verification harness;
    * the 100 TB serve path is [[distinctApprox]] alone. */
  def distinctApproxCheck(docs: DataFrame): DataFrame = {
    def withinTol(approx: Column, exact: Column) =
      abs(approx - exact).cast("double") <=
        greatest(lit(1.0), lit(0.02) * exact)
    // norm projected ONCE behind its own boundary: the exact and approx
    // aggregates both consume it, and an inline normText would run the
    // normalization chain twice per row
    docs.select(normText(col("text")).as("norm"), col("source")).agg(
      countDistinct(col("norm")).as("exact_norm_texts"),
      countDistinct(col("source")).as("exact_sources"),
      approx_count_distinct(col("norm"), 0.01).as("a_norm"),
      approx_count_distinct(col("source"), 0.01).as("a_src"))
      .select(
        col("exact_norm_texts"), col("exact_sources"),
        withinTol(col("a_norm"), col("exact_norm_texts"))
          .as("norm_within_tol"),
        withinTol(col("a_src"), col("exact_sources"))
          .as("sources_within_tol"))
  }

  /** Corpus vocabulary: top-k tokens by frequency (deterministic
    * tie-break on the token). The explode → count is the canonical
    * map-side-combined word-count shuffle; at 100 TB the partial
    * aggregation reduces the exchange to one row per (partition, token). */
  def vocabTopK(docs: DataFrame, k: Int = 100): DataFrame =
    docs
      .select(explode(wsTokens(lower(col("text")))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Corpus bigram counts: top-k adjacent token pairs. The naive plan
    * shuffles the concatenated bigram STRINGS through the count exchange —
    * at 100 TB that exchange is the corpus re-serialized. This plan keeps
    * strings out of every wide shuffle (VERDICT r3 item 3):
    *
    *  1. count on `xxhash64(tok_i, tok_{i+1})` — 8 bytes ride the
    *     map-side-combined exchange, nothing else;
    *  2. cutoff = the k-th largest hash count (a TakeOrderedAndProject over
    *     the counts, then a single-row min — no driver action);
    *  3. re-scan the corpus with a broadcast semi-join on the ≥cutoff hash
    *     set (k + boundary ties, so O(k) keys) and count those survivors by
    *     their actual strings — exact counts, exact tie-break, and the only
    *     string-keyed aggregation runs over ~k distinct bigrams.
    *
    * A 64-bit collision between two top-k bigrams could merge their hash
    * counts in step 1 and mis-place the cutoff; at p ≈ |vocab|²·2⁻⁶⁴ this is
    * immaterial (and step 3's string recount keeps any emitted row exact).
    *
    * Two execution details that dominate wall-clock:
    *  - the token array is materialized in its OWN projection before the
    *    pair lambda touches it. Higher-order functions run interpreted
    *    (no codegen CSE), so an inlined `split()` re-tokenizes the doc for
    *    every element — O(tokens²) per doc. Behind a projection boundary
    *    the lambda reads an attribute and stays linear (CollapseProject
    *    keeps the boundary: the alias is referenced more than once).
    *  - a sub-parallel scan (one small parquet file ⇒ one partition) is
    *    repartitioned up to the session's shuffle parallelism before the
    *    explode, so tokenization uses every core; inputs that already have
    *    ≥ that many partitions — any real corpus — are left untouched.
    *  - the hash counts are persisted: the cutoff and the candidate filter
    *    both read them, and the frame is one (hash, count) row per
    *    distinct bigram. */
  def bigramTopK(docs: DataFrame, k: Int = 100): DataFrame = {
    val src = scanParallel(docs)
    val withToks = src
      .select(wsTokens(lower(col("text"))).as("toks"))
      .where(size(col("toks")) >= 2)
    def pairsOf(f: (Column, Column) => Column) =
      withToks.select(explode(
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => f(element_at(col("toks"), i), element_at(col("toks"), i + 1)))))
    val counts = Fence.cached(
      pairsOf((a, b) => xxhash64(a, b)).toDF("h")
        .groupBy("h").agg(count(lit(1)).as("n")))
    val cutoff = counts.orderBy(col("n").desc).limit(k).agg(min("n").as("n_min"))
    val cand = counts
      .crossJoin(broadcast(cutoff))
      .where(col("n") >= col("n_min"))
      .select("h")
    pairsOf((a, b) => struct(a.as("t1"), b.as("t2")))
      .toDF("bg")
      .withColumn("h", xxhash64(col("bg.t1"), col("bg.t2")))
      .join(broadcast(cand), Seq("h"), "left_semi")
      .select(concat_ws(" ", col("bg.t1"), col("bg.t2")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)
  }

  /** Gopher-style repetition metrics per document (Rae et al. 2021,
    * "Scaling Language Models", Table A1's repetition filters) — the
    * standard corpus gate against boilerplate and degenerate generations:
    *
    *  - `dup_token_frac`: fraction of token occurrences whose token
    *    appears ≥ 2 times in the doc;
    *  - `top_bigram_char_frac` / `top_trigram_char_frac`: the character
    *    coverage of the single most-covering 2-/3-gram, over `len_chars`;
    *  - `dup_5gram_char_frac`: character coverage of all 5-grams occurring
    *    ≥ 2 times, over `len_chars`;
    *  - `keep`: Gopher's published thresholds (0.20 / 0.18 / 0.15).
    *
    * Coverage is defined overlap-agnostic — occurrences × n-gram string
    * length — an exact integer every engine reproduces (Gopher's
    * overlap-deduped variant needs positional sweeps; this form keeps the
    * whole metric inside two map-side-combined aggregates). "Most
    * covering" (max of cnt×len) rather than "most frequent" avoids an
    * argmax tie-break entirely: it is a plain `max` both engines order
    * identically.
    *
    * Plan: one explode pass emits every (n, gram) unit for n ∈ {1,2,3,5}
    * via a single struct-array concat (the token array sits behind its own
    * projection boundary — see [[bigramTopK]] on interpreted higher-order
    * functions); shuffle 1 counts on (doc_id, n, gram) with map-side
    * combine; shuffle 2 rolls up to the doc. Both shuffles are keyed by
    * doc_id-prefixed keys, so at 100 TB they partition evenly with the
    * corpus and nothing is corpus-global. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val base = scanParallel(docs)
      .select(col("doc_id"), length(col("text")).as("len_chars"),
        wsTokens(lower(col("text"))).as("toks"))
    def gramsN(n: Int): Column =
      if (n == 1)
        transform(col("toks"), t => struct(lit(1).as("n"), t.as("gram")))
      else
        when(size(col("toks")) >= n,
          transform(sequence(lit(1), size(col("toks")) - (n - 1)),
            i => struct(lit(n).as("n"),
              concat_ws(" ", slice(col("toks"), i, lit(n))).as("gram"))))
          .otherwise(array().cast("array<struct<n:int,gram:string>>"))
    val lenC = max(col("len_chars"))
    base
      .select(col("doc_id"), col("len_chars"),
        explode(concat(gramsN(1), gramsN(2), gramsN(3), gramsN(5))).as("g"))
      .select(col("doc_id"), col("len_chars"),
        col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy("doc_id", "n", "gram")
      .agg(max("len_chars").as("len_chars"), count(lit(1)).as("cnt"))
      .withColumn("cov", col("cnt") * length(col("gram")))
      .groupBy("doc_id")
      .agg(
        lenC.as("len_chars"),
        (sum(when(col("n") === 1 && col("cnt") >= 2, col("cnt")).otherwise(0L))
          .cast("double") /
          sum(when(col("n") === 1, col("cnt")).otherwise(0L)))
          .as("dup_token_frac"),
        // greatest(len,1): an empty-text doc still carries one "" token,
        // so it reaches these divisions with len_chars = 0 — and ANSI
        // mode (Spark 4 default) turns x/0 into a job-killing error
        (coalesce(max(when(col("n") === 2, col("cov"))), lit(0L)).cast("double")
          / greatest(lenC, lit(1L))).as("top_bigram_char_frac"),
        (coalesce(max(when(col("n") === 3, col("cov"))), lit(0L)).cast("double")
          / greatest(lenC, lit(1L))).as("top_trigram_char_frac"),
        (sum(when(col("n") === 5 && col("cnt") >= 2, col("cov")).otherwise(0L))
          .cast("double") / greatest(lenC, lit(1L))).as("dup_5gram_char_frac"))
      .withColumn("keep",
        col("top_bigram_char_frac") <= 0.20 &&
          col("top_trigram_char_frac") <= 0.18 &&
          col("dup_5gram_char_frac") <= 0.15)
      .orderBy("doc_id")
  }

  /** Data-mixing weights per source: raw doc/token shares plus the
    * temperature-scaled sampling weight (share^α / Σ share^α, α = 0.7 —
    * the multilingual-sampling rule of Conneau & Lample, XLM 2019) a
    * training pipeline uses to rebalance heterogeneous sources without
    * letting the largest dominate.
    *
    * Determinism across engines: the normalizer Σ share^α sums DOUBLEs,
    * and float summation is association-sensitive — so both engines sum
    * the per-source terms as DECIMAL(28,18) (exact, order-free) and only
    * convert back to double for the final ratio. The one residual
    * cross-engine wobble is `pow` itself (≤ 1 ulp), absorbed by the
    * 6-decimal rounding. One tiny aggregate per stage; totals attach as
    * broadcast single-row frames. */
  def sourceMixture(docs: DataFrame): DataFrame = {
    val per = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(wsTokens(lower(col("text")))).cast("long")).as("n_tokens"))
    val tot = per.agg(sum("n_tokens").as("tot_tokens"))
    val shared = per.crossJoin(broadcast(tot))
      .withColumn("token_share",
        col("n_tokens").cast("double") / col("tot_tokens"))
      .withColumn("pa", pow(col("token_share"), 0.7))
    val z = shared.agg(
      sum(col("pa").cast("decimal(28,18)")).cast("double").as("z"))
    shared.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("token_share"), 6).as("token_share_r"),
        round(col("pa") / col("z"), 6).as("mix_weight_r"))
      .orderBy("source")
  }

  /** PII scrub patterns — emails first (a URL pattern would otherwise
    * swallow user@host inside hrefs), then URLs. Kept to constructs with
    * identical semantics in Java regex and RE2 so the DuckDB oracle
    * reproduces byte-identical output. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern = "https?://[^\\s]+"

  /** Redact emails/URLs and count hits — the standard pre-training PII
    * scrub gate. Pure regexp expressions; the scrubbed text is hashed in
    * the registered query to keep the gate's row payload small. */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailPattern)).as("n_emails"),
      regexp_count(col("text"), lit(urlPattern)).as("n_urls"),
      regexp_replace(
        regexp_replace(col("text"), emailPattern, "<EMAIL>"),
        urlPattern, "<URL>").as("scrubbed"))
      .orderBy("doc_id")

  /** Compression-ratio quality signal ([[graft.expr.DeflateLen]] — the
    * CCNet/RefinedWeb-style model-free proxy for perplexity filtering):
    * natural text deflates to a characteristic fraction of its raw size;
    * far below the band ⇒ boilerplate/degenerate repetition, near or
    * above 1 ⇒ noise. Pure per-row expression, declared-approximate
    * (DuckDB has no deflate) with a ScalaTest ordering contract. */
  def compressionStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), length(col("text")).as("len_chars"),
        graft.expr.DeflateLen(col("text")).as("deflate_len"))
      .withColumn("ratio",
        col("deflate_len").cast("double") / greatest(col("len_chars"), lit(1)))
      .withColumn("keep",
        col("ratio") >= 0.2 && col("ratio") <= 1.0)
      .orderBy("doc_id")

  /** Self-verifying deflate-band query (VERDICT r10 item 3): DuckDB has
    * no deflate, but RFC 1950/1951 put HARD bounds on any conforming
    * zlib stream, and those bounds are computable from text stats DuckDB
    * shares:
    *  - lower: a length/distance pair emits ≤ 258 bytes and costs ≥ 2
    *    bits, so the deflate payload is ≥ len/1032 bytes; the zlib
    *    wrapper (2-byte header + 4-byte adler + ≥ 2-byte empty stream)
    *    puts an absolute floor of 8;
    *  - upper: zlib's own `compressBound` — len + len/4096 + len/16384
    *    + 13 covers the worst (incompressible) case at any level.
    * The registered output carries the byte/char lengths (DuckDB
    * recomputes: `strlen`/`length`) plus the band booleans pinned TRUE —
    * the engine-specific deflate length never rides the hash, but a
    * DeflateLen regression (truncated stream, wrong wrapper, garbage
    * length) lands outside the band and turns the row red. The
    * informational per-doc ratio/keep form stays [[compressionStats]]. */
  def compressionBandCheck(docs: DataFrame): DataFrame = {
    val lenB = octet_length(col("text"))
    val dfl = graft.expr.DeflateLen(col("text"))
    docs.select(
      col("doc_id"),
      length(col("text")).as("len_chars"),
      lenB.as("len_bytes"),
      (dfl >= greatest(lit(8),
        ceil(lenB.cast("double") / 1032).cast("int"))).as("deflate_ge_floor"),
      (dfl <= lenB + floor(lenB / 4096) + floor(lenB / 16384) + lit(13))
        .as("deflate_le_bound"))
      .orderBy("doc_id")
  }

  /** NFC canonical composition digest ([[graft.expr.NfcNormalize]]) —
    * run before content hashing so visually-identical strings ("é"
    * precomposed vs "e" + combining acute) fingerprint identically.
    * Full DuckDB oracle via `nfc_normalize`. */
  def nfcDigest(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(graft.expr.NfcNormalize(col("text"))).as("nfc_md5"),
      length(graft.expr.NfcNormalize(col("text"))).as("nfc_len"))
      .orderBy("doc_id")

  /** Pointwise mutual information of token pairs over document-level
    * co-occurrence: PMI(a,b) = ln(p(a,b) / (p(a)·p(b))) with
    * probabilities = document frequencies — the classic collocation /
    * phrase-mining statistic. Restricted to the `vocabK` most frequent
    * tokens so the per-doc pair fan-out is bounded by K, and floored at
    * `minPairCount` co-occurrences to kill small-sample noise.
    *
    * Plan: distinct (doc, token) explode → top-K vocab as a LIMIT frame
    * (pure plan, no driver collect) broadcast into a semi-filter → the
    * pair self-join on doc_id (fan-out ≤ K per doc) → one count shuffle
    * on (t1, t2) ≤ K² keys. PMI evaluates as a sum of logs (overflow-free
    * at any corpus size, identical term order in both engines). */
  def tokenPmi(
      docs: DataFrame,
      vocabK: Int = 100,
      minPairCount: Int = 5,
      k: Int = 50): DataFrame = {
    val tok = scanParallel(docs)
      .select(col("doc_id"),
        explode(array_distinct(wsTokens(lower(col("text"))))).as("token"))
      .where(length(col("token")) > 0)
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("n_a"))
      .orderBy(col("n_a").desc, col("token")).limit(vocabK)
    val tv = tok.join(broadcast(vocab.select("token")), Seq("token"))
    val pairs = tv.select(col("doc_id"), col("token")).as("a")
      .join(tv.select(col("doc_id"), col("token").as("token_b")).as("b"),
        Seq("doc_id"))
      .where(col("token") < col("token_b"))
      .groupBy(col("token").as("t1"), col("token_b").as("t2"))
      .agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minPairCount)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    pairs
      .join(broadcast(vocab.select(col("token").as("t1"), col("n_a").as("c_a"))),
        Seq("t1"))
      .join(broadcast(vocab.select(col("token").as("t2"), col("n_a").as("c_b"))),
        Seq("t2"))
      .crossJoin(broadcast(nDocs))
      .withColumn("pmi", round(
        log(col("c_ab").cast("double")) + log(col("n_docs").cast("double"))
          - log(col("c_a").cast("double")) - log(col("c_b").cast("double")), 4))
      .orderBy(col("pmi").desc, col("t1"), col("t2"))
      .limit(k)
      .select("t1", "t2", "c_ab", "pmi")
  }

  /** Deterministic weighted sample of k docs, selection probability
    * proportional to a per-doc weight (here the [[qualityScore]]
    * composite) — the Efraimidis–Spirakis A-ES scheme: each doc draws a
    * uniform u and ranks by ln(u)/w (monotone-equivalent to the classic
    * u^(1/w)); the top-k by that key IS a weight-proportional sample
    * without replacement.
    *
    * Determinism: u is not random — it is the doc's content md5 mapped to
    * (0,1) (first 13 hex chars / 16^13, exact in a double), so the sample
    * is reproducible across engines, runs, and cluster sizes, exactly
    * like [[trainValSplit]]'s bucketing. Weights clamp to ≥ 0.001 so a
    * zero-quality doc stays selectable-with-tiny-probability rather than
    * dividing to -∞ × anything.
    *
    * Scale: one scan computing (key, weight) per doc and one
    * TakeOrderedAndProject — no full sort, no shuffle beyond the top-k
    * reduction. */
  def weightedSample(docs: DataFrame, k: Int = 25): DataFrame = {
    val u = conv(substring(md5(normText(col("text"))), 1, 13), 16, 10)
      .cast("double") / math.pow(16.0, 13)
    withQuality(docs)
      .select(col("doc_id"),
        greatest(col("quality"), lit(0.001)).as("w"),
        u.as("u"))
      .select(col("doc_id"), round(col("w"), 6).as("w_r"),
        round(log(col("u")) / col("w"), 6).as("es_key_r"))
      .orderBy(col("es_key_r").desc, col("doc_id"))
      .limit(k)
  }

  /** Stratified deterministic weighted sample: [[weightedSample]]'s A-ES
    * scheme applied PER SOURCE — top `kPerStratum` docs by ln(u)/w within
    * each stratum, so every source is represented regardless of its size
    * (the balanced-evaluation / per-domain-inspection sample a corpus
    * pipeline pulls, where a global top-k would be dominated by the
    * largest source).
    *
    * Scale: one scan computing (key, weight) + one rank window keyed by
    * source — partitions with the corpus; skew in source sizes is the
    * window's partition skew, handled by AQE the same way the salted
    * top-k variants handle hot users. */
  def stratifiedSample(docs: DataFrame, kPerStratum: Int = 5): DataFrame = {
    val u = conv(substring(md5(normText(col("text"))), 1, 13), 16, 10)
      .cast("double") / math.pow(16.0, 13)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("es_key").desc, col("doc_id"))
    withQuality(docs)
      .select(col("doc_id"), col("source"),
        greatest(col("quality"), lit(0.001)).as("wt"), u.as("u"))
      .withColumn("es_key", log(col("u")) / col("wt"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= kPerStratum)
      .select(col("source"), col("rk").cast("int").as("rk"), col("doc_id"),
        round(col("wt"), 6).as("w_r"), round(col("es_key"), 6).as("es_key_r"))
      .orderBy("source", "rk")
  }

  /** Length-bucketed batch assembly — the padding-minimization step of a
    * training data loader: docs bucket by token count (`bucketWidth`-token
    * linear buckets), order deterministically within a bucket, and cut
    * into fixed-`batchSize` batches. Because batch members have similar
    * lengths, pad-to-max waste per batch is bounded by the bucket width.
    * Output: one row per batch with its doc span, token stats, and the
    * exact padding waste (n_docs·max_tok − sum_tok).
    *
    * Scale: one scan → one rank window keyed by bucket → one (bucket,
    * batch) aggregate, all integer arithmetic (exact in any engine).
    * Bucket count is |corpus|/width-bounded, and the window partitions
    * with the corpus. */
  def lengthBucketBatches(
      docs: DataFrame,
      bucketWidth: Int = 64,
      batchSize: Int = 8): DataFrame = {
    require(bucketWidth >= 1 && batchSize >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("n_tok"), col("doc_id"))
    docs
      .select(col("doc_id"),
        size(wsTokens(lower(col("text")))).cast("long").as("n_tok"))
      .withColumn("bucket", (col("n_tok") / bucketWidth).cast("long"))
      .withColumn("batch_idx",
        ((row_number().over(w) - 1) / batchSize).cast("long"))
      .groupBy("bucket", "batch_idx")
      .agg(
        count(lit(1)).as("n_docs"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"),
        sum("n_tok").as("sum_tok"),
        max("n_tok").as("max_tok"))
      .withColumn("pad_waste",
        col("n_docs") * col("max_tok") - col("sum_tok"))
      .orderBy("bucket", "batch_idx")
  }

  /** Adaptive quality filter: keep documents at or above their
    * LANGUAGE's median quality score — the per-stratum adaptive
    * threshold production pipelines prefer over one global cutoff (a
    * fixed bar tuned on English silently guts low-resource languages
    * whose score distribution sits lower). Exact interpolated median per
    * the established `percentile ≙ quantile_cont` pairing.
    *
    * Scale: one scan for scores, one tiny per-language aggregate
    * broadcast back, one filter — the corpus never shuffles. */
  def adaptiveQualityKeep(docs: DataFrame): DataFrame = {
    val scored = withQuality(docs).select(
      col("doc_id"), col("lang"), col("quality"))
    val medians = scored.groupBy("lang")
      .agg(expr("percentile(quality, 0.5)").as("median_q"))
    scored
      .join(broadcast(medians), Seq("lang"))
      .where(col("quality") >= col("median_q"))
      .select(col("doc_id"), col("lang"),
        round(col("quality"), 6).as("quality_r"),
        round(col("median_q"), 6).as("median_q_r"))
      .orderBy("doc_id")
  }

  /** Train/val near-dup leakage audit: verified near-duplicate pairs
    * whose members land in DIFFERENT splits. A content-keyed split
    * ([[trainValSplit]]) makes EXACT-duplicate leakage impossible by
    * construction, but near-duplicates hash differently and can still
    * straddle the boundary — the leakage that quietly inflates eval
    * scores. Output: one row per straddling pair with both splits.
    *
    * Scale: the near-dup pair set is tiny relative to the corpus; the
    * split columns attach by two id-keyed joins of (doc_id, split)
    * pairs. */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val splits = trainValSplit(docs).select("doc_id", "split")
    Dedup.nearDupJaccard(docs)
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        Seq("doc_b"))
      .where(col("split_a") =!= col("split_b"))
      .select("doc_a", "doc_b", "split_a", "split_b")
      .orderBy("doc_a", "doc_b")
  }

  /** Pairwise source similarity over top-50 vocabularies: for every
    * source pair, the Jaccard of their top-50 token sets — the corpus
    * drift/diversity matrix a mixing strategy consults (two sources with
    * 0.9 vocab overlap are near-redundant; 0.1 is genuine diversity).
    *
    * Scale: per-source top-k is a source-keyed count + rank window; the
    * pairwise comparison touches only |sources|² × k token rows —
    * independent of corpus size. */
  def sourceVocabOverlap(docs: DataFrame): DataFrame = {
    val byFreq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n").desc, col("token"))
    val topk = docs
      .select(col("source"), explode(wsTokens(lower(col("text")))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("source", "token").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(byFreq))
      .where(col("rk") <= 50)
      .select("source", "token")
    val a = topk.select(col("source").as("src_a"), col("token"))
    val b = topk.select(col("source").as("src_b"), col("token"))
    val inter = a.join(b, Seq("token"))
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
    val sizes = topk.groupBy("source").agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.select(col("source").as("src_a"), col("sz").as("sz_a")), Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("sz").as("sz_b")), Seq("src_b"))
      .withColumn("vocab_jaccard",
        round(col("n_shared").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_shared")), 6))
      .select("src_a", "src_b", "n_shared", "vocab_jaccard")
      .orderBy("src_a", "src_b")
  }

  /** Deterministic train/val assignment by content hash: the first two
    * md5 hex chars partition the corpus into 256 stable buckets; buckets
    * below the threshold go to train (hex-string comparison — identical
    * in any engine, no integer parsing needed). Content-keyed (not
    * id-keyed) so exact duplicates always land in the same split. */
  def trainValSplit(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      substring(md5(normText(col("text"))), 1, 2).as("bucket_hex"))
      .withColumn("split",
        when(col("bucket_hex") < "f3", "train").otherwise("val"))
      .orderBy("doc_id")

  /** Sliding-window token chunking for training-data preparation: each
    * doc's whitespace-token stream is cut into 50-token chunks every
    * 40 tokens (overlap 10). Emits the chunk's token
    * count and content md5 (the registered query keeps the row payload
    * small; the text itself is one `concat_ws` away).
    *
    * Scale: pure per-row expressions — posexplode of an integer sequence
    * plus `slice` on the already-split token array; no shuffle at all, so
    * chunking runs at full scan throughput on any corpus size. */
  def chunk(docs: DataFrame): DataFrame = {
    val toks = split(normText(col("text")), " ")
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(
          sequence(lit(0),
            greatest(size(col("toks")) - 1, lit(0)),
            lit(40))))
      .select(
        col("doc_id"),
        col("pos").cast("int").as("chunk_idx"),
        size(slice(col("toks"), col("col") + 1, lit(50))).as("n_tok"),
        md5(concat_ws(" ", slice(col("toks"), col("col") + 1, lit(50))))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Per-doc top-k terms by TF-IDF (natural-log IDF, deterministic
    * tie-break on the term). Three shuffles, all map-side combined: TF on
    * (doc, term), DF on term, and the per-doc ranking window; the corpus
    * size joins in as a broadcast single-row aggregate — no driver action.
    * Both engines compute `tf * ln(N/df)` from the same integers, so the
    * doubles — and therefore the rank cut — are bit-identical. */
  def tfidfTopK(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(split(normText(col("text")), " ")).as("term"))
      .where(col("term") =!= "")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("term"),
        round(col("score"), 6).as("tfidf"), col("rk").cast("int").as("rk"))
      .orderBy("doc_id", "rk")
  }

  /** N-gram span decontamination — the GPT-3/PaLM evaluation-leakage
    * method (Brown et al. 2020 appendix C; Chowdhery et al. 2022 use
    * n≈13): a corpus doc is contaminated if it shares ANY n-token gram
    * with any probe (benchmark) doc. Catches partial/quoted leakage that
    * whole-document fingerprints ([[contamination]], even `near = true`'s
    * min-shingle) miss, because a single embedded benchmark answer
    * contaminates a doc whose remaining text is clean.
    *
    * Output: (doc_id, n_shared) — distinct shared grams with any
    * non-self probe; deterministic and fully oracle-able.
    *
    * Scale: the probe side is the benchmark set — tiny by definition — so
    * its exploded gram table broadcasts; the corpus side explodes its
    * grams once and semi-joins at scan speed, the same shape as
    * [[contamination]]. Grams join as md5 digests (16 bytes, portable);
    * the n-gram strings never ride an exchange. */
  /** Per-document MEMORIZATION RATE: for each held-out document, the
    * fraction of its distinct word n-grams that also occur anywhere in
    * the training half — the data-leakage measure behind the
    * memorization literature (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499; Carlini et
    * al. 2022's n-gram overlap memorization proxies). A held-out doc
    * with rate ≈ 1 is effectively IN the training set (a split leak);
    * elevated corpus-wide rates mean the split is template-contaminated
    * and eval numbers on it are optimistic. Complements
    * [[contaminationNgram]] (which counts shared grams against a small
    * probe set): this scores EVERY held-out doc against the FULL
    * training half, as a rate.
    *
    * Grams ride as [[graft.expr.ShingleHashes]] xxhash64 digests (one
    * fused pass, distinct per doc); the rate equals the string-set rate
    * modulo 64-bit collisions (the house caveat), and the DuckDB oracle
    * computes the string form. Docs with fewer than 8 tokens have no
    * grams and emit no row — both engines agree.
    *
    * Scale: gram-keyed hash join of the held-out explode against the
    * training half's distinct-gram set — never doc-pairs; both sides
    * are skinny 8-byte digests, and the per-doc aggregate partitions
    * with the held-out corpus. */
  def memorizationRate(
      docs: DataFrame, isTrain: Column): DataFrame = {
    val grams = scanParallel(docs).select(
      col("doc_id"), isTrain.as("train"),
      explode(graft.expr.ShingleHashes(wsTokens(lower(col("text"))), 8))
        .as("g"))
    val trainSet = grams.where(col("train")).select("g").distinct()
    grams.where(!col("train"))
      .join(trainSet.withColumn("hit", lit(1)), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_memorized"))
      .withColumn("mem_rate_r",
        round(col("n_memorized").cast("double") / col("n_grams"), 6))
      .orderBy("doc_id")
  }

  def contaminationNgram(
      docs: DataFrame,
      probeModulus: Int = probeSlice): DataFrame = {
    // token array materialized behind its own projection boundary: the
    // shingle lambda slices it per window, and an inline split would
    // re-tokenize the doc for every window (see bigramTopK). xxhash64
    // digests (8 bytes) ride the join — grams group identically to their
    // strings modulo 2⁻⁶⁴ collisions, and the DuckDB oracle counts md5
    // digests of the same gram set, so both count |distinct grams|.
    def gramFrame(df: DataFrame, idCol: String) = scanParallel(df)
      .select(col(idCol), wsTokens(lower(col("text"))).as("__toks"))
      .select(col(idCol), explode(shingles(col("__toks"), 13)).as("g"))
      .select(col(idCol), xxhash64(col("g")).as("gh"))
    val corpusGrams = gramFrame(docs, "doc_id")
    val probeGrams = gramFrame(
      docs.where(pmod(col("doc_id"), lit(probeModulus)) === 0)
        .withColumnRenamed("doc_id", "probe_id"), "probe_id")
    corpusGrams
      .join(broadcast(probeGrams), Seq("gh"))
      .where(col("doc_id") =!= col("probe_id"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gh")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** One-row contamination report across the three deterministic
    * detection methods (exact fingerprint, near min-shingle, 13-gram
    * span) — the per-run accounting an eval-hygiene pipeline logs, like
    * [[Dedup.dedupSummaryAt]] for dedup. Each count is a single-row
    * aggregate of an already-registered gate; they attach as broadcast
    * crosses. */
  def contaminationSummary(docs: DataFrame): DataFrame = {
    def c(df: DataFrame, name: String) =
      df.agg(count(lit(1)).cast("long").as(name))
    c(docs, "n_docs")
      .crossJoin(broadcast(c(contamination(docs), "exact_hits")))
      .crossJoin(broadcast(c(contamination(docs, near = true), "near_hits")))
      .crossJoin(broadcast(c(contaminationNgram(docs), "ngram_hits")))
  }

  /** Sketch-based contamination prefilter: a Bloom filter built over the
    * probe set's fingerprint hashes, shipped to the corpus scan as a
    * literal. At 100 TB this is the first pass — a few MB of bits replace
    * the probe join entirely, and only might-contain survivors (true hits
    * + ~fpp false positives, NEVER false negatives) reach the exact
    * [[contamination]] join.
    *
    * Build and probe are both Catalyst expressions (VERDICT r3 item 5 —
    * the previous form probed through the repo's only Scala UDF and ran an
    * eager `docs.count()` to size the filter): the filter aggregates via
    * the built-in `bloom_filter_agg`, and the probe is the built-in
    * `BloomFilterMightContain` expression over the serialized filter bytes
    * — the exact pair Spark's own runtime row-level filtering uses, fully
    * codegen-compatible. Sizing comes from a fixed capacity estimate of
    * 4096 probes at fpp 0.01 (not a data-dependent count);
    * over-provisioning only widens the bitset. The one job materializing
    * the filter bytes IS the sketch build — same cost shape as any
    * broadcast build. */
  def contaminationBloom(docs: DataFrame, near: Boolean = false): DataFrame = {
    val fpHash = xxhash64(contaminationFp(near))
    val corpus = docs.select(col("doc_id"), fpHash.as("fph"))
    val probes = docs
      .where(pmod(col("doc_id"), lit(probeSlice)) === 0)
      .select(fpHash.as("fph"))
    val expectedProbes = 4096L
    // optimal bit count for (n, fpp = 0.01): -n·ln(fpp)/ln²2
    val numBits = math.max(64L,
      math.ceil(-expectedProbes * math.log(0.01) / (math.log(2) * math.log(2))).toLong)
    // bloom_filter_agg is not SQL-registered in Spark 4.1 (internal
    // registry only) — construct the aggregate expression directly
    val bloomAgg = org.apache.spark.sql.graftshim.Shim.toColumn(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        org.apache.spark.sql.graftshim.Shim.toExpression(col("fph")),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedProbes),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())
    val filterBytes = probes
      .agg(bloomAgg.as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = org.apache.spark.sql.graftshim.Shim.toColumn(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          filterBytes, org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.graftshim.Shim.toExpression(col("fph"))))
    corpus
      .where(mightContain)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** The composed Bloom-prefilter + exact-verify contamination gate — the
    * pipeline actually run at 100 TB: [[contaminationBloom]]'s sketch pass
    * prunes the overwhelmingly-clean majority for a few MB of bits, and
    * only might-contain survivors reach [[contamination]]'s exact
    * broadcast semi-join. Because a Bloom filter has NO false negatives,
    * the filter only prunes — every truly contaminated doc survives to the
    * verify — so the composed output EQUALS the exact [[contamination]]
    * result, deterministically, even though the intermediate sketch is
    * engine-specific. That is what lets this query carry the exact gate's
    * full DuckDB oracle while `contamination_bloom` (the sketch stage
    * alone, false positives included) stays rows-only (VERDICT r4
    * item 8). */
  def contaminationBloomVerified(
      docs: DataFrame, near: Boolean = false): DataFrame = {
    val fp = contaminationFp(near)
    val corpus = docs
      .join(contaminationBloom(docs, near = near), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), fp.as("fp"))
    val probes = docs
      .where(pmod(col("doc_id"), lit(probeSlice)) === 0)
      .select(col("doc_id").as("probe_id"), fp.as("fp"))
    corpus
      .join(broadcast(probes),
        corpus("fp") === probes("fp") && col("doc_id") =!= col("probe_id"),
        "left_semi")
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }

  /** Self-verifying form of the Bloom prefilter stage (VERDICT r10
    * item 3): the sketch's candidate SET is engine-specific (false
    * positives depend on the hash/bit layout), but its defining contract
    * — NO false negatives — is exactly checkable: every document that
    * provably must be in the filter (the probe docs themselves, whose
    * fingerprints were inserted, and every exactly-contaminated doc,
    * whose fingerprint equals an inserted one) must test might-contain.
    * The output is that must-contain set (DuckDB recomputes it exactly)
    * with the membership test pinned TRUE — a broken filter build, hash
    * mismatch between build and probe, or truncated serialization turns
    * rows red. Defaults to the NEAR fingerprint for the same reason
    * `contamination_bloom_verified` does: the exact key has zero probe
    * collisions in the fixture, and probes alone would under-exercise
    * the hit path. */
  def contaminationBloomNoFalseNeg(docs: DataFrame): DataFrame = {
    val candidates = contaminationBloom(docs, near = true)
      .withColumn("in_bloom", lit(true))
    // null fingerprints (a near-fp doc under the shingle width) never
    // enter the filter, so they carry no membership obligation — exclude
    // them from the must-set on BOTH engines (the oracle mirrors this)
    val probes = docs
      .where(pmod(col("doc_id"), lit(probeSlice)) === 0 &&
        contaminationFp(true).isNotNull)
      .select(col("doc_id"), lit("probe").as("kind"))
    val hits = contamination(docs, near = true)
      .select(col("doc_id"), lit("hit").as("kind"))
    probes.unionByName(hits)
      .join(candidates, Seq("doc_id"), "left")
      .select(col("doc_id"), col("kind"),
        coalesce(col("in_bloom"), lit(false)).as("in_bloom"))
      .orderBy("kind", "doc_id")
  }

  /** Contamination check: corpus docs whose content fingerprint matches
    * any probe doc (≙ a benchmark/eval set — here the fixture's
    * doc_id % 50 == 0 slice). `near = false` keys on the exact
    * normalized-text md5; `near = true` keys on the min-shingle md5
    * (near-identical docs collide — benchmark paraphrase leakage). The
    * probe side is tiny → broadcast left-semi join on the fingerprint; no
    * shuffle of the corpus. */
  /** The contamination fingerprint: exact normalized-text md5, or the
    * min-shingle md5 (`near = true` — paraphrase-level collisions). Shared
    * by the exact gate, the Bloom prefilter, and the composed verified
    * pipeline so all three key on identical bytes. */
  private def contaminationFp(near: Boolean): Column =
    if (near) graft.expr.MinShingleMd5(wsTokens(lower(col("text"))), 3)
    else md5(normText(col("text")))

  def contamination(docs: DataFrame, near: Boolean = false): DataFrame = {
    val fp = contaminationFp(near)
    val corpus = docs.select(col("doc_id"), fp.as("fp"))
    val probes = docs
      .where(pmod(col("doc_id"), lit(probeSlice)) === 0)
      .select(col("doc_id").as("probe_id"), fp.as("fp"))
    corpus
      .join(broadcast(probes),
        corpus("fp") === probes("fp") && col("doc_id") =!= col("probe_id"),
        "left_semi")
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }

  /** Structured-identifier PII patterns completing [[piiScrub]]'s
    * email/URL gate: IPv4 dotted quads and E.164-ish `+`-digit phones.
    * Like [[emailPattern]], restricted to the Java-regex ∩ RE2 common
    * subset (character classes, bounded quantifiers, `\b`; no
    * alternation, no lookaround) so Spark and the DuckDB oracle match
    * byte-identically.
    *
    * KNOWN FALSE-POSITIVE CLASSES (ADVICE r7 — the price of the
    * no-alternation subset): `ipv4Pat` accepts out-of-range quads
    * (`999.999.999.999`, and version-like strings `10.2.300.4000` hit
    * on a 1-3-digit window), and `phonePat` greedily spans any
    * `+`-led digit/space/hyphen run of 7-15 digits, so numeric ranges
    * like `+1 2024-2026 100` can match. Both err toward REDACTING
    * non-PII, never toward leaking PII — acceptable for a triage/
    * redaction gate (a dropped version string costs recall of nothing
    * sensitive); a policy needing exact octet bounds would move to
    * alternation `(25[0-5]|2[0-4]\d|1?\d?\d)` and give up the shared
    * oracle subset. */
  val ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePat = "\\+\\d[\\d -]{5,13}\\d"

  /** Full PII triage + redaction: per-pattern hit counts on the RAW
    * text and the text with emails → `<EMAIL>`, then IPv4s → `<IP>`,
    * then phones → `<PHONE>` substituted, in that fixed order. The
    * counts are INDEPENDENT detectors, not substitution tallies: a
    * span inside an earlier-redacted match counts but does not
    * substitute (`a+1234567@b.com` → n_emails=1 AND n_phones=1, one
    * `<EMAIL>` in the output; likewise a dotted quad inside an email
    * domain). Triage policies should read the counts as "pattern
    * present", not "tokens replaced". Pure codegen'd regexp
    * expressions — one scan, no shuffle, no UDF: the shape that runs
    * at full scan bandwidth on any corpus size. */
  /** Total PII hits (all three detectors) on raw `text`. */
  def piiCount(text: Column): Column =
    regexp_count(text, lit(emailPattern)) +
      regexp_count(text, lit(phonePat)) +
      regexp_count(text, lit(ipv4Pat))

  /** `text` with the fixed-order email → IP → phone substitution. */
  def piiRedacted(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pat, "<IP>"),
      phonePat, "<PHONE>")

  def piiRedact(docs: DataFrame): DataFrame =
    scanParallel(docs).select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailPattern)).as("n_emails"),
      regexp_count(col("text"), lit(phonePat)).as("n_phones"),
      regexp_count(col("text"), lit(ipv4Pat)).as("n_ips"),
      piiRedacted(col("text")).as("redacted"))

  /** Cross-source duplication matrix: for every source pair, how many
    * distinct 3-token shingles they share and the containment
    * `|A∩B| / min(|A|,|B|)` — the corpus-level view of the doc-level
    * near-dup gates, read when deciding whether two crawls/domains are
    * re-hosting each other before mixing them. Pairs sharing no shingle
    * are omitted (their containment is 0).
    *
    * Scale: an inverted-index join — shingle-keyed, never all-pairs; a
    * shingle shared by k sources contributes k(k−1)/2 candidate rows
    * bounded by |sources|², and the (source, shingle) frame is already
    * distinct so hot shingles count once per source pair. Everything
    * after the join is |sources|²-sized. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    // UNFENCED by design (r20, reverting the r19 persist): the distinct
    // (source, shingle) frame is CORPUS-SIZED, so materializing it costs
    // more than the scan-shaped recompute it saves (measured: 1.52 s
    // unfenced r18 vs 2.73 s fenced r19 in the driver bench, ~15% slower
    // even calibrated) and would spill at 100 TB — the same
    // corpus-sized-frame rule that keeps perplexity token frames
    // unfenced. The sketch twins keep their fences: their frames are
    // |sources|·k-bounded.
    val grams = scanParallel(docs)
      .select(col("source"), wsTokens(lower(col("text"))).as("ts"))
      .select(col("source"), explode(shingles(col("ts"), 3)).as("g"))
      .distinct()
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val a = grams.select(col("source").as("src_a"), col("g"))
    val b = grams.select(col("source").as("src_b"), col("g").as("g2"))
    a.join(b, col("g") === col("g2") && col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n_sh").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n_sh").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_common"),
        round(col("n_common").cast("double") / least(col("n_a"), col("n_b")), 6)
          .as("containment_r"))
      .orderBy("src_a", "src_b")
  }

  /** The 100 TB scale path for [[sourceOverlap]] (VERDICT r7 item 7):
    * the exact operator's distinct (source, shingle) frame is
    * corpus-sized, so its inverted-index join touches every shingle. A
    * BOTTOM-K (KMV) min-hash sketch per source bounds the pair matrix
    * at |sources|·k rows regardless of corpus size: each source keeps
    * its k smallest shingle-hash values; for a pair, the small side's
    * sketch entries below the other side's kth-smallest are a uniform
    * sample of the small side's shingle set with an EXACT membership
    * test (h < other's kth ⟹ h ∈ other's sketch iff h ∈ other), so the
    * hit fraction estimates the containment `|A∩B| / min(|A|,|B|)` with
    * std-err ≈ √(C(1−C)/support) (Bar-Yossef et al., RANDOM'02; the
    * Beyer et al. KMV construction).
    *
    * No per-source sort task (the trap a naive bottom-k window would
    * hit — one task sorting a 100 TB domain): a DETERMINISTIC coarse
    * prefilter keeps hashes below `4·k/n_sh` of the hash range
    * (exact per-source counts, one aggregate), leaving ~4·k
    * survivors per source with undercount probability e^(−Θ(4·k))
    * — vanishing at k=256 — and only THEN ranks the bounded survivor
    * set per source. Sources with n_sh ≤ k keep their complete hash
    * set, making their membership tests exact. Hashes are the PORTABLE
    * md5 60-bit prefix (uniform in [0, 2⁶⁰)) of the same 3-token
    * shingles as the exact operator — the DedupIndex portable-hash
    * precedent, which is what lets this sketch carry a FULL DuckDB
    * oracle (round 10; previously the sign-masked xxhash64 made it
    * hash-specific and rows-only): both engines derive bit-identical
    * hash sets, so the k-min selection, the membership tests, and the
    * estimate replay exactly.
    *
    * Output: `(src_a, src_b, n_a, n_b, support, containment_est_r)` for
    * pairs with at least one sampled hit opportunity. TextAnalysisSpec
    * additionally pins the error bound against the exact matrix and
    * the sketch-size invariant. */
  def sourceOverlapSketch(
      docs: DataFrame, k: Int = 256): DataFrame = {
    // same fence rationale as [[sourceOverlap]] (r19): grams feeds the
    // size aggregate and the sketch build; sketches feeds BOTH sides of
    // the pair frame — unfenced, the shingle-hash distinct pipeline ran
    // four times (12 parquet scans / 48 exchanges in the sf0.01 plan).
    // Unlike the exact operator, the fences here are scale-safe: grams
    // persists only until the two consumers run, and sketches is
    // |sources| rows by construction.
    val grams = Fence.cached(scanParallel(docs)
      .select(col("source"), wsTokens(lower(col("text"))).as("ts"))
      .select(col("source"), explode(shingles(col("ts"), 3)).as("g"))
      .select(col("source"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("hv"))
      .distinct())
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n_sh"))
    // coarse prefilter threshold: full range when the source fits in
    // 4·k (its sketch is then its complete hash set). 2⁶⁰ and the
    // product with 4·k are exact doubles; the long cast truncates
    // toward zero in both engines (floor, values positive).
    val thr = sizes.withColumn("thr",
      when(col("n_sh") <= lit(4L * k), lit(Long.MaxValue))
        .otherwise((lit(math.pow(2.0, 60)) * lit((4 * k).toDouble) /
          col("n_sh")).cast("long")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("hv"))
    val sketches = Fence.cached(grams
      .join(broadcast(thr), Seq("source"))
      .where(col("hv") < col("thr"))
      .withColumn("rn", row_number().over(w)) // ≤ ~4·k rows/source
      .where(col("rn") <= k)
      .groupBy("source")
      .agg(sort_array(collect_list(col("hv"))).as("sk"))
      .join(broadcast(sizes), Seq("source")))
    val a = sketches.select(col("source").as("src_a"), col("sk").as("ska"),
      col("n_sh").as("n_a"))
    val b = sketches.select(col("source").as("src_b"), col("sk").as("skb"),
      col("n_sh").as("n_b"))
    // |sources|² pair frame — bounded by design, like the exact matrix
    val smallSk = when(col("n_a") <= col("n_b"), col("ska")).otherwise(col("skb"))
    val otherSk = when(col("n_a") <= col("n_b"), col("skb")).otherwise(col("ska"))
    val otherN = greatest(col("n_a"), col("n_b"))
    // the other side's kth smallest — its sketch is complete (exact
    // membership) when it holds its whole set
    val tOther = when(otherN > lit(k.toLong),
      element_at(otherSk, k)).otherwise(lit(Long.MaxValue))
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .withColumn("sample", filter(smallSk, h => h < tOther))
      .withColumn("support", size(col("sample")))
      .withColumn("hits",
        size(array_intersect(col("sample"), otherSk)))
      .where(col("support") > 0)
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("support"),
        round(col("hits").cast("double") / col("support"), 6)
          .as("containment_est_r"))
      .orderBy("src_a", "src_b")
  }

  /** Per-source salient terms by TF-IDF — the "what is this domain
    * about" dashboard next to [[sourceMixture]] and
    * [[Lm.sourceLmDivergence]]. Each source is scored as one
    * mega-document: `tf` its token count, `df` how many sources contain
    * the term, and idf the BM25 rational `(S − df + 0.5)/(df + 0.5)` —
    * deliberately log-free, because `ln` is not correctly-rounded
    * cross-engine but an integer-fed divide is: `tf·(S − df + 0.5)` is
    * exact in doubles (half-integers below 2⁵²) and one IEEE division
    * ends the expression, so scores — and the ranking — are
    * bit-identical to the oracle. Ties break by term.
    *
    * Scale: one token-keyed count shuffle (map-side combined), a
    * term-keyed df aggregate of the already-small (source, term) frame,
    * and a top-`topN` window per source over vocabulary-sized rows —
    * nothing corpus-global, no data-sized window. */
  def sourceTfIdf(docs: DataFrame, topN: Int = 10): DataFrame = {
    val toks = scanParallel(docs)
      .select(col("source"), wsTokens(lower(col("text"))).as("ts"))
      .select(col("source"), explode(col("ts")).as("term"))
    val tf = toks.groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nSrc = tf.agg(countDistinct(col("source")).as("n_sources"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nSrc))
      .withColumn("score",
        col("tf").cast("double") * (col("n_sources") - col("df") + lit(0.5))
          / (col("df") + lit(0.5)))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topN)
      .select(col("source"), col("rnk"), col("term"), col("tf"), col("df"),
        round(col("score"), 6).as("score_r"))
      .orderBy("source", "rnk")
  }
}
