package graft.ext

import graft.SparkSuite
import graft.util.Fence
import org.apache.spark.sql.functions._

/** Training-data triage ops the fixture corpus doesn't exercise end-to-end
  * (it contains no PII and no exact duplicates): plant the cases and pin
  * the behavior. */
class TextAnalysisSpec extends SparkSuite {

  import spark.implicits._

  test("langId classifies planted UNSEGMENTED CJK as zh via script-range " +
      "scoring (r17) — whole-token lexicon matching is structurally " +
      "blind to it — and keeps segmented languages on the lexicon path") {
    val docs = Seq(
      // unsegmented Chinese: ONE whitespace token, zero lexicon hits —
      // the pre-r17 scorer classified this 'und'/'en'
      (1L, "这是一个没有空格的中文句子用来测试语言识别", "zh"),
      // traditional chars are in the same CJK Unified block
      (2L, "繁體中文測試句子也必須正確分類", "zh"),
      // mixed: a little English, mostly CJK — Han chars outnumber hits
      (3L, "spark 是一个分布式计算引擎用于大规模数据处理", "zh"),
      // plain English dominates its own signal
      (4L, "the cat sat on the mat and it was a good day", "en"),
      // German function words
      (5L, "der hund und die katze sind nicht mit dem vogel", "de"),
      // no signal at all → und
      (6L, "zzz qqq xxx", "und"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("predicted_lang")).toMap
    for ((id, _, want) <- Seq((1L, "", "zh"), (2L, "", "zh"),
      (3L, "", "zh"), (4L, "", "en"), (5L, "", "de")))
      assert(out(id) == want, s"doc $id")
    // all-zero scores fall to the first language in tie-break order —
    // the documented deterministic behavior, pinned so a scorer
    // reordering shows up here
    assert(out(6L) == "en")
    // the web-tier CJK phrase itself (the r16 fixture axis) scores zh
    // (its 4 Han chars tie its 4 Cyrillic chars — zh wins on order)
    val phrase = Seq((9L, "中文 測試 — тест €™", "zh"))
      .toDF("doc_id", "text", "lang")
    assert(TextAnalysis.langId(phrase).head()
      .getAs[String]("predicted_lang") == "zh")
    // Cyrillic and Greek script ranges (r17): dominant-script text
    // classifies ru / el even with zero lexicon signal
    val scripts = Seq(
      (20L, "это русское предложение для проверки", "ru"),
      (21L, "αυτή είναι μια ελληνική πρόταση", "el"))
      .toDF("doc_id", "text", "lang")
    val sOut = TextAnalysis.langId(scripts).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("predicted_lang")).toMap
    assert(sOut(20L) == "ru" && sOut(21L) == "el")
  }

  test("langId ja/ko script ranges with kana precedence (r18): " +
      "kanji-bearing Japanese classifies ja, Hangul classifies ko, " +
      "CJK-only text stays zh") {
    val docs = Seq(
      // kanji-HEAVY Japanese: 12 kanji vs 10 kana — plain per-block
      // counting would say zh; kana presence reassigns the Han count
      (30L, "日本語の文章は漢字と仮名が混在する言語です", "ja"),
      // katakana-heavy Japanese (loanwords)
      (31L, "コンピュータ サイエンス の テスト", "ja"),
      // the r18 web-fixture phrase itself
      (32L, "日本語のテスト — 完了です", "ja"),
      // Korean: Hangul syllable block, no precedence needed
      (33L, "한국어 문서 분류 테스트 입니다", "ko"),
      (34L, "한국어 테스트 문서 © 준비 완료", "ko"),
      // CJK-only (zero kana) must STAY zh — the precedence rule's
      // guard case
      (35L, "这是一个没有空格的中文句子用来测试语言识别", "zh"),
      (36L, "繁體中文測試句子也必須正確分類", "zh"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("predicted_lang")).toMap
    for (id <- 30L to 32L) assert(out(id) == "ja", s"doc $id")
    for (id <- 33L to 34L) assert(out(id) == "ko", s"doc $id")
    for (id <- 35L to 36L) assert(out(id) == "zh", s"doc $id")
  }

  test("langIdMargin (r18): unambiguous text scores a wide margin, " +
      "mixed-language text lands under the confidence cut") {
    val docs = Seq(
      // 6 en function words vs nothing → margin 6, confident
      (1L, "the cat of the house and the dog in it", "en"),
      // en vs de mixed: "the ... und die ist" — margins collapse
      (2L, "the und die ist of it", "mixed"),
      // pure Cyrillic: script count dominates
      (3L, "это русское предложение для проверки системы", "ru"),
      // no signal at all: everything zero, margin zero
      (4L, "zzz qqq xxx", "und"))
      .toDF("doc_id", "text", "lang")
    val rows = TextAnalysis.langIdMargin(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("predicted_lang"), r.getAs[Long]("margin"),
          r.getAs[Boolean]("confident")))).toMap
    assert(rows(1L)._1 == "en" && rows(1L)._3,
      s"unambiguous en must be confident: ${rows(1L)}")
    assert(!rows(2L)._3, s"mixed en/de must not be confident: ${rows(2L)}")
    assert(rows(3L)._1 == "ru" && rows(3L)._3)
    assert(rows(4L)._2 == 0L && !rows(4L)._3)
  }

  test("piiScrub redacts planted emails and urls, counts hits") {
    val docs = Seq(
      (1L, "contact me at alice@example.com or https://example.com/x?y=1 today"),
      (2L, "no pii here at all"),
      (3L, "two mails: a@b.co and c.d+e@f-g.org"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.piiScrub(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_emails"), r.getAs[Int]("n_urls"), r.getAs[String]("scrubbed"))))
      .toMap
    assert(got(1L)._1 === 1 && got(1L)._2 === 1)
    assert(got(1L)._3 === "contact me at <EMAIL> or <URL> today")
    assert(got(2L) === ((0, 0, "no pii here at all")))
    assert(got(3L)._1 === 2)
    assert(got(3L)._3 === "two mails: <EMAIL> and <EMAIL>")
  }

  test("trainValSplit is total, deterministic, and content-keyed") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val s1 = TextAnalysis.trainValSplit(docs).collect()
    val s2 = TextAnalysis.trainValSplit(docs).collect()
    assert(s1.length === docs.count())
    assert(s1.map(_.toString).toSeq === s2.map(_.toString).toSeq, "deterministic")
    val splits = s1.map(_.getAs[String]("split")).toSet
    assert(splits.subsetOf(Set("train", "val")))
    // exact duplicate content → same split regardless of doc_id
    val dup = Seq((100L, "Same Text!"), (200L, "same text")).toDF("doc_id", "text")
    val assigned = TextAnalysis.trainValSplit(dup)
      .select("split").distinct().count()
    assert(assigned === 1, "duplicates (modulo normalization) co-locate")
  }

  test("contamination flags planted probe matches, exact and near") {
    // probe ids are doc_id % 50 == 0; doc 77 copies probe 50's text
    // exactly, doc 88 copies it with one word changed (near)
    val base = "the quick brown fox jumps over the lazy dog again and again ok"
    val docs = Seq(
      (50L, base),
      (77L, base.toUpperCase), // exact modulo normalization
      (88L, base.replace("lazy", "sleepy")), // near: most shingles shared
      (99L, "completely different content with nothing in common here"))
      .toDF("doc_id", "text")
    val exact = TextAnalysis.contamination(docs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(exact === Set(77L))
    val near = TextAnalysis.contamination(docs, near = true)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(near.contains(77L), "exact dup also collides on min-shingle")
    assert(!near.contains(99L), "unrelated doc never flags")
  }

  test("contaminationNgram flags a quoted 13-token span that whole-doc " +
      "fingerprints miss") {
    // doc 61 embeds a verbatim 13-token span of probe 50 inside otherwise
    // original text: its whole-doc md5 AND min-shingle fingerprint differ
    // from the probe's, but one shared 13-gram is leakage
    val span = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu"
    val docs = Seq(
      (50L, s"benchmark question prelude $span and the official answer key"),
      (61L, s"my original essay quotes $span then continues differently onward"),
      (62L, "twelve tokens only cannot possibly contain any thirteen gram overlap"),
      (99L, "completely unrelated content sharing no long span with the probe set at all yes"))
      .toDF("doc_id", "text")
    val exact = TextAnalysis.contamination(docs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val near = TextAnalysis.contamination(docs, near = true)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(!exact.contains(61L) && !near.contains(61L),
      "whole-doc fingerprints miss the embedded span")
    val ngram = TextAnalysis.contaminationNgram(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared"))
      .toMap
    assert(ngram.contains(61L), "span decontamination catches the quote")
    assert(ngram(61L) >= 1L)
    assert(!ngram.contains(62L) && !ngram.contains(99L))
    assert(!ngram.contains(50L), "a probe does not flag against itself")
  }

  test("bloom contamination prefilter: no false negatives, bounded survivors") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val exact = TextAnalysis.contamination(docs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // probes themselves always pass their own filter
    val probes = docs.where(pmod(col("doc_id"), lit(50)) === 0)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val bloom = TextAnalysis.contaminationBloom(docs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert((exact ++ probes).subsetOf(bloom), "bloom must never drop a true hit")
    // ~1% fpp over 500 docs → survivors stay near probes + true hits
    assert(bloom.size <= probes.size + exact.size + 25,
      s"too many bloom survivors: ${bloom.size}")
  }

  test("self-verifying check forms (VERDICT r10 item 3): HLL tolerance, " +
      "deflate band, and bloom no-false-negative all report green") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val hll = TextAnalysis.distinctApproxCheck(docs).collect().head
    assert(hll.getAs[Boolean]("norm_within_tol"))
    assert(hll.getAs[Boolean]("sources_within_tol"))
    assert(hll.getAs[Long]("exact_norm_texts") > 0)
    val band = TextAnalysis.compressionBandCheck(docs).collect()
    assert(band.nonEmpty)
    band.foreach { r =>
      assert(r.getAs[Boolean]("deflate_ge_floor"),
        s"floor violated for doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Boolean]("deflate_le_bound"),
        s"compressBound violated for doc ${r.getAs[Long]("doc_id")}")
    }
    // band check also trips on garbage: a synthetic deflate_len of 0 or
    // 2×len would violate floor/bound respectively (sanity of the bounds
    // themselves, computed from the same stats)
    val s = "x" * 5000
    val dl = graft.expr.DeflateLen.deflatedLength(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    assert(dl >= math.max(8, math.ceil(5000.0 / 1032).toInt))
    assert(dl <= 5000 + 5000 / 4096 + 5000 / 16384 + 13)
    val nfn = TextAnalysis.contaminationBloomNoFalseNeg(docs).collect()
    assert(nfn.nonEmpty)
    assert(nfn.forall(_.getAs[Boolean]("in_bloom")),
      "a must-contain doc tested not-in-bloom")
    assert(nfn.exists(_.getAs[String]("kind") == "probe"))
  }

  test("stratifiedSample returns ≤ k docs per source, every source present") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val got = TextAnalysis.stratifiedSample(docs, kPerStratum = 3).collect()
    val bySource = got.groupBy(_.getAs[String]("source"))
    val allSources = docs.select("source").distinct().count()
    assert(bySource.size === allSources, "every source sampled")
    assert(bySource.values.forall(_.length <= 3))
    // ranks are 1..n within each source
    bySource.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rk")).sorted.toSeq ===
        (1 to rows.length).toSeq)
    }
  }

  test("lengthBucketBatches: batches respect size, bucket bounds, and " +
      "exact padding arithmetic") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val got = TextAnalysis.lengthBucketBatches(docs, bucketWidth = 64, batchSize = 8)
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      assert(n >= 1 && n <= 8, "batch size bounded")
      val waste = r.getAs[Long]("pad_waste")
      assert(waste === n * r.getAs[Long]("max_tok") - r.getAs[Long]("sum_tok"))
      assert(waste >= 0)
      // members of one batch share a bucket ⇒ max_tok within bucket range
      val b = r.getAs[Long]("bucket")
      assert(r.getAs[Long]("max_tok") / 64 === b)
    }
    // total docs across batches = corpus size
    assert(got.map(_.getAs[Long]("n_docs")).sum === docs.count())
  }

  test("compressionStats: repetition compresses below natural text, " +
      "noise above; deterministic") {
    val natural = "the quick brown fox jumps over the lazy dog while the " +
      "river flows past the quiet village and evening settles in slowly"
    val repetitive = "buy now " * 40
    val noise = (1 to 120).map(i =>
      Integer.toHexString(i * 2654435761L.toInt).take(2)).mkString
    val docs = Seq((1L, natural), (2L, repetitive.trim), (3L, noise))
      .toDF("doc_id", "text")
    val r = TextAnalysis.compressionStats(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("ratio")).toMap
    assert(r(2L) < r(1L), "repetition compresses harder than natural text")
    assert(r(3L) > r(2L), "noise compresses worse than repetition")
    // deterministic across runs
    val again = TextAnalysis.compressionStats(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("ratio")).toMap
    assert(r === again)
  }

  test("nfcDigest: precomposed and combining-mark forms hash identically") {
    val precomposed = "caf\u00e9 r\u00e9sum\u00e9"       // é = U+00E9
    val decomposed = "cafe\u0301 re\u0301sume\u0301"   // e + combining acute
    assert(precomposed != decomposed, "raw strings differ")
    val docs = Seq((1L, precomposed), (2L, decomposed), (3L, "plain ascii"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.nfcDigest(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("nfc_md5"), r.getAs[Int]("nfc_len")))).toMap
    assert(got(1L) === got(2L), "NFC collapses the two forms")
    assert(got(1L)._2 === precomposed.length)
    assert(got(3L)._1 !== got(1L)._1)
  }

  test("vocabTopK counts and orders with deterministic tie-break") {
    val docs = Seq((1L, "b a a c b a"), (2L, "c b")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabTopK(docs, k = 3)
      .collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("n")))
    assert(got.toSeq === Seq(("a", 3L), ("b", 3L), ("c", 2L)))
  }

  test("new operators tolerate null and empty text without crashing") {
    val docs = Seq(
      (1L, null.asInstanceOf[String], "s1"),
      (2L, "", "s1"),
      (3L, "real words here three times real words here", "s2"))
      .toDF("doc_id", "text", "source")
    // repetitionStats: null/empty docs contribute no grams and drop out;
    // the real doc survives with sane fractions
    val rep = TextAnalysis.repetitionStats(docs).collect()
    assert(rep.map(_.getAs[Long]("doc_id")).contains(3L))
    assert(rep.forall(r => !r.getAs[Double]("dup_token_frac").isNaN))
    // packWindows: every doc keeps a row; null text → null token count,
    // empty text → its (degenerate) token count, offsets stay monotone
    val pw = Fence.scope(Packing.packWindows(docs, budget = 10).collect())
    assert(pw.length === 3)
    // sourceMixture: null text aggregates as zero tokens, no crash
    val mix = TextAnalysis.sourceMixture(docs).collect()
    assert(mix.length === 2)
  }

  test("round-5 operators tolerate null and empty text without crashing") {
    import org.apache.spark.sql.functions.{col, split}
    val docs = Seq(
      (1L, null.asInstanceOf[String], "s1", 0L),
      (2L, "", "s1", 0L),
      (3L, "real words here three times real words here", "s2", 43L))
      .toDF("doc_id", "text", "lang", "n_chars")
      .withColumnRenamed("lang", "source")
      .select(col("doc_id"), col("text"),
        org.apache.spark.sql.functions.lit("en").as("lang"),
        col("source"), col("n_chars"))
    // 13-gram decontamination: no doc reaches 13 tokens → empty, no crash
    assert(TextAnalysis.contaminationNgram(docs, probeModulus = 3).count() === 0L)
    // compression / NFC: null propagates as null, empty yields a row
    val cs = TextAnalysis.compressionStats(docs).collect()
    assert(cs.length === 3)
    val nfc = TextAnalysis.nfcDigest(docs).collect()
    assert(nfc.length === 3)
    assert(nfc.find(_.getAs[Long]("doc_id") == 1L).get.isNullAt(1),
      "null text → null digest, not a crash")
    // line dedup over real newline splitting with a null row
    val ld = Dedup.lineDedup(docs, split(col("text"), "\n"), minDocs = 2)
      .collect()
    assert(ld.length === 3)
    // stratified sample + batching: null text scores minimum, still sampled
    assert(TextAnalysis.stratifiedSample(docs, kPerStratum = 5).count() >= 1L)
    assert(TextAnalysis.lengthBucketBatches(docs).count() >= 1L)
  }

  test("tokenPmi ranks a planted collocation above independent tokens") {
    // "rock roll" co-occur in exactly the same 6 docs; "noise" appears
    // everywhere (PMI ≈ 0 with anything); filler words pad the vocab
    val docs = ((1 to 6).map(i => (i.toLong, s"rock roll noise filler$i")) ++
      (7 to 20).map(i => (i.toLong, s"noise filler$i other$i")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tokenPmi(docs, vocabK = 50, minPairCount = 3, k = 10)
      .collect()
    val top = got.head
    assert((top.getAs[String]("t1"), top.getAs[String]("t2")) === (("rock", "roll")))
    // PMI(rock, roll) = ln(6·20/(6·6)) = ln(10/3)
    assert(math.abs(top.getAs[Double]("pmi") - math.log(20.0 / 6)) < 1e-3)
    val noisePair = got.find(r => r.getAs[String]("t1") == "noise" ||
      r.getAs[String]("t2") == "noise")
    noisePair.foreach(r => assert(r.getAs[Double]("pmi") < top.getAs[Double]("pmi")))
  }

  test("weightedSample is deterministic and skews toward higher weights") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val s1 = TextAnalysis.weightedSample(docs, k = 20).collect()
    val s2 = TextAnalysis.weightedSample(docs, k = 20).collect()
    assert(s1.map(_.toString).toSeq === s2.map(_.toString).toSeq, "deterministic")
    assert(s1.length === 20)
    // weight-proportional sampling must pull the sampled mean weight
    // above the corpus mean weight
    val sampledMean = s1.map(_.getAs[Double]("w_r")).sum / s1.length
    val corpusMean = TextAnalysis.qualityScore(docs)
      .agg(avg(greatest(col("quality"), lit(0.001)))).head().getDouble(0)
    assert(sampledMean > corpusMean,
      s"sampled mean $sampledMean should exceed corpus mean $corpusMean")
  }

  test("sourceMixture: weights normalize to 1 and compress source skew") {
    // source a: ~4x the tokens of source b → raw share 0.8/0.2, but the
    // α=0.7 weight must land strictly between the raw share and uniform
    val docs = Seq(
      (1L, Seq.fill(80)("w").mkString(" "), "a"),
      (2L, Seq.fill(20)("w").mkString(" "), "b"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceMixture(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("token_share_r"),
          r.getAs[Double]("mix_weight_r")))).toMap
    assert(got("a")._1 === 80L && got("b")._1 === 20L)
    assert(got("a")._2 === 0.8 && got("b")._2 === 0.2)
    val (wa, wb) = (got("a")._3, got("b")._3)
    assert(math.abs(wa + wb - 1.0) < 2e-6, "weights normalize")
    assert(wa < 0.8 && wa > 0.5, s"temperature compresses the big source: $wa")
    assert(wb > 0.2 && wb < 0.5, s"and boosts the small one: $wb")
  }

  test("memorizationRate: a verbatim split leak scores 1.0, a half-copied " +
      "doc scores its overlap fraction, novel text scores 0") {
    val words = (1 to 40).map(i => s"w$i").mkString(" ")          // 40 tokens
    val half = ((1 to 20).map(i => s"w$i") ++ (1 to 20).map(i => s"x$i")).mkString(" ")
    val novel = (1 to 40).map(i => s"z$i").mkString(" ")
    val docs = Seq(
      0L -> words,   // train
      1L -> words,   // held-out verbatim leak
      3L -> half,    // first 20 tokens shared -> 13 of 33 8-grams hit
      5L -> novel)   // no shared 8-gram
      .toDF("doc_id", "text")
    val got = TextAnalysis.memorizationRate(docs, pmod(col("doc_id"), lit(2)) === 0)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_memorized"),
          r.getAs[Double]("mem_rate_r")))).toMap
    assert(got(1L) === ((33L, 33L, 1.0)))
    // half: 33 grams; grams starting at positions 1..13 lie fully in the
    // shared 20-token prefix (13 hits), the straddling ones don't
    assert(got(3L)._1 === 33L && got(3L)._2 === 13L)
    assert(got(5L) === ((33L, 0L, 0.0)))
  }

  test("repetitionStats: hand-computed fractions and keep thresholds") {
    // doc 1: tokens [aa bb aa bb cc], len 14
    //   n=1: aa:2 bb:2 cc:1 → dup_token_frac = 4/5
    //   n=2: "aa bb":2 (cov 10), others cov 5 → top_bigram = 10/14
    //   n=3: all distinct, cov 8 → top_trigram = 8/14
    //   n=5: single 5-gram once → dup_5gram = 0
    // doc 2: 30 distinct 3-char tokens → low fractions, keep = true
    val longDoc = (1 to 30).map(i => f"t$i%02d").mkString(" ")
    val docs = Seq((1L, "aa bb aa bb cc"), (2L, longDoc))
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = got(1L)
    assert(d1.getAs[Int]("len_chars") === 14)
    assert(d1.getAs[Double]("dup_token_frac") === 4.0 / 5)
    assert(d1.getAs[Double]("top_bigram_char_frac") === 10.0 / 14)
    assert(d1.getAs[Double]("top_trigram_char_frac") === 8.0 / 14)
    assert(d1.getAs[Double]("dup_5gram_char_frac") === 0.0)
    assert(!d1.getAs[Boolean]("keep"))
    val d2 = got(2L)
    assert(d2.getAs[Double]("dup_token_frac") === 0.0)
    assert(d2.getAs[Double]("top_bigram_char_frac") === 7.0 / 119)
    assert(d2.getAs[Boolean]("keep"))
  }

  test("sourceTfIdf: source-exclusive terms beat shared ones, " +
      "BM25-rational scores are exact") {
    import spark.implicits._
    // S=3; 'banana' in all sources (idf 0.5/3.5), exclusives (idf 2.5/1.5)
    val docs = Seq(
      (1L, "s1", "apple apple banana"),
      (2L, "s2", "banana cherry"),
      (3L, "s3", "banana date date date"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.sourceTfIdf(docs, topN = 2).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("rnk")) ->
        (r.getAs[String]("term"), r.getAs[Double]("score_r")))
      .toMap
    assert(got(("s1", 1)) === ("apple", math.rint(2 * 2.5 / 1.5 * 1e6) / 1e6))
    assert(got(("s2", 1)) === ("cherry", math.rint(1 * 2.5 / 1.5 * 1e6) / 1e6))
    assert(got(("s3", 1)) === ("date", 5.0))
    // the shared term ranks 2 everywhere with the same tiny idf
    assert(Seq("s1", "s2", "s3").forall(s => got((s, 2))._1 == "banana"))
    assert(got(("s2", 2))._2 === math.rint(0.5 / 3.5 * 1e6) / 1e6)
  }

  test("sourceOverlap: shared shingles produce one ordered pair with " +
      "min-normalized containment; disjoint and sub-shingle sources drop") {
    import spark.implicits._
    val docs = Seq(
      // s1: shingles {a b c, b c d}; s2 re-hosts "a b c" plus its own
      (1L, "s1", "a b c d"),
      (2L, "s2", "a b c"),
      (3L, "s2", "x y z w"),  // s2 also has {x y z, y z w} → |s2| = 3
      (4L, "s3", "p q r"),    // disjoint from everyone
      (5L, "s4", "q r"))      // < 3 tokens → no shingles at all
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.sourceOverlap(docs).collect()
      .map(r => ((r.getAs[String]("src_a"), r.getAs[String]("src_b")),
        (r.getAs[Long]("n_common"), r.getAs[Double]("containment_r"))))
      .toMap
    // only (s1, s2) share anything: "a b c"; min(|s1|,|s2|) = min(2,3)
    assert(got === Map(("s1", "s2") -> ((1L, 0.5))))
  }

  test("sourceOverlapSketch: sketches are exactly min(k, n_sh) hashes, " +
      "estimates are deterministic, and small sources estimate EXACTLY " +
      "(complete sketches)") {
    import spark.implicits._
    // planted 50% re-hosting, small enough that both sketches are
    // complete → the KMV estimate must equal the exact containment
    val docs = Seq(
      (1L, "s1", "a b c d e f g h i"),       // 7 shingles
      (2L, "s2", "a b c d e"),               // 3 shared with s1
      (3L, "s2", "x y z w v u"))             // 4 own
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.sourceOverlapSketch(docs, k = 256).collect()
      .map(r => ((r.getAs[String]("src_a"), r.getAs[String]("src_b")),
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("containment_est_r")))).toMap
    val exact = TextAnalysis.sourceOverlap(docs).collect()
      .map(r => ((r.getAs[String]("src_a"), r.getAs[String]("src_b")),
        r.getAs[Double]("containment_r"))).toMap
    assert(got.keySet === exact.keySet)
    got.foreach { case (pair, (na, nb, est)) =>
      assert(math.min(na, nb) <= 256, "both sketches complete by design")
      assert(est === exact(pair),
        s"$pair: complete sketches must estimate exactly")
    }
    // determinism: a second run is bit-identical
    val again = TextAnalysis.sourceOverlapSketch(docs, k = 256).collect()
      .map(r => ((r.getAs[String]("src_a"), r.getAs[String]("src_b")),
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("containment_est_r")))).toMap
    assert(again === got)
  }

  test("sourceOverlapSketch error bound vs the exact matrix on the " +
      "fixture corpus: |est − exact| within 4σ of the KMV std-err, " +
      "and every sketch holds exactly min(k, n_sh) hashes") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val k = 256
    val exact = TextAnalysis.sourceOverlap(docs).collect()
      .map(r => ((r.getAs[String]("src_a"), r.getAs[String]("src_b")),
        r.getAs[Double]("containment_r"))).toMap
    val sk = TextAnalysis.sourceOverlapSketch(docs, k).collect()
    assert(sk.nonEmpty)
    sk.foreach { r =>
      val pair = (r.getAs[String]("src_a"), r.getAs[String]("src_b"))
      val est = r.getAs[Double]("containment_est_r")
      val support = r.getAs[Int]("support")
      val ex = exact.getOrElse(pair, 0.0)
      // 4σ Bernoulli bound at the measured support (≥ 0.04 floor keeps
      // the assertion meaningful when ex ≈ 0 or 1)
      val tol = math.max(0.04, 4.0 * math.sqrt(ex * (1 - ex) / support))
      assert(math.abs(est - ex) <= tol,
        s"$pair: est $est vs exact $ex exceeds ±$tol (support $support)")
      // support = small-side sketch entries below the other's kth min:
      // bounded by the sketch size, and nonzero for every emitted pair
      assert(support > 0 && support <= math.min(k.toLong,
        math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))))
    }
  }

  test("piiRedact: planted email/phone/IP are counted and substituted; " +
      "clean text passes through byte-identical") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail alice@example.com and bob.smith+x@sub.domain.org today"),
      (2L, "call +1 415 555 1234 or +4930123456 now"),
      (3L, "host 10.0.0.1 peered with 192.168.255.7"),
      (4L, "no pii here, just text with numbers 12 34"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.piiRedact(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_emails"), r.getAs[Int]("n_phones"),
          r.getAs[Int]("n_ips")), r.getAs[String]("redacted"))).toMap
    assert(got(1L) === (((2, 0, 0), "mail <EMAIL> and <EMAIL> today")))
    assert(got(2L) === (((0, 2, 0), "call <PHONE> or <PHONE> now")))
    assert(got(3L) === (((0, 0, 2), "host <IP> peered with <IP>")))
    assert(got(4L) === (((0, 0, 0), "no pii here, just text with numbers 12 34")))
  }
}
