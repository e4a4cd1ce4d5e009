package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import scala.jdk.CollectionConverters._

/** Streaming corpus ingest: quality gate → online dedup → decontamination,
  * with at-least-once replay absorbed by the watermarked dedup state and
  * semantics pinned to the batch twin (`corpus_clean`, DuckDB-oracled). */
class CorpusIngestSpec extends SparkSuite {

  import spark.implicits._

  private val goodText =
    "the quick brown fox jumps over the lazy dog and it is a fine day in the sun"
  private val otherText =
    "a completely original essay about the nature of distributed systems and their failures"
  private val benchText =
    "benchmark question with the official answer key included in it for the eval"
  private val junkText = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"

  private case class Doc(doc_id: Long, text: String, source: String,
      event_ts: java.sql.Timestamp)
  private def doc(id: Long, text: String, tsSec: Long) =
    (id, text, "s1", new java.sql.Timestamp(tsSec * 1000))

  test("stream gate: junk filtered, duplicates collapsed, benchmark " +
      "fingerprints dropped; replay absorbed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val probeFps = Seq(benchText).toDF("text")
      .select(CorpusIngest.fingerprint.as("fp"))
    val out = tmpDir("corpus_clean_out")
    val ckpt = tmpDir("corpus_clean_ckpt")
    def run(): Unit = {
      val q = CorpusIngest.cleanStream(
          mem.toDF().toDF("doc_id", "text", "source", "event_ts"),
          probeFps)
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    mem.addData(
      doc(1, goodText, 1000),
      doc(2, goodText, 1010),   // exact dup of 1 (same fingerprint)
      doc(3, junkText, 1020),   // fails the quality gate
      doc(4, benchText, 1030),  // contaminated: fp in the probe set
      doc(5, otherText, 1040))
    run()
    // replay the same docs (at-least-once redelivery) + one new doc
    mem.addData(
      doc(1, goodText, 1000),
      doc(5, otherText, 1040),
      doc(6, otherText.toUpperCase, 1050), // dup of 5 modulo normalization
      doc(7, "yet another genuinely new and reasonably long clean document here", 1060))
    run()

    val kept = spark.read.parquet(out)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(kept === Seq(1L, 5L, 7L),
      "junk, duplicates, replays and benchmark docs must all be dropped")
  }

  test("per-stage observe() metrics account for every dropped doc") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val probeFps = Seq(benchText).toDF("text")
      .select(CorpusIngest.fingerprint.as("fp"))
    mem.addData(
      doc(1, goodText, 1000),
      doc(2, goodText, 1010),   // duplicate
      doc(3, junkText, 1020),   // quality reject
      doc(4, benchText, 1030),  // contaminated
      doc(5, otherText, 1040))
    val q = CorpusIngest.cleanStream(
        mem.toDF().toDF("doc_id", "text", "source", "event_ts"), probeFps)
      .writeStream
      .format("parquet")
      .option("path", tmpDir("corpus_metrics_out"))
      .option("checkpointLocation", tmpDir("corpus_metrics_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val m = q.recentProgress.toSeq
      .flatMap(p => p.observedMetrics.asScala.toSeq)
      .groupMapReduce(_._1)((kv: (String, org.apache.spark.sql.Row)) =>
        kv._2.getLong(0))(_ + _)
    assert(m("graft_corpus_in") === 5L)
    assert(m("graft_corpus_quality") === 4L, "junk rejected")
    assert(m("graft_corpus_dedup") === 3L, "duplicate dropped")
    assert(m("graft_corpus_out") === 2L, "benchmark doc dropped")
    // every doc is attributed: stage drops sum to input − output
    val drops = (m("graft_corpus_in") - m("graft_corpus_quality")) +
      (m("graft_corpus_quality") - m("graft_corpus_dedup")) +
      (m("graft_corpus_dedup") - m("graft_corpus_out"))
    assert(drops === m("graft_corpus_in") - m("graft_corpus_out"))
  }

  test("semantic stage drops a paraphrase (same sign-cell, different " +
      "fingerprint); replay absorbed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[
      (Long, String, String, java.sql.Timestamp, Array[Float])]
    val probeFps = Seq(benchText).toDF("text")
      .select(CorpusIngest.fingerprint.as("fp"))
    def sdoc(id: Long, text: String, tsSec: Long, emb: Array[Float]) =
      (id, text, "s1", new java.sql.Timestamp(tsSec * 1000), emb)
    val embA = Array(0.5f, -0.2f, 0.3f, -0.9f)
    val embAish = Array(0.4f, -0.1f, 0.2f, -0.8f) // same signs: same cell
    val embB = Array(-0.5f, 0.2f, 0.3f, -0.9f)    // different cell
    val out = tmpDir("corpus_sem_out")
    val ckpt = tmpDir("corpus_sem_ckpt")
    def run(): Unit = {
      val q = CorpusIngest.cleanStreamSemantic(
          mem.toDF().toDF("doc_id", "text", "source", "event_ts", "embedding"),
          probeFps)
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    mem.addData(
      sdoc(1, goodText, 1000, embA),
      sdoc(2, otherText, 1010, embAish), // paraphrase: new fp, same cell
      sdoc(3, benchText + " but reworded enough to be a new fingerprint here",
        1020, embB))
    run()
    // replay + one exact dup + one new doc in a fresh cell
    mem.addData(
      sdoc(1, goodText, 1000, embA),
      sdoc(4, goodText, 1030, embA),     // exact dup of 1
      sdoc(5, "a genuinely different clean document in its own semantic cell",
        1040, Array(0.1f, 0.2f, 0.3f, 0.4f)))
    run()
    val kept = spark.read.parquet(out)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    // within one micro-batch the state store keeps an ARBITRARY member of
    // a duplicate group (unlike the batch twin's "first doc_id wins"), so
    // assert the set shape: exactly one survivor from the shared
    // sign-cell group {1, 2} (and 4, its later exact dup), plus 3 and 5
    assert(kept.length === 3, s"kept $kept")
    assert(kept.contains(3L) && kept.contains(5L), s"kept $kept")
    assert(kept.count(id => id == 1L || id == 2L || id == 4L) === 1,
      "exactly one doc from the shared semantic cell; replays and the " +
        "later exact dup absorbed")
  }

  test("fixed-vocab LM stream gate: gibberish dropped under a trained " +
      "model; stream scores are bit-identical to the batch scorer") {
    implicit val sqlCtx = spark.sqlContext
    val normal = (0 until 12).map(i =>
      s"the quick brown fox jumps over the lazy dog and it is a fine day $i")
    val gibberish =
      "the zxqv gqpxw of vvkjq and qzzpt is a wqxjvk in the pzzqv it"
    // train on everything the stream should KEEP (otherText included —
    // a doc the model never saw scores as out-of-distribution)
    val trainDocs = (normal :+ otherText).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (model, unk) = graft.ext.Lm.nanoModel(trainDocs, topK = 64)
    // cutoff between the worst in-distribution doc and the gibberish —
    // computed from the model itself so the margin is explicit
    def nll(t: String): Double = {
      val (s, n) = graft.ext.Lm.scoreRow(t, model, unk)
      -(s.toDouble / 1e9) / math.max(n, 1)
    }
    val worstNormal = (normal :+ otherText).map(nll).max
    val gibNll = nll(gibberish)
    assert(gibNll > worstNormal, "the model must separate the gibberish")
    val cutoff = (worstNormal + gibNll) / 2

    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val probeFps = Seq(benchText).toDF("text")
      .select(CorpusIngest.fingerprint.as("fp"))
    val out = tmpDir("corpus_lm_out")
    val ckpt = tmpDir("corpus_lm_ckpt")
    def run(): Unit = {
      val q = CorpusIngest.cleanStreamLm(
          mem.toDF().toDF("doc_id", "text", "source", "event_ts"),
          probeFps, model, unk, nllCutoff = cutoff)
        .writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(
      doc(1, normal.head, 1000),
      doc(2, gibberish, 1010),  // passes quality, fails the LM gate
      doc(3, junkText, 1020),   // fails quality before the model runs
      doc(4, otherText, 1040))
    run()
    mem.addData(doc(1, normal.head, 1000)) // replay absorbed
    run()
    val rows = spark.read.parquet(out).collect()
    val kept = rows.map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(kept === Seq(1L, 4L),
      s"gibberish and junk dropped, replay absorbed: $kept")

    // bit-identical arithmetic: the streamed avg_nll equals the batch
    // scorer's under the same fixed model (integer nano-nat sums)
    val streamed = rows
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_nll_r")).toMap
    val batchDocs = Seq((1L, normal.head), (4L, otherText)).toDF("doc_id", "text")
    val batch = batchDocs.collect().map { r =>
      val (s, n) = graft.ext.Lm.scoreRow(r.getString(1), model, unk)
      r.getLong(0) ->
        BigDecimal(-(s.toDouble / 1e9) / math.max(n, 1))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    assert(streamed === batch)
  }

  test("DSIR stream gate: off-target doc dropped under a trained ratio " +
      "model; stream scores are bit-identical to the batch scorer") {
    implicit val sqlCtx = spark.sqlContext
    // target slice: English-looking prose; off-target: a distinct vocab
    val enDocs = (0 until 10).map(i =>
      s"the quick brown fox jumps over the lazy dog in the sunny park $i")
    val xxDocs = (0 until 10).map(i =>
      s"zor mak tal vun qed rop lim hax fiw gun bex dol $i")
    val trainDocs = (enDocs.map((_, "en")) ++ xxDocs.map((_, "xx")))
      .zipWithIndex
      .map { case ((t, l), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
    val (model, unk) = graft.ext.Dsir.nanoRatioModel(trainDocs, "en", topK = 64)
    def avgLogw(t: String): Double = {
      val (s, n) = graft.ext.Lm.scoreRow(t, model, unk)
      (s.toDouble / 1e9) / math.max(n, 1)
    }
    val worstEn = enDocs.map(avgLogw).min
    val bestXx = xxDocs.map(avgLogw).max
    assert(worstEn > bestXx, "the ratio model must separate the slices")
    val cutoff = (worstEn + bestXx) / 2

    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val probeFps = Seq(benchText).toDF("text")
      .select(CorpusIngest.fingerprint.as("fp"))
    val out = tmpDir("corpus_dsir_out")
    val ckpt = tmpDir("corpus_dsir_ckpt")
    def run(): Unit = {
      val q = CorpusIngest.cleanStreamDsir(
          mem.toDF().toDF("doc_id", "text", "source", "event_ts"),
          probeFps, model, unk, logwCutoff = cutoff)
        .writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(
      doc(1, enDocs.head, 1000),
      doc(2, xxDocs.head, 1010),  // passes quality, fails the DSIR gate
      doc(3, junkText, 1020),     // fails quality before the model runs
      doc(4, enDocs(1), 1040))
    run()
    mem.addData(doc(1, enDocs.head, 1000)) // replay absorbed
    run()
    val rows = spark.read.parquet(out).collect()
    val kept = rows.map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(kept === Seq(1L, 4L),
      s"off-target and junk dropped, replay absorbed: $kept")

    // bit-identical arithmetic: streamed avg_logw equals the row scorer
    // under the same fixed ratio model (integer nano sums)
    val streamed = rows
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logw_r")).toMap
    val batch = Seq((1L, enDocs.head), (4L, enDocs(1))).map { case (id, t) =>
      val (s, n) = graft.ext.Lm.scoreRow(t, model, unk)
      id -> BigDecimal((s.toDouble / 1e9) / math.max(n, 1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    assert(streamed === batch)
  }

  test("batch twin of the DSIR gate matches the in-plan scorer on the " +
      "fixture corpus") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val cleaned = CorpusIngest.cleanBatchDsir(docs).collect()
    assert(cleaned.nonEmpty)
    // survivors all scored at/above the corpus median
    val scores = graft.ext.Dsir.nanoRatioScores(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logw_r"))
      .toMap
    val cut = {
      val sorted = scores.values.toArray.sorted
      // percentile(0.5) interpolation on an even count = midpoint
      if (sorted.length % 2 == 1) sorted(sorted.length / 2)
      else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2
    }
    cleaned.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Double]("avg_logw_r") === scores(id))
      assert(scores(id) >= cut, s"doc $id below the median cut survived")
    }
  }

  test("batch twin of the semantic gate (against the fixtures)") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val embs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val got = CorpusIngest.cleanBatchSemantic(docs, embs).collect()
    assert(got.nonEmpty)
    val plain = CorpusIngest.cleanBatch(docs).collect()
    // the semantic stage only ever removes more
    assert(got.length <= plain.length)
  }

  test("batch twin applies the same gates (against the fixture corpus)") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val got = CorpusIngest.cleanBatch(docs).collect()
    assert(got.nonEmpty)
    val ids = got.map(_.getAs[Long]("doc_id")).toSet
    // no probe-slice doc survives (its own fp is in the probe set)
    assert(!ids.exists(_ % 50 == 0))
    // no duplicate fingerprints in the output
    val fps = got.map(_.getAs[String]("fp"))
    assert(fps.length === fps.distinct.length)
    // quality floor holds
    assert(got.forall(_.getAs[Double]("quality_r") >= 0.3))
  }

  test("corpus K1 sink: streamed appends land the bucketed layout, a " +
      "restart never duplicates, compact restores one file per bucket " +
      "with identical content (ActivitySinkSpec twin)") {
    import graft.sinks.CorpusSink
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val probeFps = Seq(benchText).toDF("text")
      .select(CorpusIngest.fingerprint.as("fp"))
    val table = tmpDir("corpus_sink") + "/corpus"
    val ckpt = tmpDir("corpus_sink_ckpt")
    def run(): Unit = {
      val q = CorpusSink.runToCorpusTable(
        CorpusIngest.cleanStream(
          mem.toDF().toDF("doc_id", "text", "source", "event_ts"), probeFps,
          keepText = true), // training-shard form: text lands in the table
        table, ckpt)
      q.awaitTermination()
    }
    mem.addData(doc(1, goodText, 1000), doc(3, junkText, 1020),
      doc(5, otherText, 1040))
    run()
    mem.addData(
      doc(7, "yet another genuinely new and reasonably long clean document here", 1060))
    run() // second micro-batch appends more bucket files

    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bucketFiles(): Map[String, Int] = fs
      .listStatus(new org.apache.hadoop.fs.Path(table))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("doc_bucket="))
      .map(d => d.getPath.getName ->
        fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet")))
      .toMap
    assert(bucketFiles().nonEmpty)

    // restart with no new data: checkpoint + markers fence every
    // committed batch — the table must not grow
    val before = CorpusSink.read(spark, table)
      .orderBy("doc_id").collect().toSeq
    run()
    val afterRestart = CorpusSink.read(spark, table)
      .orderBy("doc_id").collect().toSeq
    assert(afterRestart === before, "clean restart must not duplicate")
    assert(before.map(_.getAs[Long]("doc_id")) === Seq(1L, 5L, 7L))
    // training-shard form: the text itself landed, readable by a packer
    assert(before.map(_.getAs[String]("text")).forall(_.nonEmpty))

    // bucket column is consistent with the partitioning function
    val bad = CorpusSink.read(spark, table).where(
      col("doc_bucket") =!= pmod(hash(col("doc_id")), lit(32)))
    assert(bad.count() === 0)

    CorpusSink.compact(spark, table)
    val files = bucketFiles()
    assert(files.nonEmpty && files.values.forall(_ === 1),
      s"expected one file per bucket, got $files")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$table/_batches")))
    val afterCompact = CorpusSink.read(spark, table)
      .orderBy("doc_id").collect().toSeq
    assert(afterCompact.map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("fp"), r.getAs[Double]("quality_r"))) ===
      before.map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("fp"), r.getAs[Double]("quality_r"))),
      "compaction must preserve content")
  }

  test("redacted stream: landed text substitutes PII, fingerprints key " +
      "on raw bytes, pii_docs metric counts carriers") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val probeFps = Seq(benchText).toDF("text")
      .select(CorpusIngest.fingerprint.as("fp"))
    val piiText =
      "please contact our support team at help@example.com about the new cluster node 10.0.0.7 today"
    // identical except inside the to-be-redacted spans: must stay
    // DISTINCT (fingerprint reads raw bytes, not redacted ones)
    val piiText2 =
      "please contact our support team at other@example.com about the new cluster node 10.0.0.8 today"
    val out = tmpDir("corpus_redacted_out")
    mem.addData(
      doc(1, piiText, 1000),
      doc(2, piiText2, 1010),
      doc(3, goodText, 1020))
    val q = CorpusIngest.cleanStreamRedacted(
        mem.toDF().toDF("doc_id", "text", "source", "event_ts"), probeFps)
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", tmpDir("corpus_redacted_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.read.parquet(out).orderBy("doc_id").collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 2L, 3L),
      "PII-only differences must not collapse as duplicates")
    val byId = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[String]("text"), r.getAs[Int]("n_pii"))).toMap
    val redactedExpected =
      "please contact our support team at <EMAIL> about the new cluster node <IP> today"
    assert(byId(1L) === ((redactedExpected, 2)))
    assert(byId(2L) === ((redactedExpected, 2)),
      "both variants redact to the same shard text")
    assert(byId(3L)._2 === 0)
    assert(byId(3L)._1 === goodText, "clean text lands byte-identical")
    val pii = q.recentProgress.toSeq
      .flatMap(_.observedMetrics.asScala.get("graft_corpus_pii"))
      .map(r => r.getAs[Long]("pii_docs")).sum
    assert(pii === 2L, "pii_docs metric counts the carriers")
  }

  // --- token-budget gate (VERDICT r7 item 4) ---

  // wordy unique texts that clear the 0.3 quality floor; 16 ws-tokens each
  private def essay(i: Long): String =
    s"this is a genuinely clean and reasonably long document number $i " +
      "about the weather today"

  test("budget stream: grants ration sources online, the boundary doc " +
      "straddles, and the cumulative grant survives a RESTART") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val probeFps = Seq(benchText).toDF("text")
      .select(CorpusIngest.fingerprint.as("fp"))
    // each essay is 15 tokens: s1's grant admits doc 1 (pfx 0) and doc 3
    // (pfx 15 < 20, straddling to 30); s2's grant admits only doc 2
    // (pfx 0 < 5); s3 is absent from the map → grant 0, never admitted
    val grants = Map("s1" -> 20L, "s2" -> 5L)
    val out = tmpDir("corpus_budget_out")
    val ckpt = tmpDir("corpus_budget_ckpt")
    def run(): Unit = {
      val q = CorpusIngest.cleanStreamBudget(
          mem.toDF().toDF("doc_id", "text", "source", "event_ts"),
          probeFps, grants)
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    mem.addData(
      (1L, essay(1), "s1", new java.sql.Timestamp(1000000L)),
      (2L, essay(2), "s2", new java.sql.Timestamp(1001000L)),
      (3L, essay(3), "s1", new java.sql.Timestamp(1002000L)),
      (9L, essay(9), "s3", new java.sql.Timestamp(1003000L)))
    run()
    val firstRun = spark.read.parquet(out)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("tok_pfx")))
      .sortBy(_._1).toSeq
    assert(firstRun === Seq((1L, 0L), (2L, 0L), (3L, 15L)),
      "s1 straddles at doc 3, s2 stops after doc 2, s3 has no grant")
    // RESTART: a new query over the same checkpoint. s1's state is 30
    // ≥ 20 and s2's is 15 ≥ 5 — every further doc must be rejected,
    // including a REPLAY of doc 1 (absorbed by dedup state, so it also
    // must not double-count s1's intake).
    mem.addData(
      (1L, essay(1), "s1", new java.sql.Timestamp(1000000L)), // replay
      (4L, essay(4), "s1", new java.sql.Timestamp(1004000L)),
      (5L, essay(5), "s2", new java.sql.Timestamp(1005000L)))
    run()
    val afterRestart = spark.read.parquet(out)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(afterRestart === Seq(1L, 2L, 3L),
      "restart must resume the CUMULATIVE grant, not reset it")
  }

  test("budget stream fed in doc_id order is row-identical to the " +
      "cleanBatchBudget twin (minus the granted column)") {
    implicit val sqlCtx = spark.sqlContext
    val staticDocs = (1L to 12L).map(i =>
      (i, essay(i), if (i % 3 == 0) "s2" else "s1",
        new java.sql.Timestamp(1000000L + i * 1000)))
    val docsDf = staticDocs.toDF("doc_id", "text", "source", "event_ts")
    // the batch twin allocates over its own clean mass; hand the stream
    // the SAME grants (the offline-allocation production shape)
    val batch = CorpusIngest.cleanBatchBudget(docsDf, probeModulus = 1000)
    val grants = batch.select("source", "granted").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val probeFps = spark.emptyDataset[String].toDF("text")
      .select(CorpusIngest.fingerprint.as("fp"))
    val out = tmpDir("corpus_budget_twin_out")
    mem.addData(staticDocs: _*)
    val q = CorpusIngest.cleanStreamBudget(
        mem.toDF().toDF("doc_id", "text", "source", "event_ts"),
        probeFps, grants)
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", tmpDir("corpus_budget_twin_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("fp"), r.getAs[Double]("quality_r"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("tok_pfx"))
    val streamed = spark.read.parquet(out).collect().map(key).sortBy(_._1).toSeq
    val twin = batch.collect().map(key).sortBy(_._1).toSeq
    assert(streamed === twin)
  }
}
