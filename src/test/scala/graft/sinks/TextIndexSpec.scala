package graft.sinks

import graft.SparkSuite
import graft.util.Fence
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted inverted-index lifecycle: BM25 self-retrieval, term
  * discrimination, append visibility without rebuild, compaction
  * invariance, and RRF fusion semantics. */
class TextIndexSpec extends SparkSuite {

  import spark.implicits._

  // distinct vocabularies per doc, one shared filler term ("the") so df
  // varies: BM25 must rank the doc owning a query's rare terms first
  private val corpus = Seq(
    0L -> "the quick brown fox jumps over the lazy dog",
    1L -> "the shuffle exchange partitions data across executors",
    2L -> "the catalyst optimizer rewrites logical plans into physical plans",
    3L -> "the watermark bounds state for streaming aggregations")

  private def df(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private def q(rows: (Long, String)*): DataFrame =
    rows.toDF("query_id", "qtext")

  test("BM25 probe: each doc's own phrase retrieves it at rank 1, " +
      "shared filler terms do not dominate, ranks are deterministic") {
    val path = tmpDir("textidx")
    TextIndex.build(df(corpus), path)
    val got = TextIndex.bm25TopK(
      q(100L -> "catalyst optimizer plans", 101L -> "quick brown fox"),
      path, k = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score_r")))
    val top = got.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    assert(top === Map(100L -> 2L, 101L -> 0L), s"rank-1 wrong: ${got.toSeq}")
    // scores strictly decrease with rank within a query (no rare-term
    // overlap between the planted docs -> no ties here)
    got.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("query terms absent from the index contribute nothing; a query " +
      "with ONLY unseen terms returns no rows") {
    val path = tmpDir("textidx_unseen")
    TextIndex.build(df(corpus), path)
    val got = TextIndex.bm25TopK(
      q(7L -> "zzz qqq unseen"), path, k = 3).count()
    assert(got === 0L)
  }

  test("max-score term selection: a query with more than maxTermsPerQuery " +
      "terms scores only its lowest-df terms") {
    val path = tmpDir("textidx_maxscore")
    TextIndex.build(df(corpus), path)
    // 5 distinct terms; the four df=1 terms win the R=4 slots and the
    // df=4 filler "the" is dropped — docs matching ONLY "the" never
    // become candidates
    val got = TextIndex.bm25TopK(
      q(9L -> "catalyst optimizer plans the watermark"), path, k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(2L, 3L), s"candidates: $got")
  }

  test("append-then-probe: appended docs are retrievable immediately " +
      "and df/N/avgdl reflect the union") {
    val path = tmpDir("textidx_append")
    TextIndex.build(df(corpus.take(2)), path)
    TextIndex.append(df(Seq(9L -> "broadcast joins avoid the shuffle entirely")), path)
    val got = Fence.scope(TextIndex.bm25TopK(q(1L -> "broadcast joins"), path, k = 2)
      .collect())
    assert(got.head.getAs[Long]("doc_id") === 9L)
    // "the" now occurs in 3 docs: stats must see the union. Probe a
    // pure-filler query: every holder of "the" scores, none excluded
    // (max-score selection caps terms per query, it never empties one).
    val filler = TextIndex.bm25TopK(q(2L -> "the"), path, k = 10).count()
    assert(filler === 3L)
  }

  test("stats: counts reflect the union after append and survive compact") {
    val path = tmpDir("textidx_stats")
    TextIndex.build(df(corpus.take(2)), path)
    TextIndex.append(df(corpus.drop(2)), path)
    def snap() = TextIndex.stats(spark, path).collect().head
    val s1 = snap()
    assert(s1.getAs[Long]("n_docs") === 4L)
    // "the" spans all 4 docs; every doc has >= 6 distinct terms
    assert(s1.getAs[Long]("max_df") === 4L && s1.getAs[Long]("min_df") === 1L)
    assert(s1.getAs[Long]("n_terms") > 20L)
    TextIndex.compact(spark, path)
    assert(snap() === s1)
  }

  test("compact after appends preserves probe results exactly") {
    val path = tmpDir("textidx_compact")
    TextIndex.build(df(corpus.take(2)), path)
    TextIndex.append(df(corpus.drop(2)), path)
    val query = q(5L -> "catalyst plans the watermark")
    val before = Fence.scope(TextIndex.bm25TopK(query, path, k = 4).collect().toSeq)
    TextIndex.compact(spark, path)
    val after = TextIndex.bm25TopK(query, path, k = 4).collect().toSeq
    assert(after === before)
    // compaction collapsed to one file per populated bucket dir
    val postings = new java.io.File(s"$path/postings")
    val perBucket = postings.listFiles().filter(_.getName.startsWith("term_bucket="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perBucket.nonEmpty && perBucket.forall(_ === 1))
  }

  test("streaming ingestion (runToIndex): micro-batches land as postings " +
      "appends, a restart never duplicates, probes see everything " +
      "ingested so far") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("textidx_stream")
    TextIndex.build(df(corpus.take(2)), path)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val ckpt = tmpDir("textidx_stream_ckpt")
    def run(): Unit = {
      val q = TextIndex.runToIndex(
        mem.toDF().toDF("doc_id", "text"), path, ckpt)
      q.awaitTermination()
    }
    mem.addData(corpus(2))
    run()
    Fence.scope(assert(TextIndex.bm25TopK(q(1L -> "catalyst optimizer"), path, k = 1)
      .collect().head.getAs[Long]("doc_id") === 2L))
    mem.addData(corpus(3))
    run()
    run() // restart with nothing new: the checkpoint+marker fence holds
    val lens = spark.read.parquet(s"$path/doclens")
      .select("doc_id").distinct().count()
    assert(lens === 4L)
    assert(TextIndex.bm25TopK(q(2L -> "watermark streaming"), path, k = 1)
      .collect().head.getAs[Long]("doc_id") === 3L)
  }

  test("hybrid RRF: a doc ranked top by both runs beats docs ranked top " +
      "by only one; absent-from-run docs still fuse") {
    val path = tmpDir("textidx_hybrid")
    TextIndex.build(df(corpus), path)
    // dense vectors: doc 2 is the dense twin of the query; doc 1 is the
    // lexical match only; doc 3 matches both moderately
    def v(xs: Double*) = xs.toArray
    val vecs = Seq(
      (0L, v(1.0, 0.0, 0.0)), (1L, v(0.0, 1.0, 0.0)),
      (2L, v(0.0, 0.0, 1.0)), (3L, v(0.0, 0.6, 0.8)))
      .toDF("vec_id", "v")
    val qv = Seq((42L, v(0.0, 0.0, 1.0))).toDF("query_id", "qv")
    val got = TextIndex.hybridRrfTopK(
      q(42L -> "catalyst optimizer plans"), qv, vecs, path, k = 4)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("rrf_r")))
    // doc 2: lexical rank 1 AND dense rank 1 -> rrf 2/61; must lead
    assert(got.head._2 === 2L)
    assert(math.abs(got.head._3 - 2.0 / 61.0) <= 1e-6)
    // every fused score is a sum of at most two reciprocals, positive
    // (1e-6 slack: score_r is rounded to 6 decimals, which can round UP)
    assert(got.forall(t => t._3 > 0.0 && t._3 <= 2.0 / 61.0 + 1e-6))
  }
}
