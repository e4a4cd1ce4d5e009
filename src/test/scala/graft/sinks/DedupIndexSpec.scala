package graft.sinks

import graft.SparkSuite
import graft.util.Fence
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted MinHash index lifecycle: exact copies match at 1.0,
  * planted near-dups match with agreement ≈ true Jaccard, novel docs
  * pass, and append-then-probe catches dups of the appended batch. */
class DedupIndexSpec extends SparkSuite {

  import spark.implicits._

  private val wordBank =
    ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "phi chi psi omega one two three four five six " +
      "seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen")
      .split(" ").toSeq

  private val textA = wordBank.mkString(" ")                    // 40 tokens
  private val textB = wordBank.reverse.mkString(" ")            // disjoint order
  private val textBNear =                                       // last word swapped
    (wordBank.reverse.dropRight(1) :+ "changed").mkString(" ")
  private val textNovel =
    "a completely different document about distributed query engines " +
      "and their shuffle behavior under heavy skew with many partitions " +
      "spilling to disk during wide aggregations across the cluster"

  private def df(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def matches(got: DataFrame): Map[(Long, Long), Double] =
    got.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("dup_of")) -> r.getAs[Double]("sig_agree_r")).toMap

  test("probe: exact copy matches its original at agreement 1.0, the " +
      "near-dup matches with agreement ≈ true shingle Jaccard, the " +
      "novel doc matches nothing; novel() forwards only the novel doc") {
    val path = tmpDir("dedupidx")
    DedupIndex.build(df(0L -> textA, 2L -> textB), path)
    val batch = df(1L -> textA, 3L -> textBNear, 5L -> textNovel)
    val got = Fence.scope(matches(DedupIndex.probe(batch, path, minAgree = 0.5)))
    assert(got.keySet === Set((1L, 0L), (3L, 2L)),
      s"unexpected match set: $got")
    assert(got((1L, 0L)) === 1.0)
    // true shingle Jaccard of the planted near-pair: 40 tokens → 38
    // trigrams; the swapped last word rewrites 3 → J = 35/41
    val trueJ = 35.0 / 41.0
    assert(math.abs(got((3L, 2L)) - trueJ) <= 0.15,
      s"agreement ${got((3L, 2L))} far from true Jaccard $trueJ")
    val novel = DedupIndex.novel(batch, path, minAgree = 0.5)
      .select("doc_id").as[Long].collect().toSeq
    assert(novel === Seq(5L))
  }

  test("portable hash mode: same match set and exact-copy agreement as " +
      "the xxhash64 mode; meta records the mode so append/probe follow") {
    val path = tmpDir("dedupidx_portable")
    DedupIndex.build(df(0L -> textA, 2L -> textB), path, portable = true)
    val batch = df(1L -> textA, 3L -> textBNear, 5L -> textNovel)
    val got = Fence.scope(matches(DedupIndex.probe(batch, path, minAgree = 0.5)))
    // same planted structure as the default-mode test: the exact copy at
    // 1.0, the near-dup near its true Jaccard, the novel doc absent —
    // only the element-hash family differs, so agreement values may move
    // within the MinHash σ but the decision set must not
    assert(got.keySet === Set((1L, 0L), (3L, 2L)), s"match set: $got")
    assert(got((1L, 0L)) === 1.0)
    assert(math.abs(got((3L, 2L)) - 35.0 / 41.0) <= 0.15)
    // append inherits the recorded mode: an appended doc's exact copy
    // probes at 1.0, which can only happen if both sides signed with the
    // same (portable) hash family
    DedupIndex.append(df(5L -> textNovel), path)
    val got2 = matches(DedupIndex.probe(df(7L -> textNovel), path))
    assert(got2.get((7L, 5L)) === Some(1.0))
  }

  test("append-then-probe: the indexed batch's docs are now matchable " +
      "without any rebuild") {
    val path = tmpDir("dedupidx_append")
    DedupIndex.build(df(0L -> textA), path)
    val batch1 = df(5L -> textNovel)
    assert(matches(DedupIndex.probe(batch1, path)).isEmpty)
    DedupIndex.append(batch1, path)
    // a copy of the APPENDED doc now matches it, and still matches
    // nothing from the original build other than via doc 5
    val got = matches(DedupIndex.probe(df(7L -> textNovel), path))
    assert(got.keySet === Set((7L, 5L)))
    assert(got((7L, 5L)) === 1.0)
  }

  test("compact after appends preserves probe results exactly and " +
      "collapses per-append files") {
    val path = tmpDir("dedupidx_compact")
    DedupIndex.build(df(0L -> textA, 2L -> textB), path)
    DedupIndex.append(df(10L -> textNovel), path)
    val batch = df(1L -> textA, 3L -> textBNear, 11L -> textNovel)
    val before = Fence.scope(matches(DedupIndex.probe(batch, path, minAgree = 0.5)))
    def bandFiles() = {
      val dir = new java.io.File(s"$path/bands")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(dir).count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = bandFiles()
    DedupIndex.compact(spark, path)
    val after = matches(DedupIndex.probe(batch, path, minAgree = 0.5))
    assert(after === before, "compaction must not change probe results")
    assert(before.keySet === Set((1L, 0L), (3L, 2L), (11L, 10L)),
      "probe must see built AND appended docs")
    assert(bandFiles() <= filesBefore,
      "compaction must not increase the file count")
  }

  test("streaming ingestion: marker-fenced batches, restart never " +
      "double-indexes (a re-probe after replay finds each doc once)") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("dedupidx_stream")
    DedupIndex.build(df(0L -> textA), path)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val ckpt = tmpDir("dedupidx_stream_ckpt")
    def run(): Unit =
      DedupIndex.runToIndex(mem.toDF().toDF("doc_id", "text"), path, ckpt)
        .awaitTermination()
    mem.addData(5L -> textNovel)
    run()
    run() // restart with nothing new: markers + checkpoint fence batch 0
    val got = matches(DedupIndex.probe(df(7L -> textNovel), path))
    assert(got.keySet === Set((7L, 5L)), "exactly one copy of doc 5 indexed")
  }
}
