package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Sequence-packing correctness: the distributed prefix sum must equal the
  * single-partition global window, and window assignment must respect
  * budget boundaries (straddles included). */
class PackingSpec extends SparkSuite {

  import spark.implicits._

  test("withGlobalOffset equals the naive global-window cumulative sum") {
    // deterministic pseudo-random values, ids deliberately unsorted
    val rows = (1L to 100L).map(i => (i, (i * 37) % 11 + 1)).reverse
    val df = rows.toDF("id", "v").repartition(13)
    val got = Packing.withGlobalOffset(df, "id", "v", "off", parts = 7)
      .orderBy("id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("off"))
    val values = rows.sortBy(_._1)
    val exclusive = values.map(_._2).scanLeft(0L)(_ + _).init
    assert(got.toSeq === values.map(_._1).zip(exclusive))
  }

  test("packWindows: offsets, straddles, and window spans at budget 10") {
    def words(k: Int): String = Seq.fill(k)("w").mkString(" ")
    val docs = Seq(
      (1L, words(7)),   // offset 0  → windows 0..0
      (2L, words(5)),   // offset 7  → tokens 7..11 → windows 0..1 (straddle)
      (3L, words(10)),  // offset 12 → tokens 12..21 → windows 1..2
      (4L, words(30)))  // offset 22 → tokens 22..51 → windows 2..5
      .toDF("doc_id", "text")
    val got = Packing.packWindows(docs, budget = 10).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("tok_offset"),
        r.getAs[Long]("win_first"), r.getAs[Long]("win_last"),
        r.getAs[Long]("n_windows")))
    assert(got.toSeq === Seq(
      (1L, 0L, 0L, 0L, 1L),
      (2L, 7L, 0L, 1L, 2L),
      (3L, 12L, 1L, 2L, 2L),
      (4L, 22L, 2L, 5L, 4L)))
  }

  test("packWindows covers the token stream exactly: max window == total div budget") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val pw = Packing.packWindows(docs, budget = 512)
    val agg = pw.agg(
      sum("n_tok").as("total"),
      max(col("tok_offset") + col("n_tok")).as("end"),
      max("win_last").as("last_win")).head()
    val total = agg.getAs[Long]("total")
    assert(agg.getAs[Long]("end") === total, "offsets tile the stream gaplessly")
    assert(agg.getAs[Long]("last_win") === (total - 1) / 512)
  }
}
