package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The r11 identical-content collapse inside [[Dedup.nearDupJaccard]]:
  * exact duplicates must (a) still produce exactly the pair set the
  * uncollapsed plan produced — value-for-value, jaccard included — and
  * (b) stop inflating the banding/verify stages, whose work must be
  * bounded by DISTINCT content, not by duplicate multiplicity. */
class NearDupCollapseSpec extends SparkSuite {

  import spark.implicits._

  private def planted = {
    val base = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    // 30 extra exact copies of doc 1's text under fresh ids → a
    // 31-member identical-content group (the viral-page shape)
    val dupText = base.where(col("doc_id") === 1L)
      .select("text").head().getString(0)
    base.unionByName(
      (0 until 30).map(i => (10001L + i, dupText)).toDF("doc_id", "text"))
  }

  /** The PRE-collapse reference plan, verbatim: band all docs, verify
    * every candidate pair directly. */
  private def uncollapsed(docs: org.apache.spark.sql.DataFrame,
      threshold: Double): Set[(Long, Long, Double)] = {
    val sh = Dedup.shingled(docs).where(size(col("sh")) > 0)
    Dedup.lshCandidates(Dedup.signed(sh))
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter",
        graft.expr.SortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
  }

  test("collapsed output equals the uncollapsed reference value-for-value " +
      "on a duplicate-dense planted corpus") {
    val docs = planted
    val got = Dedup.nearDupJaccard(docs)
      .as[(Long, Long, Double)].collect().toSet
    val want = uncollapsed(docs, 0.8)
    assert(got === want)
    // sanity on the planted group: all 31·30/2 within-group pairs are
    // present at jaccard exactly 1.0
    val dupIds = Set(1L) ++ (10001L until 10031L)
    val withinGroup = got.filter(p => dupIds(p._1) && dupIds(p._2))
    assert(withinGroup.size === 31 * 30 / 2,
      s"expected 465 within-group pairs, got ${withinGroup.size}")
    assert(withinGroup.forall(_._3 == 1.0))
  }

  test("banding/verify work is bounded by distinct content: the candidate " +
      "stage sees ONE row for the 31-member group, not 465") {
    val docs = planted
    val sh = Dedup.shingled(docs).where(size(col("sh")) > 0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
    val reps = sh.select(col("doc_id"), col("sh"))
      .withColumn("rep", min(col("doc_id")).over(w))
      .where(col("doc_id") === col("rep"))
    // one representative per distinct content: the dup group collapses
    assert(reps.count() === sh.count() - 30)
    val collapsedCands = Dedup.lshCandidates(Dedup.signed(
      reps.select(col("doc_id"), col("sh")))).count()
    val rawCands = Dedup.lshCandidates(Dedup.signed(sh)).count()
    // the uncollapsed plan pays ≥ C(31,2) = 465 candidate verifications
    // for the planted group alone; the collapsed plan pays none of them
    assert(rawCands >= collapsedCands + 465,
      s"raw=$rawCands collapsed=$collapsedCands — collapse must remove " +
        "the duplicate-group quadratic from the verify stage")
  }

  test("nearDupEdges' linear star + rep-pair edges yield IDENTICAL " +
      "component labels to the full pair expansion, at linear edge count") {
    val docs = planted
    val viaEdges = Dedup.components(Dedup.nearDupEdges(docs))
      .as[(Long, Long)].collect().toSet
    val viaPairs = Dedup.components(
      Dedup.nearDupJaccard(docs).select("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toSet
    assert(viaEdges === viaPairs, "labels must match the expanded-pair graph")
    // and the planted 31-member group carries cluster_id = min id = 1
    val dupIds = Set(1L) ++ (10001L until 10031L)
    assert(dupIds.forall(id => viaEdges.contains((id, 1L))))
    // edge count is linear in the group (30 star edges), not quadratic
    val nEdges = Dedup.nearDupEdges(docs).count()
    val nPairs = Dedup.nearDupJaccard(docs).count()
    assert(nPairs - nEdges >= 465 - 30,
      s"edges=$nEdges pairs=$nPairs — the linear form must drop the " +
        "duplicate-group quadratic")
  }

  test("SimHash path: identical fingerprints collapse the same way — " +
      "within-group pairs at hamming 0, reference pair set reproduced") {
    val docs = planted
    val got = Dedup.nearDupSimhash(docs)
      .as[(Long, Long, Int)].collect().toSet
    // uncollapsed reference: band ALL fps, verify every candidate
    val fp = Dedup.simhashed(docs).select(col("doc_id"), col("fp"))
      .withColumn("bands",
        array((0 until 4).map(q =>
          shiftright(col("fp"), q * 16).bitwiseAND(lit(0xFFFFL)).cast("int")): _*))
    val banded = fp.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_id", "band_val")))
    val want = banded.as("a")
      .join(banded.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .join(fp.select(col("doc_id").as("doc_a"), col("fp").as("fp_a")), Seq("doc_a"))
      .join(fp.select(col("doc_id").as("doc_b"), col("fp").as("fp_b")), Seq("doc_b"))
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("int"))
      .where(col("hamming") <= 6)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === want)
    val dupIds = Set(1L) ++ (10001L until 10031L)
    val withinGroup = got.filter(p => dupIds(p._1) && dupIds(p._2))
    assert(withinGroup.size === 31 * 30 / 2)
    assert(withinGroup.forall(_._3 == 0))
  }

  test("degenerate parameters that would break the collapse equivalence " +
      "are rejected up front (ADVICE r11)") {
    // within-group pairs are emitted unconditionally (jaccard 1.0 /
    // hamming 0); a threshold > 1.0 or maxHamming < 0 would silently
    // diverge from the uncollapsed plan — both must throw instead
    val docs = planted
    intercept[IllegalArgumentException] {
      Dedup.nearDupJaccard(docs, threshold = 1.1)
    }
    intercept[IllegalArgumentException] {
      Dedup.nearDupSimhash(docs, maxHamming = -1)
    }
  }
}
