package graft.ext

import graft.SparkSuite

/** Largest-remainder mixture allocation: exact seat totals on skewed
  * domains, and the sample takes exactly the first alloc docs per source. */
class MixtureSpec extends SparkSuite {

  import spark.implicits._

  // 3 sources with 100/25/4 docs: √-weights 10/5/2 ⇒ far from
  // proportional, and a budget that forces remainder seats
  private def skewed = {
    val rows =
      (0 until 100).map(i => (i.toLong, "big")) ++
        (0 until 25).map(i => (1000L + i, "mid")) ++
        (0 until 4).map(i => (2000L + i, "rare"))
    rows.toDF("doc_id", "source")
  }

  test("allocation: Σalloc = budget, each alloc ∈ {base, base+1}, " +
      "√-temperature up-weights rare domains vs proportional") {
    val out = Mixture.allocation(skewed).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("weight"),
          r.getAs[Long]("alloc"), r.getAs[Long]("granted"))))
      .toMap
    val budget = (100 + 25 + 4) / 2 // 64
    assert(out.values.map(_._3).sum === budget)
    // w = 10e6 / 5e6 / 2e6, W = 17e6: quotas 64·(10,5,2)/17 = 37.65/18.82/7.53
    // bases 37/18/7, leftover 2 → two largest remainders (big .65, mid .82)
    assert(out("big")._3 === 38L)
    assert(out("mid")._3 === 19L)
    assert(out("rare")._3 === 7L)
    // rare cannot FILL 7 seats with 4 docs: the infeasibility is surfaced
    // in granted, not discovered as a silent sample shortfall
    assert(out("rare")._4 === 4L)
    assert(out("big")._4 === 38L && out("mid")._4 === 19L)
    // τ=2 gives rare 10.9% of seats vs its 3.1% share of docs
    assert(out("rare")._3.toDouble / budget > out("rare")._1.toDouble / 129)
  }

  test("sample: exactly the first alloc doc_ids of each source") {
    val got = Mixture.sample(skewed).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("rk")))
    val bySource = got.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    assert(bySource("big") === (0L until 38L).toArray)
    assert(bySource("mid") === (1000L until 1019L).toArray)
    assert(bySource("rare") === (2000L until 2004L).toArray)
    // ranks are the 1-based within-source doc_id order
    assert(got.filter(_._2 == "mid").map(_._3).sorted === (1L to 19L).toArray)
  }

  test("token allocation + sample: seats are tokens, prefix fill " +
      "straddles the boundary doc") {
    val rows =
      (0 until 10).map(i => (i.toLong, "big", Seq.fill(10)("t").mkString(" "))) ++
        Seq((100L, "rare", "t t"), (101L, "rare", "t t"))
    val docs = rows.toDF("doc_id", "source", "text")
    // tokens: big 100, rare 4 → weights 10e6/2e6, budget 52
    // quotas 52·10/12=43.33, 52·2/12=8.67 → bases 43/8, leftover 1 to rare
    val alloc = Mixture.allocationTokens(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("alloc"), r.getAs[Long]("granted")))).toMap
    // rare's 9 token seats exceed its 4 tokens → granted caps at 4
    assert(alloc === Map("big" -> ((43L, 43L)), "rare" -> ((9L, 4L))))
    val got = Mixture.sampleTokens(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("tok_pfx")))
    // big: exclusive prefixes 0,10..90 → docs 0-4 kept (doc 4 straddles
    // 43 with pfx 40); rare: both docs fit in 9
    assert(got.map(_._1).sorted === Array(0L, 1L, 2L, 3L, 4L, 100L, 101L))
    assert(got.toMap.apply(4L) === 40L)
  }

  test("per-source ranks are immune to separator-hostile source names " +
      "(tuple-wise composite ordering, no string key concat)") {
    // "a|!" sorts BETWEEN "a"-prefixed concat keys ('!' < '0') — the
    // shape that corrupts a string-concatenated composite key
    val rows = (0 until 10).map(i => (i.toLong, "a")) ++
      (0 until 10).map(i => (100L + i, "a|!"))
    val docs = rows.toDF("doc_id", "source")
    val strata = Mixture.split(docs).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("split")))
      .groupBy(identity).view.mapValues(_.length).toMap
    val sampleBySrc = Mixture.sample(docs).collect()
      .map(r => r.getAs[String]("source"))
      .groupBy(identity).view.mapValues(_.length).toMap
    Seq("a", "a|!").foreach { s =>
      assert(strata((s, "test")) === 1 && strata((s, "validation")) === 1 &&
        strata((s, "train")) === 8)
    }
    // equal sizes → equal √-weights → 5 granted docs each of budget 10
    assert(sampleBySrc === Map("a" -> 5, "a|!" -> 5))
  }

  test("allocationEpochs: capped sources release excess to uncapped ones, " +
      "Σalloc = budget, epochs cap at maxEpochs") {
    // tokens: big 100 (weight 10e6, cap 400), rare 4 (weight 2e6, cap 16);
    // budget = 104 (denom 1). Saturation order by cap/weight: rare
    // (8e-6) before big (4e-5). rare: 104·2e6 ≥ 16·12e6 → saturated at
    // its 4-epoch cap; big: (104−16)·10e6 < 400·10e6 → unsaturated,
    // takes the whole residual 88. Σ = 104 exactly.
    val rows =
      (0 until 10).map(i => (i.toLong, "big", Seq.fill(10)("t").mkString(" "))) ++
        Seq((100L, "rare", "t t"), (101L, "rare", "t t"))
    val docs = rows.toDF("doc_id", "source", "text")
    val out = Mixture.allocationEpochs(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("cap"), r.getAs[Long]("alloc"),
          r.getAs[Double]("epochs_r"), r.getAs[Boolean]("saturated"))))
      .toMap
    assert(out("rare") === ((16L, 16L, 4.0, true)),
      "up-weighted rare domain repeats to its epoch cap")
    assert(out("big") === ((400L, 88L, 0.88, false)),
      "uncapped source absorbs the residual budget")
    assert(out.values.map(_._2).sum === 104L, "water-filling conserves budget")
  }

  test("allocationEpochs: maxEpochs=1 at full budget is the proportional " +
      "identity — every source saturates at exactly its own mass") {
    val rows =
      (0 until 10).map(i => (i.toLong, "big", Seq.fill(10)("t").mkString(" "))) ++
        Seq((100L, "rare", "t t"), (101L, "rare", "t t"))
    val docs = rows.toDF("doc_id", "source", "text")
    val out = Mixture.allocationEpochs(docs, budgetDenom = 1, maxEpochs = 1)
      .collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("alloc"),
          r.getAs[Double]("epochs_r"), r.getAs[Boolean]("saturated"))))
      .toMap
    out.values.foreach { case (n, alloc, e, sat) =>
      assert(alloc === n && e === 1.0 && sat)
    }
  }

  test("curriculumOrder: short docs first, exact batch boundaries, " +
      "doc_id tie-break") {
    // 5 docs, lengths 1,2,2,3,4 -> ordinal order 10,20,30,40,50
    // (the two length-2 docs tie-break by doc_id)
    val docs = Seq(
      10L -> "a", 30L -> "b b", 20L -> "c c", 40L -> "d d d",
      50L -> "e e e e").toDF("doc_id", "text")
    val got = Mixture.curriculumOrder(docs, batchSize = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("batch_id"), r.getAs[Long]("pos")))
    assert(got.toSeq === Seq(
      (10L, 1L, 0L, 0L), (20L, 2L, 0L, 1L),
      (30L, 2L, 1L, 0L), (40L, 3L, 1L, 1L),
      (50L, 4L, 2L, 0L)))
  }

  test("trainingOrder: reproducible, shard-contiguous 0-based positions; " +
      "runs audit accounts for every sampled doc") {
    val rows =
      (0 until 40).map(i => (i.toLong, "big", "t t t")) ++
        (0 until 40).map(i => (1000L + i, "mid", "t t t"))
    val docs = rows.toDF("doc_id", "source", "text")
    def run() = Mixture.trainingOrder(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("shard"), r.getAs[Long]("pos")))
    val a = run()
    val b = run()
    assert(a.toSeq === b.toSeq, "order must be a pure function of the data")
    // per shard: positions are exactly 0..n−1 in hash order
    a.groupBy(_._3).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted === (0L until rows.length).toArray)
    }
    // the sample is the token-budget sample, re-sharded — same doc set
    val sampled = Mixture.sampleTokens(docs).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(a.map(_._1).toSet === sampled)
    val runs = Mixture.trainingOrderRuns(docs).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("max_run"),
        r.getAs[Long]("n_runs"), r.getAs[Long]("n_docs")))
    assert(runs.map(_._4).sum === a.length,
      "every ordered doc lands in exactly one run")
    val docsByShard = a.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    runs.foreach { case (shard, maxRun, nRuns, nDocs) =>
      assert(nDocs === docsByShard(shard))
      assert(maxRun >= 1L && nRuns >= 1L && maxRun <= nDocs)
    }
  }

  test("split: exact n div 10 test/validation per source, total coverage, " +
      "and byte-deterministic membership across runs") {
    def run() = Mixture.split(skewed).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("split")))
    val a = run()
    val b = run()
    assert(a.toSet === b.toSet, "membership must be a pure function of the data")
    assert(a.length === 129, "every document lands in exactly one split")
    val bySrc = a.groupBy(_._2).view
      .mapValues(_.groupBy(_._3).view.mapValues(_.length).toMap).toMap
    assert(bySrc("big")("test") === 10 && bySrc("big")("validation") === 10 &&
      bySrc("big")("train") === 80)
    assert(bySrc("mid")("test") === 2 && bySrc("mid")("validation") === 2 &&
      bySrc("mid")("train") === 21)
    // n=4: 4 div 10 = 0 → everything trains; tiny strata never leak
    // their few docs into eval splits
    assert(bySrc("rare") === Map("train" -> 4))
  }
}
