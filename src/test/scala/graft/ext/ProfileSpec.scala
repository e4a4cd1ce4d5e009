package graft.ext

import graft.SparkSuite
import java.sql.Timestamp

/** One-pass profiler: null counts, exact cardinalities, typed ranges per
  * column type (numeric, string, timestamp), and the single-scan shape. */
class ProfileSpec extends SparkSuite {
  import spark.implicits._

  test("profiles numerics, strings, and timestamps with nulls") {
    val df = Seq(
      (Some(1L), Some("b"), Some(Timestamp.valueOf("2020-01-01 00:00:00")), Some(2.5)),
      (Some(3L), None, Some(Timestamp.valueOf("2020-01-02 00:00:00")), Some(1.5)),
      (None, Some("a"), None, Some(2.5))
    ).toDF("num", "str", "ts", "dbl")
    val got = Profile.profile(df).collect().map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)), Option(r.get(5)), Option(r.get(6)), Option(r.get(7)))
    }.toList
    assert(got === List(
      ("dbl", 3L, 0L, 2L, Some(1.5), Some(2.5), None, None),
      ("num", 3L, 1L, 2L, Some(1.0), Some(3.0), None, None),
      ("str", 3L, 1L, 2L, None, None, Some("a"), Some("b")),
      ("ts", 3L, 1L, 2L,
        Some(1577836800000L.toDouble), Some(1577923200000L.toDouble),
        None, None)))
  }

  test("an all-null column reports full nulls and zero distinct") {
    val df = Seq((1L, None: Option[String]), (2L, None))
      .toDF("id", "gone")
    val row = Profile.profile(df).collect()
      .find(_.getString(0) == "gone").get
    assert(row.getLong(2) === 2L) // n_nulls
    assert(row.getLong(3) === 0L) // n_distinct
    assert(row.isNullAt(6) && row.isNullAt(7))
  }

  test("per-column scans prune to exactly one parquet column each") {
    val dir = tmpDir("profile_prune")
    Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("id", "s", "d")
      .write.mode("overwrite").parquet(dir)
    val plan = Profile.profile(spark.read.parquet(dir))
      .queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(schemas.size === 3, s"expected 3 pruned scans, plan:\n$plan")
    schemas.foreach { s =>
      assert(!s.contains(","), s"scan reads more than one column: $s")
    }
    // and no Expand / no SortAggregate over expanded rows anywhere
    assert(!plan.contains("Expand"), s"multi-distinct Expand present:\n$plan")
  }

  test("skewReport: log2 buckets land on exact integer boundaries and " +
      "each bucket's exemplar is the smallest max-count key") {
    import spark.implicits._
    // counts: a→1 (bucket 0), b→2, c→3 (bucket 1), d→4, e→7 (bucket 2);
    // bucket 1's max is 3 (key c); bucket 2's max is 7 (key e)
    val keys = (Seq.fill(1)("a") ++ Seq.fill(2)("b") ++ Seq.fill(3)("c") ++
      Seq.fill(4)("d") ++ Seq.fill(7)("e")).toDF("k")
    val got = Profile.skewReport(keys).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toList
    assert(got === List(
      (0, 1L, 1L, 1L, "a"),
      (1, 2L, 5L, 3L, "c"),
      (2, 2L, 11L, 7L, "e")))
  }
}
