package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Hilbert cell index: the Column rotation chain against a driver-side
  * reference, and the curve's defining properties — bijectivity over the
  * grid and unit-step locality (the theorem `hilbert_curve_contract`
  * ships as hashed data). */
class HilbertSpec extends SparkSuite {
  import spark.implicits._

  /** Reference xy2d (the same iterative algorithm, plain Scala). */
  private def xy2d(n: Int, x0: Int, y0: Int): Long = {
    var x = x0; var y = y0; var d = 0L; var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  test("reference curve is bijective with unit steps (self-check)") {
    for (bits <- 1 to 4) {
      val n = 1 << bits
      val cells = for (x <- 0 until n; y <- 0 until n) yield (x, y)
      val byD = cells.map { case (x, y) => xy2d(n, x, y) -> (x, y) }.toMap
      assert(byD.size === n * n, s"not bijective at bits=$bits")
      (0L until (n.toLong * n - 1)).foreach { d =>
        val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
          s"non-unit step at d=$d, bits=$bits")
      }
    }
  }

  test("unaligned curve files: hilbert boxes strictly tighter than z " +
      "on the orders keys; both layouts file every row") {
    val rows = Layout.curveFileStats(
      graft.sources.Tables(spark, "/root/testdata/sf0.001", "orders"),
      col("o_custkey"),
      expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000"),
      cellBits = 6, cellsPerFile = 6)
      .collect()
    def area(curve: String): Long = rows.filter(_.getString(0) == curve)
      .map(r => (r.getAs[Long]("x_max") - r.getAs[Long]("x_min") + 1) *
        (r.getAs[Long]("y_max") - r.getAs[Long]("y_min") + 1)).sum
    def n(curve: String): Long = rows.filter(_.getString(0) == curve)
      .map(_.getAs[Long]("n")).sum
    assert(n("h") === n("z"), "both curves must file every row")
    assert(area("h") < area("z"),
      s"hilbert boxes must be tighter: h=${area("h")} z=${area("z")}")
  }

  test("Column hilbertIndex equals the reference on every cell") {
    for (bits <- 1 to 4) {
      val n = 1 << bits
      val grid = spark.range(n.toLong * n)
        .select((col("id") % n).as("xq"), (col("id") / n).cast("long").as("yq"))
      val got = grid
        .select(col("xq"), col("yq"),
          Layout.hilbertIndex(col("xq"), col("yq"), bits).as("d"))
        .as[(Long, Long, Long)].collect()
      got.foreach { case (x, y, d) =>
        assert(d === xy2d(n, x.toInt, y.toInt), s"($x,$y) at bits=$bits")
      }
    }
  }

  test("staged withHilbertIndex equals the Column form on its whole " +
      "4-bit range (the lift must not change the curve)") {
    for (bits <- 1 to 4) {
      val n = 1 << bits
      val grid = spark.range(n.toLong * n)
        .select((col("id") % n).as("xq"), (col("id") / n).cast("long").as("yq"))
      val both = Layout.withHilbertIndex(
        grid.withColumn("d_col",
          Layout.hilbertIndex(col("xq"), col("yq"), bits)),
        col("xq"), col("yq"), bits, "d_staged")
      assert(both.where(col("d_col") =!= col("d_staged")).count() === 0L,
        s"staged/Column divergence at bits=$bits")
    }
  }

  test("staged index PAST the Column cap: bijective with unit steps over " +
      "the full 8-bit (256x256) grid, and d2xy inverts it") {
    val bits = 8; val n = 1 << bits
    // localCheckpoint truncates the 8-stage lineage before the self-join
    // below — joining two copies of the staged plan sends the optimizer's
    // constraint propagation through every when() twice (minutes, not
    // seconds); single-consumer plans (the production write path) run the
    // staged index in ~1 s at any bits (measured 2..10)
    val cells = Layout.withHilbertIndex(
      spark.range(n.toLong * n)
        .select((col("id") % n).as("xq"), (col("id") / n).cast("long").as("yq")),
      col("xq"), col("yq"), bits, "d").localCheckpoint(true)
    // bijectivity over all 65536 cells
    val agg = cells.agg(
      countDistinct(col("d")).as("nd"),
      min(col("d")).as("d0"), max(col("d")).as("d1")).head()
    assert(agg.getLong(0) === n.toLong * n)
    assert(agg.getLong(1) === 0L && agg.getLong(2) === n.toLong * n - 1)
    // unit-step locality: consecutive indices are grid-adjacent — the
    // self-join keys on d+1 (one shuffle over 65536 rows)
    val a = cells.select(col("d"), col("xq").as("x1"), col("yq").as("y1"))
    val b = cells.select((col("d") - 1).as("d"),
      col("xq").as("x2"), col("yq").as("y2"))
    val bad = a.join(b, "d")
      .where(abs(col("x1") - col("x2")) + abs(col("y1") - col("y2")) =!= 1)
      .count()
    assert(bad === 0L, "non-unit step past the 4-bit cap")
    // d2xy is the exact inverse (spot-lattice, all quadrants included)
    cells.where(col("d") % 997 === 0)
      .as[(Long, Long, Long)].collect().foreach { case (x, y, d) =>
        assert(Layout.d2xy(bits, d) === ((x, y)), s"d2xy mismatch at d=$d")
      }
  }
}
