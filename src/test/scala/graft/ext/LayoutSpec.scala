package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Z-order layout: the Morton spread ladder against a bit-by-bit
  * reference, quadrant containment of cell bounding boxes, and the
  * skipping contract's soundness on a fixture with a known geometry. */
class LayoutSpec extends SparkSuite {
  import spark.implicits._

  /** Bit-by-bit reference interleave (the O(bits) definition the O(log)
    * mask ladder must equal). */
  private def mortonRef(x: Long, y: Long): Long =
    (0 until 16).foldLeft(0L) { (z, i) =>
      z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  test("spread-ladder zValue equals the bit-by-bit reference") {
    // corners, axes, alternating patterns, and a PRNG sample
    val rnd = new scala.util.Random(7)
    val pts = Seq((0L, 0L), (65535L, 65535L), (65535L, 0L), (0L, 65535L),
      (0xAAAAL, 0x5555L), (1L, 2L), (32768L, 32767L)) ++
      Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    assert(got === pts.map { case (x, y) => mortonRef(x, y) })
  }

  test("cell bounding boxes stay inside their quadrant") {
    // 6 cell bits = 3 high bits of each axis -> an 8x8 grid of 8192-wide
    // quadrants; every cell's min/max must sit inside the quadrant its
    // id names (cell = y2 x2 y1 x1 y0 x0 from the top of z).
    val rnd = new scala.util.Random(11)
    val df = Seq.fill(5000)(
      (rnd.nextInt(100000).toLong, rnd.nextInt(3000).toLong))
      .toDF("x", "y")
    val rows = Layout.cellStats(df, col("x"), col("y"), cellBits = 6)
      .collect()
    assert(rows.nonEmpty && rows.length <= 64)
    assert(rows.map(_.getAs[Long]("n")).sum === 5000L)
    rows.foreach { r =>
      val cell = r.getAs[Long]("cell")
      // de-interleave the 6-bit cell id back to 3-bit axis prefixes
      val xq = (cell & 1) | ((cell >> 1) & 2) | ((cell >> 2) & 4)
      val yq = ((cell >> 1) & 1) | ((cell >> 2) & 2) | ((cell >> 3) & 4)
      assert(r.getAs[Long]("x_min") >= xq * 8192 &&
        r.getAs[Long]("x_max") < (xq + 1) * 8192,
        s"cell $cell x range escapes quadrant $xq")
      assert(r.getAs[Long]("y_min") >= yq * 8192 &&
        r.getAs[Long]("y_max") < (yq + 1) * 8192,
        s"cell $cell y range escapes quadrant $yq")
    }
  }

  test("skipping contract: sound on both layouts, z prunes a y predicate") {
    // a dense uniform grid: every cell occupied, so the pruned counts hit
    // their geometric values exactly (predicate spans y-octants 1 and 2:
    // 16 surviving z-cells, 48 pruned; the x layout prunes nothing)
    val df = (for { x <- 0 until 256; y <- 0 until 256 }
      yield (x.toLong * 257, y.toLong * 257)).toDF("x", "y")
    val r = Layout.skippingReport(df, col("x"), col("y"),
      cellBits = 6, yLo = 10000L, yHi = 20000L).collect().head
    assert(r.getAs[Boolean]("z_sound") && r.getAs[Boolean]("lin_sound"))
    assert(r.getAs[Boolean]("z_beats_linear"))
    assert(r.getAs[Long]("z_cells") === 64L)
    assert(r.getAs[Long]("z_pruned") === 48L)
    assert(r.getAs[Long]("lin_pruned") === 0L)
    assert(r.getAs[Long]("lin_rows_scanned") === 256L * 256L)
    // every matching row lives in a surviving cell
    assert(r.getAs[Long]("z_rows_scanned") >= r.getAs[Long]("rows_match"))
  }

  test("clustered table: pruned read == full-scan filter, partitions pruned") {
    val dir = tmpDir("zlayout")
    val rnd = new scala.util.Random(3)
    val df = (Seq((null.asInstanceOf[java.lang.Long], 5500L, -1L)) ++
      Seq.tabulate(4000)(i =>
        (java.lang.Long.valueOf(rnd.nextInt(1000).toLong),
          5000L + rnd.nextInt(2000), i.toLong)))
      .toDF("x", "y", "pay")
    Layout.writeClustered(df, dir, "x", "y", cellBits = 6)

    val got = Layout.readPruned(spark, dir,
      xRange = Some((100L, 399L)), yRange = Some((5600L, 6100L)))
    val expected = df
      .where(col("x").isNotNull && col("x").between(100, 399) &&
        col("y").between(5600, 6100))
      .select("x", "y", "pay").as[(Long, Long, Long)].collect().sorted
    assert(got.select("x", "y", "pay").as[(Long, Long, Long)]
      .collect().sorted === expected)
    assert(expected.nonEmpty) // the fixture must actually exercise the path

    // the cell list is a STATIC partition filter on the zcell= dirs —
    // the predicate must be INSIDE the brackets ("PartitionFilters: []"
    // plus zcell in the scan Output would vacuously pass two contains)
    val plan = got.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*zcell".r.findFirstIn(plan).isDefined,
      s"no partition pruning in plan:\n$plan")

    // geometry: the surviving set matches an independent de-interleave
    val meta = Layout.readMeta(spark, dir)
    val cells = Layout.survivingCells(meta,
      Some((100L, 399L)), Some((5600L, 6100L)))
    assert(cells.nonEmpty && cells.size < 64,
      s"expected a strict subset of cells, got ${cells.size}")
    def quadOf(v: Long, lo: Long, hi: Long): Long =
      (((v - lo) * 65535L) / math.max(hi - lo, 1L)) >> 13
    val expectCells = (0L until 64L).filter { cell =>
      val xq = (cell & 1) | ((cell >> 1) & 2) | ((cell >> 2) & 4)
      val yq = ((cell >> 1) & 1) | ((cell >> 2) & 2) | ((cell >> 3) & 4)
      xq >= quadOf(100, meta.xLo, meta.xHi) &&
        xq <= quadOf(399, meta.xLo, meta.xHi) &&
        yq >= quadOf(5600, meta.yLo, meta.yHi) &&
        yq <= quadOf(6100, meta.yLo, meta.yHi)
    }
    assert(cells.sorted === expectCells.sorted)
  }

  test("clustered table: a range past the bounds clamps to the edge " +
      "cells and the residual keeps the result exact (empty here)") {
    val dir = tmpDir("zlayout_empty")
    val df = Seq.tabulate(100)(i => (i.toLong, i.toLong)).toDF("x", "y")
    Layout.writeClustered(df, dir, "x", "y", cellBits = 4)
    val got = Layout.readPruned(spark, dir,
      xRange = Some((1000L, 2000L)), yRange = None)
    assert(got.count() === 0L)
    // the clamp keeps the scan bounded to the top x-quadrant's cells
    val cells = Layout.survivingCells(Layout.readMeta(spark, dir),
      Some((1000L, 2000L)), None)
    assert(cells.nonEmpty && cells.size <= 4,
      s"expected only the edge column, got ${cells.size}")
    // an inverted range selects nothing at all
    assert(Layout.survivingCells(Layout.readMeta(spark, dir),
      Some((50L, 10L)), None).isEmpty)
  }

  test("3-key and 4-key spread ladders equal the bit-by-bit reference") {
    def refK(vals: Seq[Long], bitsPer: Int): Long =
      vals.zipWithIndex.foldLeft(0L) { case (acc, (v, axis)) =>
        (0 until bitsPer).foldLeft(acc)((a, i) =>
          a | (((v >> i) & 1L) << (i * vals.size + axis)))
      }
    val rnd = new scala.util.Random(13)
    val tri = Seq((0L, 0L, 0L), (2097151L, 2097151L, 2097151L),
      (1L, 2L, 4L), (2097151L, 0L, 0L), (0L, 0L, 2097151L)) ++
      Seq.fill(200)((rnd.nextInt(1 << 21).toLong,
        rnd.nextInt(1 << 21).toLong, rnd.nextInt(1 << 21).toLong))
    val got3 = tri.toDF("x", "y", "z")
      .select(Layout.zValue3(col("x"), col("y"), col("z")).as("v"))
      .as[Long].collect().toSeq
    assert(got3 === tri.map { case (x, y, z) => refK(Seq(x, y, z), 21) })
    val quad = Seq((0L, 0L, 0L, 0L), (32767L, 32767L, 32767L, 32767L),
      (1L, 2L, 4L, 8L), (0L, 0L, 0L, 32767L)) ++
      Seq.fill(200)((rnd.nextInt(1 << 15).toLong, rnd.nextInt(1 << 15).toLong,
        rnd.nextInt(1 << 15).toLong, rnd.nextInt(1 << 15).toLong))
    val got4 = quad.toDF("a", "b", "c", "d")
      .select(Layout.zValue4(col("a"), col("b"), col("c"), col("d")).as("v"))
      .as[Long].collect().toSeq
    assert(got4 === quad.map { case (a, b, c, d) => refK(Seq(a, b, c, d), 15) })
    // the 4-key value must never reach the sign bit
    assert(got4.forall(_ >= 0L))
  }

  test("skippingReport3: sound on both layouts, the 3-key cells prune a " +
      "third-axis predicate a single-key layout cannot") {
    val rnd = new scala.util.Random(17)
    val df = Seq.tabulate(6000)(i => (rnd.nextInt(1000).toLong,
      rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong)).toDF("x", "y", "z")
    val r = Layout.skippingReport3(df, col("x"), col("y"), col("z"),
      cellBits = 6, zLo = 500000L, zHi = 1000000L).collect().head
    assert(r.getAs[Boolean]("z3_sound") && r.getAs[Boolean]("lin_sound"))
    assert(r.getAs[Long]("z3_rows_scanned") >= r.getAs[Long]("rows_match"))
    // uniform data: x-clustered cells all span the z domain → no pruning
    assert(r.getAs[Long]("lin_pruned") === 0L)
    assert(r.getAs[Boolean]("z3_beats_linear"),
      s"3-key layout must prune the third axis: $r")
  }

  test("HILBERT clustered table: pruned read == full-scan filter, hcell " +
      "partitions pruned, surviving cells match an independent d2xy replay") {
    val dir = tmpDir("hlayout")
    val rnd = new scala.util.Random(11)
    val df = Seq.tabulate(4000)(i =>
      (rnd.nextInt(1000).toLong, 5000L + rnd.nextInt(2000), i.toLong))
      .toDF("x", "y", "pay")
    Layout.writeClusteredHilbert(df, dir, "x", "y", cellBits = 6)

    val got = Layout.readPruned(spark, dir,
      xRange = Some((100L, 399L)), yRange = Some((5600L, 6100L)))
    val expected = df
      .where(col("x").between(100, 399) && col("y").between(5600, 6100))
      .select("x", "y", "pay").as[(Long, Long, Long)].collect().sorted
    assert(got.select("x", "y", "pay").as[(Long, Long, Long)]
      .collect().sorted === expected)
    assert(expected.nonEmpty)

    // static partition filter on the hcell= dirs
    val plan = got.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*hcell".r.findFirstIn(plan).isDefined,
      s"no partition pruning in plan:\n$plan")

    // geometry: surviving set == independent quadrant-box walk via d2xy
    val meta = Layout.readMeta(spark, dir)
    assert(meta.curve === "h")
    val cells = Layout.survivingCells(meta,
      Some((100L, 399L)), Some((5600L, 6100L)))
    assert(cells.nonEmpty && cells.size < 64,
      s"expected a strict subset of cells, got ${cells.size}")
    def quadOf(v: Long, lo: Long, hi: Long): Long =
      (((v - lo) * 65535L) / math.max(hi - lo, 1L)) >> 13
    val expectCells = (0L until 64L).filter { cell =>
      val (xq, yq) = Layout.d2xy(3, cell)
      xq >= quadOf(100, meta.xLo, meta.xHi) &&
        xq <= quadOf(399, meta.xLo, meta.xHi) &&
        yq >= quadOf(5600, meta.yLo, meta.yHi) &&
        yq <= quadOf(6100, meta.yLo, meta.yHi)
    }
    assert(cells.sorted === expectCells.sorted)
  }

  test("stats-skipping reader: with UNALIGNED multi-cell files the " +
      "Hilbert layout scans strictly fewer files than z for the same " +
      "range predicate, and both reads equal the full-scan WHERE " +
      "(the curveFileStats theorem as actual bytes-not-read)") {
    // uniform grid so the layouts' geometry (not sampling noise) decides
    val df = (for (x <- 0 until 128; y <- 0 until 128)
      yield (x.toLong, y.toLong, (x * 128 + y).toLong))
      .toDF("x", "y", "pay")
    val zDir = tmpDir("zlayout_stats"); val hDir = tmpDir("hlayout_stats")
    // cellsPerFile = 6: NOT a power of four, so files are unaligned cell
    // runs — z runs span disconnected quadrants, hilbert runs stay
    // connected (aligned runs would make the two file sets identical)
    Layout.writeClustered(df, zDir, "x", "y", cellBits = 6, cellsPerFile = 6)
    Layout.writeClusteredHilbert(
      df, hDir, "x", "y", cellBits = 6, cellsPerFile = 6)

    // sweep 2-D boxes against the collected manifests (bounded: ~11
    // stats rows per layout) — the aggregate is the theorem; individual
    // boxes can tie or even favor z, which is why the sweep, not a
    // cherry-picked predicate, is what the test pins
    def manifest(dir: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(s"$dir/stats")
        .select("x_min", "x_max", "y_min", "y_max")
        .as[(Long, Long, Long, Long)].collect()
    val zBoxes = manifest(zDir); val hBoxes = manifest(hDir)
    def scanned(boxes: Array[(Long, Long, Long, Long)],
      x0: Long, x1: Long, y0: Long, y1: Long): Int =
      boxes.count { case (xm, xx, ym, yx) =>
        !(xx < x0 || xm > x1 || yx < y0 || ym > y1)
      }
    var zTotal = 0; var hTotal = 0
    for (y0 <- 0 until 120 by 4; yw <- Seq(8, 16, 24); x0 <- 0 until 120 by 24) {
      zTotal += scanned(zBoxes, x0, x0 + 30, y0, y0 + yw)
      hTotal += scanned(hBoxes, x0, x0 + 30, y0, y0 + yw)
    }
    assert(hTotal < zTotal,
      s"hilbert must scan fewer files over the box sweep: h=$hTotal z=$zTotal")

    // and the physical stats read stays exact on both layouts
    val xR = Some((20L, 50L)); val yR = Some((48L, 60L))
    val expected = df
      .where(col("x").between(20, 50) && col("y").between(48, 60))
      .select("pay").as[Long].collect().sorted
    for (dir <- Seq(zDir, hDir)) {
      val got = Layout.readPrunedByStats(spark, dir, xR, yR)
        .select("pay").as[Long].collect().sorted
      assert(got === expected, s"stats read differs from WHERE at $dir")
    }
  }

  test("normalization puts both axes on [0, 65535] whatever the raw scale") {
    val df = Seq((1000000L, -5L), (2000000L, 5L), (1500000L, 0L))
      .toDF("x", "y")
    val rows = Layout.cellStats(df, col("x"), col("y"), cellBits = 2)
      .collect()
    val xs = rows.flatMap(r => Seq(r.getAs[Long]("x_min"), r.getAs[Long]("x_max")))
    val ys = rows.flatMap(r => Seq(r.getAs[Long]("y_min"), r.getAs[Long]("y_max")))
    assert(xs.min === 0L && xs.max === 65535L)
    assert(ys.min === 0L && ys.max === 65535L)
  }
}
