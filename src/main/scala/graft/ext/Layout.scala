package graft.ext

import graft.util.Fence
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Z-order (Morton-curve) data layout — the multi-column clustering step
  * a 100 TB table runs at WRITE time so that READ-time min/max file
  * statistics can prune on EITHER clustered dimension (the `OPTIMIZE
  * ZORDER BY` of Delta/Iceberg, re-expressed as pure Column bit
  * arithmetic; see Morton 1966 and the linear-ordering discussion in the
  * Bayer/Markl UB-tree papers, PAPERS.md).
  *
  * Why it matters at scale: a table sorted by ONE key gives perfect file
  * skipping on that key and none on any other — every file's min/max for
  * the second column spans the whole domain. Interleaving the bits of two
  * normalized keys makes contiguous z-ranges (= files after a range
  * partition on z) cover small axis-aligned rectangles, so BOTH columns'
  * per-file min/max stay tight and a predicate on either one prunes most
  * files before any byte is read. [[skippingReport]] states that contract
  * as data: it simulates both layouts' file stats and emits the pruned /
  * scanned counts plus the soundness booleans, all in exact integer
  * arithmetic a DuckDB oracle replays bit-for-bit.
  *
  * Everything here is codegen-friendly Column bit ops (shift/and/or) —
  * no UDFs, constant masks, O(log bits) operations per key via the
  * classic parallel-bit-spread, so the z key costs a handful of ALU ops
  * per row inside whole-stage codegen.
  */
object Layout {

  /** Parallel bit-spread: the low 16 bits of `c` moved to the even bit
    * positions of a 32-bit result (0bxxxx -> 0b0x0x0x0x). The standard
    * O(log n) mask ladder; each step doubles the gap between live bits. */
  def spread16(c: Column): Column = {
    def step(x: Column, sh: Int, mask: Long): Column =
      x.bitwiseOR(shiftleft(x, sh)).bitwiseAND(lit(mask))
    val x0 = c.cast(LongType).bitwiseAND(lit(0xFFFFL))
    val x1 = step(x0, 8, 0x00FF00FFL)
    val x2 = step(x1, 4, 0x0F0F0F0FL)
    val x3 = step(x2, 2, 0x33333333L)
    step(x3, 1, 0x55555555L)
  }

  /** Morton z-value of two 16-bit keys: x's bits on even positions, y's
    * on odd — bit 31 is y15, bit 30 is x15, … so the top 2k bits of z
    * name a k-bit quadrant of each axis. */
  def zValue(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  // ------------------------------------------------ k-dimensional z-order
  // Real OPTIMIZE ZORDER BY takes N columns. Same constant-mask ladder,
  // wider strides: 3 keys at 21 bits each fill bits 0..62 of one long,
  // 4 keys at 15 bits each fill bits 0..59 (15, not 16, keeps the
  // result out of the sign bit). Still O(log bits) shift/and/or per key
  // inside whole-stage codegen.

  /** 21-bit spread at stride 3 (x → 0b..x00x00x): the published 3-D
    * Morton mask ladder. */
  def spread21to3(c: Column): Column = {
    def step(x: Column, sh: Int, mask: Long): Column =
      x.bitwiseOR(shiftleft(x, sh)).bitwiseAND(lit(mask))
    val x0 = c.cast(LongType).bitwiseAND(lit(0x1fffffL))
    val x1 = step(x0, 32, 0x1f00000000ffffL)
    val x2 = step(x1, 16, 0x1f0000ff0000ffL)
    val x3 = step(x2, 8, 0x100f00f00f00f00fL)
    val x4 = step(x3, 4, 0x10c30c30c30c30c3L)
    step(x4, 2, 0x1249249249249249L)
  }

  /** 15-bit spread at stride 4 (the 4-D ladder; 16-bit masks, input
    * capped to 15 bits so four interleaved axes stay below bit 63). */
  def spread15to4(c: Column): Column = {
    def step(x: Column, sh: Int, mask: Long): Column =
      x.bitwiseOR(shiftleft(x, sh)).bitwiseAND(lit(mask))
    val x0 = c.cast(LongType).bitwiseAND(lit(0x7fffL))
    val x1 = step(x0, 24, 0x000000ff000000ffL)
    val x2 = step(x1, 12, 0x000f000f000f000fL)
    val x3 = step(x2, 6, 0x0303030303030303L)
    step(x3, 3, 0x1111111111111111L)
  }

  /** 3-key Morton value (63 bits): x on bits ≡0 (mod 3), y ≡1, z ≡2. */
  def zValue3(x: Column, y: Column, z: Column): Column =
    spread21to3(x)
      .bitwiseOR(shiftleft(spread21to3(y), 1))
      .bitwiseOR(shiftleft(spread21to3(z), 2))

  /** 4-key Morton value (60 bits): axes on bit positions ≡0..3 (mod 4). */
  def zValue4(a: Column, b: Column, c: Column, d: Column): Column =
    spread15to4(a)
      .bitwiseOR(shiftleft(spread15to4(b), 1))
      .bitwiseOR(shiftleft(spread15to4(c), 2))
      .bitwiseOR(shiftleft(spread15to4(d), 3))

  /** Normalize two raw long columns onto the shared [0, 65535] key domain
    * via exact integer scaling against the observed min/max (one
    * single-row aggregate, broadcast — the only non-map work). Returns
    * (xk, yk) plus the originals, nulls dropped (a null key has no place
    * on the curve; the caller's table contract decides where nulls live).
    */
  /** Widest key domain the exact `(v - lo) * 65535` scaling can take
    * without Long overflow (~1.4e14). Wider domains (e.g. raw 64-bit
    * hashes) need a pre-scale by the caller; the guards below make the
    * violation loud instead of silently non-monotone. */
  private[graft] val maxDomain: Long = Long.MaxValue / 65535L

  private def normalized(df: DataFrame, x: Column, y: Column): DataFrame = {
    val raw = df.select(x.cast(LongType).as("xr"), y.cast(LongType).as("yr"))
      .where(col("xr").isNotNull && col("yr").isNotNull)
    val mm = raw.agg(
      min("xr").as("x_lo"), max("xr").as("x_hi"),
      min("yr").as("y_lo"), max("yr").as("y_hi"))
    // single-row broadcast: the licensed BNLJ shape (see PlanShapeSpec).
    // The domain-width guard lives INSIDE the key expression (an unused
    // guard column would be pruned away): overflow raises, never wraps.
    // The `>= 0` clause matters: for domains wider than 2^63 (raw 64-bit
    // hash keys) the Long subtraction itself wraps negative, and a
    // width-only check would pass the wrapped value through silently.
    def key(v: String, lo: String, hi: String) = expr(
      s"if($hi - $lo >= 0 AND $hi - $lo <= ${maxDomain}L, " +
        s"(($v - $lo) * 65535L) div greatest($hi - $lo, 1L), " +
        s"raise_error('z-order key domain wider than ${maxDomain}'))")
    raw.crossJoin(broadcast(mm))
      .withColumn("xk", key("xr", "x_lo", "x_hi"))
      .withColumn("yk", key("yr", "y_lo", "y_hi"))
  }

  /** Per-cell layout statistics: rows bucketed by the top `cellBits` bits
    * of their z-value (= the quadtree cell a z-range-partitioned file
    * would hold), each cell's row count and per-axis key min/max — the
    * exact stats a file-skipping reader consults. One two-phase hash
    * aggregate over ≤ 2^cellBits groups. */
  def cellStats(df: DataFrame, x: Column, y: Column, cellBits: Int)
  : DataFrame = {
    require(cellBits >= 2 && cellBits <= 32, s"cellBits out of range: $cellBits")
    normalized(df, x, y)
      .withColumn("cell", shiftright(zValue(col("xk"), col("yk")), 32 - cellBits))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        min("xk").as("x_min"), max("xk").as("x_max"),
        min("yk").as("y_min"), max("yk").as("y_max"))
      .orderBy("cell")
  }

  /** The skipping CONTRACT, stated as one self-verifying row: simulate
    * file-level min/max pruning for a y-axis range predicate under (a)
    * the z-order layout (cells = top `cellBits` z bits) and (b) a
    * single-key layout clustered on x alone (cells = top `cellBits` x
    * bits — what a plain `ORDER BY x` write produces), and report
    *
    *   rows_match                exact rows satisfying yk BETWEEN lo AND hi
    *   z_cells / z_pruned /      occupied cells, cells whose [y_min,y_max]
    *   z_rows_scanned            misses the predicate, rows in surviving cells
    *   lin_cells / lin_pruned /  the same three for the x-clustered layout
    *   lin_rows_scanned
    *   z_sound / lin_sound       no matching row lived in a pruned cell
    *   z_beats_linear            z scans strictly fewer rows for this
    *                             second-dimension predicate
    *
    * The booleans ride the hashed output, so a layout regression (a z
    * formula change that widens cell bounding boxes, a pruning rule that
    * drops a matching row) fails the oracle gate itself, not just a spec.
    * Cost: one scan into a cached 4-column key frame, three bounded
    * aggregates over it (2 × ≤2^cellBits cells + one predicate count). */
  def skippingReport(df: DataFrame, x: Column, y: Column, cellBits: Int,
    yLo: Long, yHi: Long): DataFrame = {
    require(cellBits >= 2 && cellBits <= 16, s"cellBits out of range: $cellBits")
    val keys = Fence.cached(
      normalized(df, x, y)
        .withColumn("zcell",
          shiftright(zValue(col("xk"), col("yk")), 32 - cellBits))
        .withColumn("lcell", shiftright(col("xk"), 16 - cellBits))
        .select("xk", "yk", "zcell", "lcell"))

    def layout(cellCol: String, prefix: String): DataFrame = {
      val cells = keys.groupBy(cellCol).agg(
        count(lit(1)).as("n"),
        min("yk").as("y_min"), max("yk").as("y_max"),
        // soundness witness: matching rows inside this cell
        sum(when(col("yk").between(yLo, yHi), 1L).otherwise(0L)).as("m"))
        .withColumn("pruned",
          col("y_max") < lit(yLo) || col("y_min") > lit(yHi))
      cells.agg(
        count(lit(1)).as(s"${prefix}_cells"),
        sum(when(col("pruned"), 1L).otherwise(0L)).as(s"${prefix}_pruned"),
        sum(when(!col("pruned"), col("n")).otherwise(0L))
          .as(s"${prefix}_rows_scanned"),
        // a pruned cell holding a matching row would be a correctness bug
        (sum(when(col("pruned"), col("m")).otherwise(0L)) === 0L)
          .as(s"${prefix}_sound"))
    }

    val matches = keys.agg(
      sum(when(col("yk").between(yLo, yHi), 1L).otherwise(0L))
        .as("rows_match"))

    matches
      .crossJoin(broadcast(layout("zcell", "z")))
      .crossJoin(broadcast(layout("lcell", "lin")))
      .withColumn("z_beats_linear",
        col("z_rows_scanned") < col("lin_rows_scanned"))
      .select("rows_match",
        "z_cells", "z_pruned", "z_rows_scanned",
        "lin_cells", "lin_pruned", "lin_rows_scanned",
        "z_sound", "lin_sound", "z_beats_linear")
  }

  /** Widest domain the exact 21-bit scaling can take (~4.4e12). */
  private[graft] val maxDomain3: Long = Long.MaxValue / 2097151L

  /** [[skippingReport]] for THREE clustered keys: cells are the top
    * `cellBits` bits of the 63-bit 3-key Morton value, the predicate
    * lives on the THIRD axis (normalized [0, 2097151] space) — the axis
    * a single-key layout is blindest to — and the single-key comparison
    * layout clusters on x alone. Same self-verifying output shape:
    * soundness booleans and scan counts ride the hashed oracle row. */
  def skippingReport3(df: DataFrame, x: Column, y: Column, z: Column,
    cellBits: Int, zLo: Long, zHi: Long): DataFrame = {
    require(cellBits >= 3 && cellBits <= 21 && cellBits % 3 == 0,
      s"cellBits must be a multiple of 3 in [3,21]: $cellBits")
    val raw = df.select(x.cast(LongType).as("xr"), y.cast(LongType).as("yr"),
      z.cast(LongType).as("zr"))
      .where(col("xr").isNotNull && col("yr").isNotNull &&
        col("zr").isNotNull)
    val mm = raw.agg(
      min("xr").as("x_lo"), max("xr").as("x_hi"),
      min("yr").as("y_lo"), max("yr").as("y_hi"),
      min("zr").as("z_lo"), max("zr").as("z_hi"))
    // the same in-expression overflow guard as the 2-D path, at the
    // 21-bit scale (wrapped differences must raise, never pass)
    def key(v: String, lo: String, hi: String) = expr(
      s"if($hi - $lo >= 0 AND $hi - $lo <= ${maxDomain3}L, " +
        s"(($v - $lo) * 2097151L) div greatest($hi - $lo, 1L), " +
        s"raise_error('3-key domain wider than ${maxDomain3}'))")
    val keys = Fence.cached(
      raw.crossJoin(broadcast(mm))
        .withColumn("xk", key("xr", "x_lo", "x_hi"))
        .withColumn("yk", key("yr", "y_lo", "y_hi"))
        .withColumn("zk", key("zr", "z_lo", "z_hi"))
        .withColumn("cell3",
          shiftright(zValue3(col("xk"), col("yk"), col("zk")),
            63 - cellBits))
        .withColumn("lcell", shiftright(col("xk"), 21 - cellBits))
        .select("xk", "yk", "zk", "cell3", "lcell"))

    def layout(cellCol: String, prefix: String): DataFrame = {
      val cells = keys.groupBy(cellCol).agg(
        count(lit(1)).as("n"),
        min("zk").as("z_min"), max("zk").as("z_max"),
        sum(when(col("zk").between(zLo, zHi), 1L).otherwise(0L)).as("m"))
        .withColumn("pruned",
          col("z_max") < lit(zLo) || col("z_min") > lit(zHi))
      cells.agg(
        count(lit(1)).as(s"${prefix}_cells"),
        sum(when(col("pruned"), 1L).otherwise(0L)).as(s"${prefix}_pruned"),
        sum(when(!col("pruned"), col("n")).otherwise(0L))
          .as(s"${prefix}_rows_scanned"),
        (sum(when(col("pruned"), col("m")).otherwise(0L)) === 0L)
          .as(s"${prefix}_sound"))
    }

    val matches = keys.agg(
      sum(when(col("zk").between(zLo, zHi), 1L).otherwise(0L))
        .as("rows_match"))

    matches
      .crossJoin(broadcast(layout("cell3", "z3")))
      .crossJoin(broadcast(layout("lcell", "lin")))
      .withColumn("z3_beats_linear",
        col("z3_rows_scanned") < col("lin_rows_scanned"))
      .select("rows_match",
        "z3_cells", "z3_pruned", "z3_rows_scanned",
        "lin_cells", "lin_pruned", "lin_rows_scanned",
        "z3_sound", "lin_sound", "z3_beats_linear")
  }

  // ------------------------------------------------------- Hilbert curve

  /** Hilbert-curve index of grid cell `(xq, yq)` on the 2^bits × 2^bits
    * grid — the classic iterative xy2d (top-down quadrant walk with
    * reflect-and-swap rotation; see Hilbert 1891 and the public-domain
    * Wikipedia formulation). The curve's defining property over z-order
    * is LOCALITY: consecutive indices are always grid-adjacent (step
    * distance exactly 1), so contiguous index ranges — files — cover
    * connected, compact regions; z-order pays jump discontinuities of up
    * to half the grid. The `hilbert_curve_contract` query pins exactly
    * that theorem as hashed data.
    *
    * Bounded to small `bits` by construction: the rotation chain embeds
    * each step's (x, y) expressions into the next, so the tree grows
    * ~4× per step — fine for the ≤4-bit CELL grids it exists for (files
    * are cell runs; key-level resolution stays with the z path), and a
    * require() stops anything wider before it hits codegen. */
  def hilbertIndex(xq: Column, yq: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 4, s"hilbertIndex is for cell grids: $bits")
    val n = 1L << bits
    var x = xq.cast(LongType)
    var y = yq.cast(LongType)
    var d: Column = lit(0L)
    var s = n / 2
    while (s > 0) {
      val rx = when(x.bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val ry = when(y.bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      d = d + lit(s * s) * (lit(3L) * rx).bitwiseXOR(ry)
      // rotation: under ry == 0, reflect by n-1 when rx == 1, then swap
      val xr = when(rx === 1, lit(n - 1) - x).otherwise(x)
      val yr = when(rx === 1, lit(n - 1) - y).otherwise(y)
      val nx = when(ry === 0, yr).otherwise(x)
      val ny = when(ry === 0, xr).otherwise(y)
      x = nx
      y = ny
      s /= 2
    }
    d
  }

  /** Hilbert index as a STAGED DataFrame transform: the same xy2d walk
    * as [[hilbertIndex]], but each level's (x, y, d) land behind their
    * own projection boundary (the CollapseProject idiom that fixed the
    * PNG byte stream: the per-level aliases are non-cheap and read 3×
    * by the next level, so the optimizer keeps the boundaries), giving
    * O(bits) bounded stages instead of the Column form's ~4×-per-level
    * expression tree — this is what lifts the 4-bit cap to full
    * 16-bit-per-axis resolution and makes the Hilbert layout physical.
    * Appends `out`; the temp columns never escape. */
  def withHilbertIndex(df: DataFrame, xq: Column, yq: Column, bits: Int,
    out: String): DataFrame = {
    require(bits >= 1 && bits <= 16, s"bits out of range: $bits")
    val temps = Seq("__h_x", "__h_y", "__h_d", "__h_rx", "__h_ry")
    require(!temps.exists(df.columns.contains),
      s"input frame reserves ${temps.mkString(", ")}")
    val n = 1L << bits
    var cur = df
      .withColumn("__h_x", xq.cast(LongType))
      .withColumn("__h_y", yq.cast(LongType))
      .withColumn("__h_d", lit(0L))
    var s = n / 2
    while (s > 0) {
      cur = cur
        .withColumn("__h_rx",
          when(col("__h_x").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn("__h_ry",
          when(col("__h_y").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
      val rx = col("__h_rx"); val ry = col("__h_ry")
      val x = col("__h_x"); val y = col("__h_y")
      cur = cur.select(col("*"),
        (col("__h_d") + lit(s * s) * (lit(3L) * rx).bitwiseXOR(ry))
          .as("__h_d2"),
        // rotation: under ry == 0, reflect by n-1 when rx == 1, then swap
        when(ry === 0, when(rx === 1, lit(n - 1) - y).otherwise(y))
          .otherwise(x).as("__h_x2"),
        when(ry === 0, when(rx === 1, lit(n - 1) - x).otherwise(x))
          .otherwise(y).as("__h_y2"))
        .drop("__h_d", "__h_x", "__h_y", "__h_rx", "__h_ry")
        .withColumnRenamed("__h_d2", "__h_d")
        .withColumnRenamed("__h_x2", "__h_x")
        .withColumnRenamed("__h_y2", "__h_y")
      s /= 2
    }
    cur.withColumn(out, col("__h_d"))
      .drop("__h_x", "__h_y", "__h_d")
  }

  /** Driver-side inverse (d2xy, the same public formulation): curve
    * index → grid cell, the bounded loop the pruned reader uses to test
    * each Hilbert cell against a quadrant box. */
  private[graft] def d2xy(bits: Int, d: Long): (Long, Long) = {
    var x = 0L; var y = 0L; var t = d
    var s = 1L
    val n = 1L << bits
    while (s < n) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s *= 2
    }
    (x, y)
  }

  /** Per-FILE bounding-box stats for the SAME rows under both curves:
    * files simulate as runs of `cellsPerFile` consecutive curve cells
    * (a range partition on the curve index), and each file reports its
    * row count and per-axis key min/max — the stats a skipping reader
    * consults. Z files inherit the curve's jump discontinuities (a run
    * crossing a z jump spans disconnected regions → wide boxes); Hilbert
    * runs are always connected (unit steps), so its boxes stay compact.
    * Output `(curve, file, n, x_min, x_max, y_min, y_max)`, both curves
    * from ONE cached key frame. */
  def curveFileStats(df: DataFrame, x: Column, y: Column, cellBits: Int,
    cellsPerFile: Int): DataFrame = {
    require(cellBits >= 2 && cellBits % 2 == 0 && cellBits / 2 <= 4,
      s"cell grid out of hilbertIndex range: $cellBits")
    require(cellsPerFile >= 1, s"cellsPerFile: $cellsPerFile")
    val axisBits = cellBits / 2
    val keys = Fence.cached(normalized(df, x, y)
      .withColumn("zcell",
        shiftright(zValue(col("xk"), col("yk")), 32 - cellBits))
      .withColumn("hcell", hilbertIndex(
        shiftright(col("xk"), 16 - axisBits),
        shiftright(col("yk"), 16 - axisBits), axisBits))
      .select("xk", "yk", "zcell", "hcell"))
    def files(cellCol: String, curve: String): DataFrame = keys
      .withColumn("file", expr(s"$cellCol div $cellsPerFile"))
      .groupBy("file").agg(count(lit(1)).as("n"),
        min("xk").as("x_min"), max("xk").as("x_max"),
        min("yk").as("y_min"), max("yk").as("y_max"))
      .select(lit(curve).as("curve"), col("file"), col("n"),
        col("x_min"), col("x_max"), col("y_min"), col("y_max"))
    files("zcell", "z").unionByName(files("hcell", "h"))
      .orderBy("curve", "file")
  }

  /** The z-vs-Hilbert FILE-skipping comparison as one self-verifying
    * row: files simulate as runs of `cellsPerFile` consecutive curve
    * cells (UNALIGNED runs — power-of-four runs make the two curves'
    * files the same quadrant blocks, so this is where they separate), a
    * file is scanned iff its y min/max box intersects the band (the
    * [[readPrunedByStats]] manifest contract), soundness = no matching
    * row in a skipped file. Both curves from ONE cached key frame;
    * `yLo`/`yHi` in normalized [0, 65535] space. */
  def curveSkippingReport(df: DataFrame, x: Column, y: Column,
    cellBits: Int, cellsPerFile: Int, yLo: Long, yHi: Long): DataFrame = {
    require(cellBits >= 2 && cellBits % 2 == 0 && cellBits / 2 <= 4,
      s"cell grid out of hilbertIndex range: $cellBits")
    require(cellsPerFile >= 1, s"cellsPerFile: $cellsPerFile")
    val axisBits = cellBits / 2
    val keys = Fence.cached(normalized(df, x, y)
      .withColumn("zcell",
        shiftright(zValue(col("xk"), col("yk")), 32 - cellBits))
      .withColumn("hcell", hilbertIndex(
        shiftright(col("xk"), 16 - axisBits),
        shiftright(col("yk"), 16 - axisBits), axisBits))
      .select("xk", "yk", "zcell", "hcell"))
    def layout(cellCol: String, prefix: String): DataFrame = {
      val files = keys
        .withColumn("file", expr(s"$cellCol div $cellsPerFile"))
        .groupBy("file").agg(count(lit(1)).as("n"),
          min("yk").as("y_min"), max("yk").as("y_max"),
          sum(when(col("yk").between(yLo, yHi), 1L).otherwise(0L)).as("m"))
        .withColumn("skipped",
          col("y_max") < lit(yLo) || col("y_min") > lit(yHi))
      files.agg(
        count(lit(1)).as(s"${prefix}_files"),
        sum(when(col("skipped"), 1L).otherwise(0L)).as(s"${prefix}_skipped"),
        sum(when(!col("skipped"), col("n")).otherwise(0L))
          .as(s"${prefix}_rows_scanned"),
        (sum(when(col("skipped"), col("m")).otherwise(0L)) === 0L)
          .as(s"${prefix}_sound"))
    }
    val matches = keys.agg(
      sum(when(col("yk").between(yLo, yHi), 1L).otherwise(0L))
        .as("rows_match"))
    matches
      .crossJoin(broadcast(layout("zcell", "z")))
      .crossJoin(broadcast(layout("hcell", "h")))
      .withColumn("h_beats_z",
        col("h_rows_scanned") < col("z_rows_scanned"))
      .select("rows_match", "z_files", "z_skipped", "z_rows_scanned",
        "h_files", "h_skipped", "h_rows_scanned",
        "z_sound", "h_sound", "h_beats_z")
  }

  // ------------------------------------------------- the clustered table
  // The simulated contract above, made physical: write rows into
  // `zcell=` directories (Spark partition pruning = real file skipping —
  // a pruned cell's files are never listed, opened, or read), read back
  // through a driver-side quadrant intersection that turns a raw 2-D
  // range predicate into the static cell list + the exact residual
  // filter. The AnnIndex `cell_bucket=` pattern applied to layout.

  private[graft] final case class TableMeta(xName: String, yName: String,
    xLo: Long, xHi: Long, yLo: Long, yHi: Long, cellBits: Int,
    curve: String = "z", cellsPerFile: Int = 1) {
    /** The physical partition column (= file id when cellsPerFile > 1). */
    def partitionCol: String = if (curve == "h") "hcell" else "zcell"
    /** cell id → file id. Deliberately NOT restricted to powers of two:
      * aligned (power-of-four) runs make z and Hilbert files the same
      * quadrant blocks — the curves only separate on UNALIGNED runs,
      * where a z file spans disconnected regions and a Hilbert file
      * stays connected (the `orders_curve_files` theorem). */
    def fileOf(cell: Long): Long = cell / cellsPerFile
  }

  private[graft] def readMeta(spark: SparkSession, path: String): TableMeta = {
    val m = spark.read.parquet(s"$path/meta").head() // bounded: 1 row
    val fields = m.schema.fieldNames.toSet
    TableMeta(m.getAs[String]("x_name"), m.getAs[String]("y_name"),
      m.getAs[Long]("x_lo"), m.getAs[Long]("x_hi"),
      m.getAs[Long]("y_lo"), m.getAs[Long]("y_hi"),
      m.getAs[Int]("cell_bits"),
      if (fields("curve")) m.getAs[String]("curve") else "z",
      if (fields("cells_per_file")) m.getAs[Int]("cells_per_file") else 1)
  }

  private def writeMeta(spark: SparkSession, path: String,
    meta: TableMeta): Unit = {
    import spark.implicits._
    Seq((meta.xName, meta.yName, meta.xLo, meta.xHi, meta.yLo, meta.yHi,
      meta.cellBits, meta.curve, meta.cellsPerFile))
      .toDF("x_name", "y_name", "x_lo", "x_hi", "y_lo", "y_hi",
        "cell_bits", "curve", "cells_per_file")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Append `meta`'s physical partition column (cell id shifted down to
    * the file id) to a raw frame — the one keying path shared by the
    * initial build, streaming appends ([[graft.sinks.LayoutSink]]), and
    * compaction, so all three bucket rows identically. */
  private[graft] def withFileCol(df: DataFrame, meta: TableMeta): DataFrame = {
    val xk = scaleKey(meta.xName, meta.xLo, meta.xHi)
    val yk = scaleKey(meta.yName, meta.yLo, meta.yHi)
    val rows =
      df.where(col(meta.xName).isNotNull && col(meta.yName).isNotNull)
    val keyed =
      if (meta.curve == "h") {
        val axisBits = meta.cellBits / 2
        withHilbertIndex(rows,
          shiftright(xk, 16 - axisBits), shiftright(yk, 16 - axisBits),
          axisBits, "__file_cell")
      } else
        rows.withColumn("__file_cell",
          shiftright(zValue(xk, yk), 32 - meta.cellBits))
    keyed
      .withColumn(meta.partitionCol,
        expr(s"__file_cell div ${meta.cellsPerFile}"))
      .drop("__file_cell")
  }

  /** Write `df` z-clustered on two of its LONG columns (named, not
    * expressions — the read path re-filters on them) into `path/data`'s
    * `zcell=` directories, plus a one-row `path/meta` holding the
    * normalization bounds the reader needs to map raw predicates onto
    * the curve. 2^cellBits directories — bounded fan-out by construction
    * (the 100 TB knob is cellBits, traded against files-per-cell). */
  def writeClustered(df: DataFrame, path: String, xName: String,
    yName: String, cellBits: Int, cellsPerFile: Int = 1): Unit =
    writeClusteredCurve(df, path, xName, yName, cellBits, "z", cellsPerFile)

  /** [[writeClustered]]'s Hilbert twin: rows land in `hcell=` file
    * directories keyed by the STAGED curve index ([[withHilbertIndex]] —
    * the lift past the Column form's 4-bit cap), so contiguous file ids
    * cover CONNECTED key regions (the `orders_curve_files` theorem made
    * physical); [[readPruned]] dispatches on the meta's curve tag. */
  def writeClusteredHilbert(df: DataFrame, path: String, xName: String,
    yName: String, cellBits: Int, cellsPerFile: Int = 1): Unit =
    writeClusteredCurve(df, path, xName, yName, cellBits, "h", cellsPerFile)

  private def writeClusteredCurve(df: DataFrame, path: String,
    xName: String, yName: String, cellBits: Int, curve: String,
    cellsPerFile: Int): Unit = {
    require(cellBits >= 2 && cellBits <= 16 && cellBits % 2 == 0,
      s"cellBits must be even in [2,16]: $cellBits")
    require(cellsPerFile >= 1 && cellsPerFile <= (1 << cellBits),
      s"cellsPerFile must be in [1, 2^cellBits]: $cellsPerFile")
    val rows = df.where(col(xName).isNotNull && col(yName).isNotNull)
    // bounded driver materialization: exactly 4 longs
    val mm = rows.agg(
      min(col(xName).cast(LongType)), max(col(xName).cast(LongType)),
      min(col(yName).cast(LongType)), max(col(yName).cast(LongType)))
      .head()
    require(!mm.isNullAt(0) && !mm.isNullAt(2),
      s"cannot cluster: no rows with both `$xName` and `$yName` non-null")
    val meta = TableMeta(xName, yName, mm.getLong(0), mm.getLong(1),
      mm.getLong(2), mm.getLong(3), cellBits, curve, cellsPerFile)
    require(meta.xHi - meta.xLo <= maxDomain &&
      meta.yHi - meta.yLo <= maxDomain,
      s"curve key domain wider than $maxDomain — pre-scale the keys")
    // two consumers (data + stats): persist so the curve keys and the
    // input scan run once, not per consumer
    val keyed = withFileCol(rows, meta).persist()
    try {
      keyed
        .repartition(col(meta.partitionCol))
        .sortWithinPartitions(col(xName), col(yName))
        .write.mode("overwrite").partitionBy(meta.partitionCol)
        .parquet(s"$path/data")
      writeStats(keyed, path, meta)
    } finally { keyed.unpersist(); () }
    writeMeta(df.sparkSession, path, meta)
  }

  /** Per-file min/max manifest — the production skipping pattern
    * (parquet footer stats / Delta add-file stats / Iceberg manifests):
    * one row per file with raw-key bounds, ≤ 2^cellBits rows total.
    * [[readPrunedByStats]] consults it; appends ADD rows (one per
    * batch×file — sound: a file is scanned iff ANY of its stats rows
    * intersects), compaction rewrites it back to one row per file. */
  private[graft] def writeStats(keyed: DataFrame, path: String,
    meta: TableMeta, mode: String = "overwrite"): Unit =
    keyed.groupBy(meta.partitionCol).agg(
      count(lit(1)).as("n"),
      min(col(meta.xName).cast(LongType)).as("x_min"),
      max(col(meta.xName).cast(LongType)).as("x_max"),
      min(col(meta.yName).cast(LongType)).as("y_min"),
      max(col(meta.yName).cast(LongType)).as("y_max"))
      .coalesce(1).write.mode(mode).parquet(s"$path/stats")

  /** Read the clustered table under a range predicate by FILE STATS
    * skipping — the manifest-driven path every lakehouse reader runs
    * (no curve math needed at read time, appends included): a file is
    * scanned iff its [min,max] box intersects the predicate, the raw
    * ranges re-apply as the exact residual. Bit-identical to a
    * full-scan WHERE; only the bytes touched differ. This is where the
    * Hilbert layout physically beats z: with unaligned multi-cell
    * files, z files span disconnected regions (wide boxes → fewer
    * skips) while Hilbert files stay connected (tight boxes). */
  def readPrunedByStats(spark: SparkSession, path: String,
    xRange: Option[(Long, Long)], yRange: Option[(Long, Long)]): DataFrame = {
    val meta = readMeta(spark, path)
    val files = survivingFilesByStats(spark, path, meta, xRange, yRange)
    def residual(name: String, r: Option[(Long, Long)]): Column =
      r.map { case (a, b) => col(name).between(a, b) }.getOrElse(lit(true))
    spark.read.parquet(s"$path/data")
      .where(col(meta.partitionCol).isin(files: _*))
      .where(residual(meta.xName, xRange) && residual(meta.yName, yRange))
      .drop(meta.partitionCol)
  }

  /** The manifest consultation: bounded driver materialization (≤
    * 2^cellBits stats rows, plus one per appended batch×file until a
    * compact folds them back). */
  private[graft] def survivingFilesByStats(spark: SparkSession,
    path: String, meta: TableMeta, xRange: Option[(Long, Long)],
    yRange: Option[(Long, Long)]): Seq[Long] = {
    def hit(name: String, r: Option[(Long, Long)]): Column = r match {
      case None => lit(true)
      case Some((a, b)) => !(col(s"${name}_max") < a || col(s"${name}_min") > b)
    }
    readStatsResilient(spark, path) { statsDf =>
      statsDf.where(hit("x", xRange) && hit("y", yRange))
        .select(col(meta.partitionCol).cast(LongType))
        .distinct().collect().map(_.getLong(0)).toSeq
    }
  }

  /** Run `body` over the stats manifest riding out the maintenance
    * swap window: LayoutSink.compactStats briefly renames the live dir
    * aside ([[graft.util.SwapDirs.replace]]), so a concurrent
    * reader can land when the live path is absent — the complete prior
    * copy is at `__old` then, and if the writer finishes the swap
    * mid-read (deleting `__old`) the retry lands on the fresh live
    * dir. The whole read-to-collect runs inside the retry so a file
    * vanishing between listing and scan also retries. Bounded; a
    * manifest missing for any OTHER reason still surfaces as the
    * original error on the last attempt. */
  private def readStatsResilient[T](spark: SparkSession,
    path: String)(body: DataFrame => T): T = {
    val stats = new org.apache.hadoop.fs.Path(s"$path/stats")
    val fs = stats.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // 8 attempts with a geometric cap (~6.4 s total): a reader that
    // keeps landing in repeated back-to-back fold swaps (per-batch
    // folds under a fast appender) outlasts any realistic swap burst —
    // each swap window is two renames, so the budget covers thousands
    // of consecutive windows. The renamed-aside fallback is RE-CHECKED
    // inside every attempt (the `target` probe below), including the last.
    var attempt = 0
    while (true) {
      val target = graft.util.SwapDirs.readable(fs, stats)
      try return body(spark.read.parquet(target.toString))
      catch {
        case scala.util.control.NonFatal(e) =>
          if (attempt >= 8) throw e
          attempt += 1
          Thread.sleep(math.min(50L << attempt, 1600L))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** `((clamp(v) - lo) * 65535) div max(hi - lo, 1)` as exact integer SQL
    * (the Column `/` is double division — not this). Values are CLAMPED
    * into the meta bounds first: the build sees only in-range values
    * (bounds are its min/max), but appended batches may drift past the
    * frozen normalization — those rows pile into the edge cells until a
    * re-layout, exactly like a production z-ordered table whose OPTIMIZE
    * hasn't rerun, and the reader's quadrant math clamps the same way so
    * they are always found. */
  private[graft] def scaleKey(name: String, lo: Long, hi: Long): Column = {
    require(hi - lo >= 0 && hi - lo <= maxDomain,
      s"z-order key domain wider than $maxDomain — pre-scale the keys")
    expr(s"((least(greatest(cast(`$name` as bigint), ${lo}L), ${hi}L)" +
      s" - ${lo}L) * 65535L) div ${math.max(hi - lo, 1L)}L")
  }

  /** The scaling formula on a driver-side long (must stay in lockstep
    * with [[scaleKey]], clamping included). */
  private def scaleRaw(v: Long, lo: Long, hi: Long): Long =
    ((math.min(math.max(v, lo), hi) - lo) * 65535L) / math.max(hi - lo, 1L)

  /** Cells whose quadrant intersects the (optional) raw ranges: the
    * driver-side loop is 2^cellBits iterations of pure bit arithmetic —
    * the bounded work that makes the read sublinear in files touched. */
  private[graft] def survivingCells(meta: TableMeta, xRange: Option[(Long, Long)],
    yRange: Option[(Long, Long)]): Seq[Long] = {
    val axisBits = meta.cellBits / 2
    // raw range -> key range (scaling is monotone, so endpoints map the
    // range) -> quadrant range. Endpoints CLAMP like the write path, so
    // a range past the frozen bounds still reaches the edge cells where
    // appended out-of-range rows live (at worst one conservative edge
    // quadrant per axis — the residual filter keeps semantics exact).
    // An inverted range selects nothing.
    def quadRange(r: Option[(Long, Long)], lo: Long, hi: Long)
    : Option[(Long, Long)] = r match {
      case None => Some((0L, (1L << axisBits) - 1))
      case Some((a, b)) =>
        if (a > b) None
        else Some((scaleRaw(a, lo, hi) >> (16 - axisBits),
          scaleRaw(b, lo, hi) >> (16 - axisBits)))
    }
    (quadRange(xRange, meta.xLo, meta.xHi),
      quadRange(yRange, meta.yLo, meta.yHi)) match {
      case (Some((xq0, xq1)), Some((yq0, yq1))) =>
        (0L until (1L << meta.cellBits)).filter { cell =>
          // map the cell id back to axis quadrants: z de-interleaves
          // (x on the even bits, y on the odd — see zValue), Hilbert
          // walks the inverse rotation chain (d2xy)
          val (xq, yq) =
            if (meta.curve == "h") d2xy(axisBits, cell)
            else (
              (0 until axisBits).foldLeft(0L)((q, i) =>
                q | (((cell >> (2 * i)) & 1L) << i)),
              (0 until axisBits).foldLeft(0L)((q, i) =>
                q | (((cell >> (2 * i + 1)) & 1L) << i)))
          xq >= xq0 && xq <= xq1 && yq >= yq0 && yq <= yq1
        }
      case _ => Seq.empty
    }
  }

  /** Read the clustered table under a 2-D range predicate: the cell list
    * becomes a STATIC partition filter (pruned `zcell=` directories are
    * never opened), the raw ranges re-apply exactly as the residual
    * filter, so the result is bit-identical to a full-scan WHERE — only
    * the bytes touched differ. `None` leaves an axis unconstrained. */
  def readPruned(spark: SparkSession, path: String,
    xRange: Option[(Long, Long)], yRange: Option[(Long, Long)]): DataFrame = {
    val meta = readMeta(spark, path)
    // surviving cells → surviving FILES (the partition dirs): with
    // cellsPerFile > 1 a file survives iff ANY of its cells does
    val files = survivingCells(meta, xRange, yRange)
      .map(meta.fileOf).distinct
    def residual(name: String, r: Option[(Long, Long)]): Column =
      r.map { case (a, b) => col(name).between(a, b) }.getOrElse(lit(true))
    spark.read.parquet(s"$path/data")
      .where(col(meta.partitionCol).isin(files: _*))
      .where(residual(meta.xName, xRange) && residual(meta.yName, yRange))
      .drop(meta.partitionCol)
  }

  /** Layout health — the `ann_index_cells` twin for clustered tables:
    * one bounded aggregate (≤ 2^cellBits groups) reporting total rows,
    * rows whose RAW keys drifted outside the frozen normalization
    * bounds (those clamp into edge cells until a re-layout — see
    * [[scaleKey]]), occupied files, the fattest file, and the verdict
    * `needs_relayout` = drifted fraction ≥ thresholdPct. The verdict is
    * what [[graft.sinks.LayoutSink.maybeRecluster]] acts on; stated as
    * data so the policy itself rides an oracle. */
  def layoutHealth(spark: SparkSession, path: String,
    thresholdPct: Int = 10): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"thresholdPct out of range: $thresholdPct")
    val meta = readMeta(spark, path)
    val drifted =
      col(meta.xName) < meta.xLo || col(meta.xName) > meta.xHi ||
        col(meta.yName) < meta.yLo || col(meta.yName) > meta.yHi
    spark.read.parquet(s"$path/data")
      .groupBy(meta.partitionCol)
      .agg(count(lit(1)).as("n"),
        sum(when(drifted, 1L).otherwise(0L)).as("d"))
      .agg(sum("n").as("n_rows"), sum("d").as("drifted_rows"),
        count(lit(1)).as("files"), max("n").as("max_file_rows"))
      .withColumn("needs_relayout",
        col("drifted_rows") * 100 >= col("n_rows") * thresholdPct)
  }

  /** Build-once z-clustered orders table (x = o_custkey, y = epoch-day of
    * o_orderdate as `o_day`); the registered `orders_zorder_pruned_read`
    * query reads this. Bench warm-up times the build once, the registered
    * query times the pruned READ — the point of a layout. */
  def clusteredOrdersAt(spark: SparkSession, sfDir: String): String =
    graft.util.ArtifactMemo.path("zlayout", sfDir) { path =>
      writeClustered(ordersWithDay(spark, sfDir), path, "o_custkey", "o_day",
        cellBits = 6)
    }

  /** Build-once HILBERT-clustered orders table (same keys as
    * [[clusteredOrdersAt]]); `orders_hilbert_pruned_read` reads this. */
  def clusteredOrdersHilbertAt(spark: SparkSession, sfDir: String): String =
    graft.util.ArtifactMemo.path("hlayout", sfDir) { path =>
      writeClusteredHilbert(ordersWithDay(spark, sfDir), path, "o_custkey",
        "o_day", cellBits = 6)
    }

  /** A fixture's orders with the epoch-day of o_orderdate as `o_day` —
    * the y key of every clustered-orders layout. */
  private[graft] def ordersWithDay(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables(spark, sfDir, "orders")
      .withColumn("o_day",
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000"))
}
