package graft.ext

import graft.util.Fence
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count–Min sketch (Cormode & Muthukrishnan 2005) — the point-frequency
  * companion to the Misra–Gries summary in [[HeavyHitters]]: MG answers
  * "which keys are heavy", CM answers "how often did THIS key occur"
  * with a one-sided error (never undercounts; overcounts by at most
  * ~2N/width with high probability, taking the min over `depth`
  * independent rows). The sketch is a d×w counter matrix — mergeable by
  * plain (row, col) sum, so it builds in-plan as ONE explode (×depth)
  * followed by one map-side-combined count: no state beyond d·w cells,
  * no shuffle wider than the d·w cell space, at any corpus size.
  *
  * Portability: row hashes are the md5-derived 64-bit
  * [[Dedup.portableTokenHash]] over `"r:key"`, so DuckDB rebuilds the
  * exact cell matrix from the same strings and the registered check
  * query carries a FULL implementation-equality oracle (the
  * `near_dup_simhash` precedent applied to the counter matrix). `width`
  * must be a power of two: Spark takes `pmod` of the SIGNED 64-bit
  * hash while the replay SQL reduces the UNSIGNED reading, and the two
  * residues agree exactly when width divides 2^64.
  */
object CountMin {

  val defaultDepth = 4
  val defaultWidth = 512

  /** Cell column for row `r`: portable hash of "r:key" reduced mod
    * width. Shared by the batch sketch, the estimate join, and the
    * streaming twin — the fold rule is defined once. */
  private[ext] def cellCol(r: Int, key: Column, width: Int): Column =
    pmod(Dedup.portableTokenHash(
      concat_ws(":", lit(r), key)), lit(width)).cast("int")

  private def requirePow2(width: Int): Unit =
    require(width > 0 && (width & (width - 1)) == 0,
      s"width must be a power of two (got $width): the signed (Spark) " +
        "and unsigned (oracle replay) hash residues agree only then")

  private def keyed(keys: DataFrame): DataFrame =
    keys.select(col(keys.columns.head).cast("string").as("key"))
      .where(col("key").isNotNull)

  /** The d×w counter matrix as (r, c, n) rows — ≤ depth·width of them,
    * regardless of input size. One explode + one two-phase count. */
  def sketch(keys: DataFrame, width: Int = defaultWidth,
      depth: Int = defaultDepth): DataFrame = {
    requirePow2(width)
    keyed(keys)
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), cellCol(r, col("key"), width).as("c"))): _*))
        .as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("n"))
  }

  /** Self-verifying check over EVERY distinct key of the input (the
    * fixture's key space is bounded; a production probe would feed a
    * bounded key list the same way): per key, the exact count, the CM
    * estimate (min over rows of the key's cells, read from a BROADCAST
    * of the ≤ d·w-row sketch), and the two accuracy contracts —
    * `no_undercount` (CM's deterministic one-sided guarantee) and
    * `within_band` (est ≤ exact + ⌈2N/width⌉). All integer arithmetic;
    * the DuckDB oracle replays the whole matrix from the portable hash,
    * so est_n itself is value-pinned, not just the booleans. */
  def cmCheck(keys: DataFrame, width: Int = defaultWidth,
      depth: Int = defaultDepth): DataFrame = {
    requirePow2(width)
    val k = keyed(keys)
    // exact recount feeds the per-key rows AND the total — cache the
    // key-cardinality-sized frame, one source scan for it + one for the
    // sketch
    val exact = Fence.cached(
      k.groupBy("key").agg(count(lit(1)).as("exact_n")))
    val total = exact.agg(sum("exact_n").as("n_total"))
    val cells = exact.select(col("key"),
      explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), cellCol(r, col("key"), width).as("c"))): _*))
        .as("rc"))
      .select(col("key"), col("rc.r").as("r"), col("rc.c").as("c"))
    val est = cells
      .join(broadcast(sketch(k, width, depth)), Seq("r", "c"))
      .groupBy("key").agg(min(col("n")).as("est_n"))
    exact
      .join(est, Seq("key"))
      .crossJoin(broadcast(total))
      .select(col("key"), col("exact_n"), col("est_n"),
        (col("est_n") >= col("exact_n")).as("no_undercount"),
        (col("est_n") <= col("exact_n") +
          ceil(lit(2.0) * col("n_total") / lit(width)).cast("long"))
          .as("within_band"))
      .orderBy("key")
  }
}
