package graft.ext

import graft.util.Fence
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-sequence packing: map each document onto the fixed-size
  * context windows it occupies under GPT-style concat-and-split assembly
  * (all docs concatenated in a canonical order, the token stream cut every
  * `budget` tokens; docs straddle window boundaries).
  *
  * The core primitive is a GLOBAL running total — and the naive Spark
  * form, `Window.orderBy(...)` with no partition key, collapses the whole
  * dataset into one partition, which is exactly the anti-pattern that dies
  * at 100 TB. [[withGlobalOffset]] computes the same exclusive prefix sum
  * scalably: range-repartition on the order key, per-partition running
  * sums, and a driver-side exclusive prefix over the numPartitions partial
  * sums. The only driver-side data is ONE long per partition (same shape
  * as the bucket IN-list at the ActivitySink API edge), broadcast back as
  * a map literal.
  */
object Packing {

  import TextOps._

  /** Add an exclusive global running total of `valueCol` in ascending
    * `orderCol` order as `outCol` (row i gets the sum of all values of
    * rows strictly before it). Two jobs over one checkpointed range-shuffled
    * pass; the per-partition window reuses the range partitioning, so no
    * further exchange. `parts = 0` uses the session's shuffle parallelism.
    * The intermediate is pinned with an eager localCheckpoint (not persist)
    * so its sampled range boundaries can never be re-planned out from under
    * the driver-collected prefix map.
    */
  def withGlobalOffset(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      outCol: String,
      parts: Int = 0): DataFrame =
    withGlobalOffsetBy(df, Seq(orderCol), valueCol, outCol, parts)

  /** [[withGlobalOffset]] over a COMPOSITE ascending order key. The
    * multi-column form orders tuple-wise — unlike concatenating the
    * columns into one string key, which corrupts the total order
    * whenever a separator character can appear in the data. */
  def withGlobalOffsetBy(
      df: DataFrame,
      orderCols: Seq[String],
      valueCol: String,
      outCol: String,
      parts: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n =
      if (parts > 0) parts
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    // localCheckpoint (eager) pins the range partitioning: RangePartitioner
    // SAMPLES its boundaries per execution, so a mere persist() could be
    // dropped (eviction, scope release) and re-planned with DIFFERENT
    // __pid ranges than the driver-collected prefix map — silently wrong
    // offsets. A checkpoint truncates lineage: a lost block fails the job
    // instead of recomputing, which keeps the "recomputed, never wrong"
    // cache contract intact. The result dies with the caller's scope
    // (the checkpoint lifetime in [[graft.util.Fence]]).
    val ranged =
      df.repartitionByRange(n, orderCols.map(col): _*)
        .sortWithinPartitions(orderCols.head, orderCols.tail: _*)
        .withColumn("__pid", spark_partition_id())
        .transform(Fence.checkpointed)
    val partSums: Map[Int, Long] = ranged
      .groupBy("__pid").agg(sum(valueCol).as("s"))
      .collect()
      // a partition whose values are all NULL sums to NULL — count it as 0
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    val pids = partSums.keys.toSeq.sorted
    val prefix: Map[Int, Long] = pids
      .zip(pids.scanLeft(0L)((acc, p) => acc + partSums(p)))
      .toMap
    val w = Window.partitionBy("__pid")
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .withColumn(outCol,
        coalesce(sum(col(valueCol)).over(w), lit(0L)) +
          coalesce(element_at(typedLit(prefix), col("__pid")), lit(0L)))
      .drop("__pid")
  }

  /** Per-doc context-window assignment at `budget` tokens per window:
    * token offset (exclusive global prefix of whitespace-token counts in
    * doc_id order), the first and last window the doc's tokens land in,
    * and the window count. Zero-token docs are assigned the single window
    * at their offset (`greatest(n_tok, 1)` — both engines agree). */
  def packWindows(docs: DataFrame, budget: Int = 512): DataFrame =
    packWindowsCounted(
      docs.select(
        col("doc_id"),
        size(wsTokens(lower(col("text")))).cast("long").as("n_tok")),
      budget)

  /** [[packWindows]] over an arbitrary per-doc token-count frame
    * `(doc_id, n_tok)` — the seam that lets a LEARNED tokenizer
    * ([[Bpe.tokenize]]'s `n_tokens`) drive the packing instead of
    * whitespace counts. */
  def packWindowsCounted(counts: DataFrame, budget: Int = 512): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    withGlobalOffset(counts, "doc_id", "n_tok", "tok_offset")
      .select(col("doc_id"), col("n_tok"), col("tok_offset"),
        expr(s"tok_offset div $budget").as("win_first"),
        expr(s"(tok_offset + greatest(n_tok, 1) - 1) div $budget")
          .as("win_last"))
      .withColumn("n_windows", col("win_last") - col("win_first") + 1)
      .orderBy("doc_id")
  }
}
