package graft.ext

import graft.util.Fence
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Misra–Gries heavy hitters: bounded-memory frequent-key candidates over
  * a key stream whose domain is too large to count exactly (URLs, shingle
  * hashes, n-grams at web scale — the token-counting shapes a 100 TB
  * pipeline meets where `groupBy.count` would shuffle a corpus-sized
  * vocabulary).
  *
  * Shape: each input partition runs the classic MG algorithm with `k`
  * counters (Misra & Gries 1982, "Finding repeated elements"); the
  * per-partition summaries — at most `k` rows each — are then merged
  * IN-PLAN by a key-summed aggregation. The merged estimate inherits both
  * MG guarantees partition-wise (Agarwal et al. 2012, "Mergeable
  * summaries" — summing per-partition MG estimates preserves the bound):
  *
  *  - NO OVERCOUNT: est(x) ≤ true(x)               (each partition's est
  *    only ever undercounts);
  *  - BOUNDED UNDERCOUNT: true(x) − est(x) ≤ N/(k+1)  (each decrement
  *    round at partition p retires k+1 arrivals, so rounds_p ≤ N_p/(k+1),
  *    and Σ_p N_p/(k+1) = N/(k+1));
  *  - hence NO FALSE NEGATIVES above the threshold: any x with
  *    true(x) > N/(k+1) has est(x) > 0 and survives.
  *
  * All three contracts are partitioning-independent — they hold under ANY
  * split of the stream — which is what makes the self-verifying
  * registered form ([[heavyHittersCheck]]) deterministic even though the
  * summary's non-guaranteed tail is not.
  *
  * Scale: per-partition state is exactly `k` counters (the bounded-memory
  * point of the sketch); the merge exchange carries ≤ partitions × k rows
  * — fleet-sized, not corpus-sized (1000 executors × k=32 is 32k rows);
  * the decrement round is O(k) but amortized O(1) per arrival in counter
  * units (each round retires k+1 units of accumulated weight). The
  * `mapPartitions` here is the genuine imperative-per-partition seam:
  * MG's counter eviction is sequential state no relational operator
  * expresses, its memory is bounded by construction, and its output is
  * bounded at k rows per partition.
  */
object HeavyHitters {

  /** THE Misra–Gries update rule — the one fold both the batch summary
    * (per input partition) and the streaming twin ([[graft.streaming
    * .StreamHeavyHitters]], per state bucket) run, so the two sketches
    * cannot diverge by construction. Mutates `counters` in place;
    * |counters| ≤ k throughout. */
  private[graft] def mgFold(
      counters: scala.collection.mutable.HashMap[String, Long],
      arrivals: Iterator[String],
      k: Int): Unit =
    arrivals.foreach { key =>
      counters.get(key) match {
        case Some(c) => counters.update(key, c + 1L)
        case None if counters.size < k => counters.update(key, 1L)
        case None =>
          // decrement-all round: the k resident counters and the
          // arriving key each give up one unit — k+1 stream units
          // retired, which is where the N/(k+1) bound comes from
          val dead = List.newBuilder[String]
          counters.foreach { case (t, c) =>
            if (c == 1L) dead += t else counters.update(t, c - 1L)
          }
          dead.result().foreach(counters.remove)
      }
    }

  /** Per-partition Misra–Gries summaries merged in-plan: (key, est) with
    * est ≤ true count and true − est ≤ N/(k+1). At most partitions × k
    * rows. Null keys carry no frequency contract and are dropped up
    * front (mirrors the dedup tier's null-fingerprint guard). */
  def mgSummary(keys: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need at least one counter, got $k")
    val spark = keys.sparkSession
    import spark.implicits._
    val parts = keys
      .select(col(keys.columns.head).cast("string").as("key"))
      .where(col("key").isNotNull)
      .as[String]
      .mapPartitions { iter =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        mgFold(counters, iter, k)
        counters.iterator
      }
      .toDF("key", "est_part")
    // mergeable-summaries step: summing per-partition MG estimates keeps
    // both bounds; map-side combine makes this exchange ≤ partitions × k
    parts.groupBy("key").agg(sum("est_part").as("est"))
  }

  /** Self-verifying registered form (the `contamination_bloom` pattern —
    * VERDICT r10 item 3): the summary's candidate SET depends on
    * partition boundaries, but its CONTRACT does not. The output row set
    * is the guaranteed-survivor set — keys whose EXACT count clears the
    * N/(k+1) threshold, which DuckDB recomputes exactly — and each row
    * carries the three MG contract booleans pinned TRUE by the oracle:
    * membership (`in_summary`), no-overcount (`est ≤ exact`), and the
    * undercount band (`(exact − est)·(k+1) ≤ N` — kept in integer
    * arithmetic so no float rides the hash). A broken eviction loop,
    * merge, or threshold turns rows red. The exact recount here is the
    * VERIFICATION side, not the operator (same framing as the bloom
    * gate's exact must-set). */
  def heavyHittersCheck(keys: DataFrame, k: Int = 32): DataFrame = {
    val keyed = keys
      .select(col(keys.columns.head).cast("string").as("key"))
      .where(col("key").isNotNull)
    val est = mgSummary(keyed, k)
    // the exact recount feeds BOTH the survivor filter and the total —
    // cache the key-cardinality-sized frame so the source scans twice
    // (sketch + recount), not three times
    val exact = Fence.cached(
      keyed.groupBy("key").agg(count(lit(1)).as("exact_n")))
    val total = exact.agg(sum("exact_n").as("n_total"))
    exact
      .crossJoin(broadcast(total))
      .where(col("exact_n") * (k + 1) > col("n_total"))
      // the summary is ≤ partitions × k rows — broadcast the sketch side
      .join(broadcast(est), Seq("key"), "left")
      .select(
        col("key"),
        col("exact_n"),
        coalesce(col("est") > 0L, lit(false)).as("in_summary"),
        coalesce(col("est") <= col("exact_n"), lit(false)).as("no_overcount"),
        coalesce((col("exact_n") - col("est")) * (k + 1) <= col("n_total"),
          lit(false)).as("within_band"))
      .orderBy("key")
  }
}
