package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

/** Stream-stream joins with bounded state — the streaming counterpart of
  * the batch [[graft.operators.AsOfJoin]] attribution shape.
  *
  * Both inputs are watermarked and the join condition carries event-time
  * bounds in BOTH directions, so Spark can evict join state once the
  * watermark passes `ts + horizon` on each side (without the time bounds a
  * stream-stream join buffers forever). Works identically on batch
  * DataFrames (the condition degenerates to a plain interval join).
  */
object StreamJoins {

  /** Purchases enriched with every click by the same user inside the
    * attribution horizon before the purchase (inner interval join).
    * Expects `user_id`, `ts`, `event_id` columns on both sides. */
  def purchaseAttribution(
      clicks: DataFrame,
      purchases: DataFrame,
      horizon: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes").alias("c")
    val p = purchases.withWatermark("ts", "10 minutes").alias("p")
    p.join(c,
        expr(s"""c.user_id = p.user_id
                 AND c.ts >= p.ts - INTERVAL $horizon
                 AND c.ts <= p.ts"""))
      .selectExpr(
        "p.event_id AS purchase_id", "p.user_id AS user_id",
        "p.ts AS purchase_ts", "c.event_id AS click_id", "c.ts AS click_ts")
  }
}
