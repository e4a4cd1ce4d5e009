package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The program's one streaming trigger policy. Every maintained table
  * drains its source the same way: `body` runs once per micro-batch
  * (with the batch id), in append mode, checkpointed at
  * `checkpointPath`, under `Trigger.AvailableNow` — process what the
  * source holds at start in bounded batches, then stop. */
object Drain {

  def availableNow(stream: DataFrame, checkpointPath: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch(body)
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()
}
