package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one stream starter: every streaming entry point in this package is
  * a checkpointed `foreachBatch` query whose batch body is the family's
  * own idempotent fold, so a replayed batch id after a crash rewrites
  * what it wrote before. Output mode is `update`, which Spark treats as
  * append for these stateless queries.
  */
private[streaming] object FoldStream {
  /** @param trigger Spark's own default (`ProcessingTime(0)`: the next
    *   batch starts as soon as the last one ends) unless given. */
  def start(stream: DataFrame, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime(0L))(
      fold: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(fold)
      .start()
}
