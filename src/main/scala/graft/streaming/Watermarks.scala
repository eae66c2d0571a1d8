package graft.streaming

import org.apache.spark.sql.DataFrame

/**
 * Event-time watermarks on Spark's own mechanism. The reference connector
 * ships six watermark generators (reference: legacy/common/watermark/) that
 * a Flink source calls per record; in Structured Streaming the engine keeps
 * the watermark itself — the max event time seen minus the delay, tracked
 * per partition and min-ed across the cluster at each trigger — so the
 * bounded-out-of-orderness discipline is one `withWatermark` call, and a
 * slow queue holds the watermark back as the per-queue generator did.
 */
object Watermarks {

  /** Bounded out-of-orderness == `withWatermark` on the event-time column
    * with the bound as the delay. */
  def withBoundedOutOfOrderness(
      df: DataFrame, eventTimeCol: String, maxOutOfOrdernessMs: Long): DataFrame =
    df.withWatermark(eventTimeCol, s"$maxOutOfOrdernessMs milliseconds")
}
