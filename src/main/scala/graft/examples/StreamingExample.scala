package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * End-to-end streaming pipeline: mq source → event-time transform →
 * exactly-once mq sink — the graft analog of the reference's full job
 * example (reference: legacy/example/RocketMQFlinkExample.java:81-130:
 * checkpointed EXACTLY_ONCE env, RocketMQSourceFunction with keyed
 * deserialization → map → RocketMQSink). Flink's env.enableCheckpointing +
 * CheckpointingMode.EXACTLY_ONCE maps to Structured Streaming's
 * checkpointLocation plus the graft-mq sink's epoch-ledger commit
 * ([[graft.source.EpochLedger]]); rerunning this main replays nothing.
 *
 * Run: `sbt "runMain graft.examples.StreamingExample [rootDir]"`
 */
object StreamingExample {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft-mq-demo")
    val src = "SOURCE_TOPIC"
    val dst = "SINK_TOPIC"
    if (graft.source.TopicLog.listQueues(root, src).isEmpty)
      SimpleProducer.main(Array(root, src))
    val spark = SparkSession.builder()
      .master("local[4]").appName("graft-streaming-example")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val query = spark.readStream.format("graft-mq")
      .option("topic", src).option("consumerGroup", "GID_STREAMING_EXAMPLE")
      .option("rootDir", root).option("offsetResetTo", "earliest")
      .load()
      // the transform stage: uppercase the body, carry key/tag through —
      // the reference example's map(new MapFunction...) step
      .select(upper(col("body")).as("body"), col("msg_key"), col("tag"),
        col("born_ts"))
      .writeStream.format("graft-mq")
      .option("topic", dst).option("rootDir", root).option("numQueues", "4")
      .option("checkpointLocation", s"$root/_checkpoints/streaming-example")
      .trigger(Trigger.AvailableNow()) // drain the backlog, then stop
      .start()
    query.awaitTermination(120000)

    val out = spark.read.format("graft-mq")
      .option("topic", dst).option("consumerGroup", "GID_STREAMING_EXAMPLE")
      .option("rootDir", root).load()
    println(s"sink topic $dst now holds ${out.count()} messages (exactly-once:")
    println("rerun this main - the count will not change)")
    out.select("queue_id", "offset", "body").show(5, truncate = false)
    spark.stop()
  }
}
