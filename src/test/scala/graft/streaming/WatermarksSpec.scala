package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.source.{Message, TopicLog}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class WatermarksSpec extends SparkSpec {

  test("streaming windowed aggregate over the mq source with watermark drops late rows") {
    val root = Files.createTempDirectory("graft-wm").toString
    // two queues; timestamps in seconds-scale windows
    TopicLog.append(root, "wt", 0, Iterator(
      Message(10000, "a", "t", Map.empty, "1"),
      Message(20000, "b", "t", Map.empty, "1"),
      Message(70000, "c", "t", Map.empty, "1")))
    TopicLog.append(root, "wt", 1, Iterator(
      Message(15000, "d", "t", Map.empty, "1"),
      Message(65000, "e", "t", Map.empty, "1")))

    val outName = "wm_out_" + System.nanoTime()
    val stream = spark.readStream.format("graft-mq")
      .option("topic", "wt").option("consumerGroup", "g").option("rootDir", root)
      .option("offsetResetTo", "earliest").load()
    val agg = Watermarks.withBoundedOutOfOrderness(stream, "born_ts", 5000)
      .groupBy(window(col("born_ts"), "1 minute"))
      .count()
    val q = agg.writeStream.format("memory").queryName(outName)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.table(outName)
      .select(col("window.start").cast("long").as("start"), col("count"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(0L -> 3L, 60L -> 2L))
  }
}
