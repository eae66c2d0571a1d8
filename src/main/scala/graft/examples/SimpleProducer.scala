package graft.examples

import org.apache.spark.sql.SparkSession

/**
 * Produce demo messages into the file-backed broker — the graft analog of
 * the reference's producer example (reference:
 * legacy/example/SimpleProducer.java:1-60, which loops SOURCE_TOPIC sends
 * through a DefaultMQProducer).
 *
 * Run: `sbt "runMain graft.examples.SimpleProducer [rootDir] [topic] [n]"`
 * Defaults: /tmp/graft-mq-demo SOURCE_TOPIC 128.
 */
object SimpleProducer {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft-mq-demo")
    val topic = if (args.length > 1) args(1) else "SOURCE_TOPIC"
    val n = if (args.length > 2) args(2).toInt else 128
    val spark = SparkSession.builder()
      .master("local[4]").appName("graft-simple-producer")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // message-shaped columns map by ROLE onto the wire format: body is the
    // payload, msg_key the dedup key, tag the subscription filter field
    val items = Seq("iphone 12", "pixel 9", "thinkpad x1")
    val users = Seq("alice", "bob", "carol")
    (0 until n).map { i =>
      (s"order-$i body", s"key-$i", if (i % 2 == 0) "created" else "paid",
        Map("user" -> users(i % users.length), "item" -> items(i % items.length)))
    }.toDF("body", "msg_key", "tag", "properties")
      .write.format("graft-mq").mode("append")
      .option("topic", topic).option("rootDir", root).option("numQueues", "4")
      .save()

    println(s"produced $n messages to $topic under $root")
    spark.stop()
  }
}
