package graft.sink

import java.nio.file.Files

import graft.SparkSpec
import graft.source.TopicLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

class MessageQueueSinkSpec extends SparkSpec {

  private def freshRoot(): String = Files.createTempDirectory("graft-sink").toString

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("category", StringType)))

  /** A binary row of Catalyst values: strings as UTF8String, timestamps as micros. */
  private def irow(vs: Any*): InternalRow = InternalRow.fromSeq(vs.map {
    case s: String => UTF8String.fromString(s)
    case v => v
  })

  private def sampleDf(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"name$i", if (i % 2 == 0) "A" else "B"))
      .toDF("id", "name", "category")
  }

  test("write routes every row to one topic, numQueues queue files") {
    val root = freshRoot()
    val conv = new RowMessageConverter(schema, fieldDelimiter = ",", keyColumns = Seq("id"))
    MessageQueueSink.write(sampleDf(100), root,
      new DefaultTopicSelector[Map[String, Any]]("out"), conv, numQueues = 4)
    assert(TopicLog.listQueues(root, "out") === Seq(0, 1, 2, 3))
    val total = (0 until 4).map(q => TopicLog.maxOffset(root, "out", q)).sum
    assert(total === 100)
    val (_, m) = TopicLog.readRange(root, "out", 0, 0, 1).next()
    assert(m.body.split(",").length === 2) // id excluded (key), name+category remain
  }

  test("round-trip: sink then source returns the same rows") {
    val root = freshRoot()
    val conv = new RowMessageConverter(schema, fieldDelimiter = "\u0001",
      keyColumns = Seq("id"), writeKeysToBody = true)
    MessageQueueSink.write(sampleDf(50), root,
      new DefaultTopicSelector[Map[String, Any]]("rt"), conv, numQueues = 3)
    val back = spark.read.format("graft-mq")
      .option("topic", "rt").option("consumerGroup", "g").option("rootDir", root)
      .load()
      .select(split(col("body"), "\u0001").as("f"))
      .select(
        element_at(col("f"), 1).cast("long").as("id"),
        element_at(col("f"), 2).as("name"),
        element_at(col("f"), 3).as("category"))
    val got = back.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val want = sampleDf(50).collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === want)
  }

  test("SimpleTopicSelector splits rows across topics by field value") {
    val root = freshRoot()
    val conv = new RowMessageConverter(schema, fieldDelimiter = ",")
    MessageQueueSink.write(sampleDf(20), root,
      new SimpleTopicSelector("category", "default", "category", ""), conv, numQueues = 2)
    val aCount = TopicLog.listQueues(root, "A").map(q => TopicLog.maxOffset(root, "A", q)).sum
    val bCount = TopicLog.listQueues(root, "B").map(q => TopicLog.maxOffset(root, "B", q)).sum
    assert(aCount === 10 && bCount === 10)
  }

  test("dynamic tag column sets tag and can be excluded from body") {
    val conv = new RowMessageConverter(schema, fieldDelimiter = ",",
      dynamicTagColumn = Some("category"), dynamicTagIncluded = false)
    val m = conv.convert(irow(1L, "n", "A"), bornTs = 5L)
    assert(m.tag === "A")
    assert(m.body === "1,n")
    val convIncl = new RowMessageConverter(schema, fieldDelimiter = ",",
      dynamicTagColumn = Some("category"))
    assert(convIncl.convert(irow(1L, "n", "A"), 5L).body === "1,n,A")
  }

  test("key columns join with comma; property columns move to properties") {
    val conv = new RowMessageConverter(schema, fieldDelimiter = "|",
      keyColumns = Seq("id", "name"), propertyColumns = Seq("category"))
    val m = conv.convert(irow(7L, "x", "B"), bornTs = 1L)
    assert(m.key === "7,x")
    assert(m.properties === Map("category" -> "B"))
    assert(m.body === "") // id,name excluded as keys; category as property
  }

  test("bornTs column drives message time") {
    val s2 = StructType(schema.fields :+ StructField("ts", TimestampType))
    val conv = new RowMessageConverter(s2, fieldDelimiter = ",", bornTsColumn = Some("ts"))
    val m = conv.convert(irow(1L, "a", "A", 123456000L))
    assert(m.bornTs === 123456L)
  }

  test("unknown key column fails fast") {
    assertThrows[IllegalArgumentException] {
      new RowMessageConverter(schema, keyColumns = Seq("nope"))
    }
  }

  test("foreachBatch is idempotent: a replayed batchId appends nothing") {
    val root = freshRoot()
    val conv = new RowMessageConverter(schema, fieldDelimiter = ",")
    val fn = MessageQueueSink.foreachBatch(root,
      new DefaultTopicSelector[Map[String, Any]]("eo"), conv, numQueues = 2)
    val batch = sampleDf(10)
    fn(batch, 0L)
    val afterFirst = (0 until 2).map(q => TopicLog.maxOffset(root, "eo", q)).sum
    assert(afterFirst === 10)
    fn(batch, 0L) // crash-replay of the same micro-batch
    val afterReplay = (0 until 2).map(q => TopicLog.maxOffset(root, "eo", q)).sum
    assert(afterReplay === 10) // no duplicates
    fn(batch, 1L) // a genuinely new batch still lands
    assert((0 until 2).map(q => TopicLog.maxOffset(root, "eo", q)).sum === 20)
  }

  test("streaming pipeline: mq source -> foreachBatch sink with exactly-once replay") {
    import org.apache.spark.sql.streaming.Trigger
    val srcRoot = freshRoot()
    val dstRoot = freshRoot()
    graft.source.TopicLog.append(srcRoot, "in", 0,
      (0 until 6).iterator.map(i =>
        graft.source.Message(1000L * i.max(1), s"k$i", "t", Map.empty, s"$i,n$i,A")))
    val conv = new RowMessageConverter(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("body", org.apache.spark.sql.types.StringType))),
      fieldDelimiter = ",")
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-eo-ckpt").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft-mq")
        .option("topic", "in").option("consumerGroup", "g").option("rootDir", srcRoot)
        .option("offsetResetTo", "earliest").load()
        .select(col("body"))
        .writeStream
        .foreachBatch(MessageQueueSink.foreachBatch(dstRoot,
          new DefaultTopicSelector[Map[String, Any]]("out"), conv, numQueues = 1))
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    run()
    assert(TopicLog.maxOffset(dstRoot, "out", 0) === 6)
    run() // restart with no new data: nothing re-appended
    assert(TopicLog.maxOffset(dstRoot, "out", 0) === 6)
  }

  test("DSv2 write path: df.write.format(graft-mq) lands rows in queue logs") {
    val root = freshRoot()
    sampleDf(40).write.format("graft-mq")
      .option("topic", "dsv2").option("consumerGroup", "g").option("rootDir", root)
      .option("keyColumns", "id")
      .option("dynamicTagColumn", "category")
      .option("dynamicTagColumnWriteIncluded", "false")
      .mode("append")
      .save()
    val queues = TopicLog.listQueues(root, "dsv2")
    assert(queues.nonEmpty)
    val total = queues.map(q => TopicLog.maxOffset(root, "dsv2", q)).sum
    assert(total === 40)
    val (_, m) = TopicLog.readRange(root, "dsv2", queues.head, 0, 1).next()
    assert(m.tag === "A" || m.tag === "B") // dynamic tag from category
    assert(m.key.nonEmpty) // id as message key
    assert(m.body.split("\u0001").length === 1) // only name remains in body
  }

  test("DSv2 write honors numQueues via required distribution") {
    val root = freshRoot()
    sampleDf(30).repartition(10).write.format("graft-mq")
      .option("topic", "nq").option("consumerGroup", "g").option("rootDir", root)
      .option("numQueues", "3").option("fieldDelimiter", ",")
      .mode("append").save()
    assert(TopicLog.listQueues(root, "nq") === Seq(0, 1, 2))
    assert((0 until 3).map(q => TopicLog.maxOffset(root, "nq", q)).sum === 30)
  }

  test("DSv2 write then graft-mq read round-trips") {
    val root = freshRoot()
    sampleDf(25).write.format("graft-mq")
      .option("topic", "rt2").option("consumerGroup", "g").option("rootDir", root)
      .option("fieldDelimiter", ",").option("writeKeysToBody", "true")
      .mode("append").save()
    val back = spark.read.format("graft-mq")
      .option("topic", "rt2").option("consumerGroup", "g").option("rootDir", root)
      .load()
      .select(split(col("body"), ",").as("f"))
      .select(element_at(col("f"), 1).cast("long").as("id"),
        element_at(col("f"), 2).as("name"),
        element_at(col("f"), 3).as("category"))
    val got = back.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val want = sampleDf(25).collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === want)
  }

  test("one encoder: write, foreachBatch and the DSv2 writer render rows alike") {
    import spark.implicits._
    // every path writes `in` as topic "enc" of its own root, one queue
    def viaWrite(in: DataFrame, conv: RowMessageConverter): String = {
      val root = freshRoot()
      MessageQueueSink.write(in, root, new DefaultTopicSelector[Map[String, Any]]("enc"), conv,
        numQueues = 1)
      root
    }
    def viaForeachBatch(in: DataFrame, conv: RowMessageConverter): String = {
      val root = freshRoot()
      MessageQueueSink.foreachBatch(root, new DefaultTopicSelector[Map[String, Any]]("enc"),
        conv, numQueues = 1)(in, 0L)
      root
    }
    def viaDsv2(in: DataFrame, options: (String, String)*): String = {
      val root = freshRoot()
      options.foldLeft(in.write.format("graft-mq"))((w, kv) => w.option(kv._1, kv._2))
        .option("topic", "enc").option("consumerGroup", "g").option("rootDir", root)
        .option("numQueues", "1").mode("append").save()
      root
    }
    def lines(root: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(TopicLog.queueFile(root, "enc", 0).toPath).asScala.toSeq.sorted
    }
    def messages(root: String): Seq[graft.source.Message] =
      TopicLog.readRange(root, "enc", 0, 0, TopicLog.maxOffset(root, "enc", 0))
        .map(_._2).toSeq.sortBy(_.body)

    // long, string, binary, date, decimal and timestamp columns; the first
    // timestamp is before 1970 with a sub-millisecond part; the last row is
    // null in every body column; born_ts drives message time
    val frame = Seq(
      (Some(1L), Some("hi"), Some("bin"), Some("2024-01-02"), Some("0.0000001"), Some(-1500L), 1000L),
      (Some(2L), Some("\u00fc\tv"), Some("\u00e9"), Some("1969-07-20"), Some("12.5"),
        Some(1700000000123456L), 2000L),
      (None, None, None, None, None, None, 3000L))
      .toDF("id", "name", "raw", "day", "amount", "ts_us", "born_ms")
      .select(col("id"), col("name"), col("raw").cast("binary").as("raw"),
        col("day").cast("date").as("day"), col("amount").cast("decimal(10,7)").as("amount"),
        timestamp_micros(col("ts_us")).as("ts"), timestamp_millis(col("born_ms")).as("born_ts"))
    val conv = new RowMessageConverter(frame.schema, staticTag = "t", fieldDelimiter = "|",
      bornTsColumn = Some("born_ts"))
    val roots = Seq(viaWrite(frame, conv), viaForeachBatch(frame, conv),
      viaDsv2(frame, "tag" -> "t", "fieldDelimiter" -> "|"))
    val expected = Seq(
      (1000L, "1|hi|bin|2024-01-02|1E-7|-2"),
      (2000L, "2|\u00fc\tv|\u00e9|1969-07-20|12.5000000|1700000000123"),
      (3000L, "|||||"))
    roots.foreach { root =>
      assert(messages(root).map(m => (m.bornTs, m.body)) === expected.sortBy(_._2))
      assert(messages(root).forall(m => m.tag == "t" && m.key.isEmpty && m.properties.isEmpty))
      assert(lines(root) === lines(roots.head))
    }

    // a nested body column is refused, naming the column, on both surfaces
    val nested = Seq((1L, Seq(1, 2))).toDF("id", "xs")
    val e1 = intercept[IllegalArgumentException](new RowMessageConverter(nested.schema))
    assert(e1.getMessage.contains("xs"))
    val e2 = intercept[Exception](viaDsv2(nested))
    assert(Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
      .exists(t => t.isInstanceOf[IllegalArgumentException] && t.getMessage.contains("xs")))

    // dynamicTagColumn alone turns the dynamic tag on, on both surfaces
    val tagged = sampleDf(4)
    val tagConv = new RowMessageConverter(tagged.schema, fieldDelimiter = "|",
      dynamicTagColumn = Some("category"))
    for (root <- Seq(viaWrite(tagged, tagConv), viaDsv2(tagged,
        "fieldDelimiter" -> "|", "dynamicTagColumn" -> "category"))) {
      assert(messages(root).map(m => (m.tag, m.body)) ===
        Seq(("A", "0|name0|A"), ("B", "1|name1|B"), ("A", "2|name2|A"), ("B", "3|name3|B")))
    }

    // a message-shaped (body, tag) frame maps tag to the tag on both
    val shaped = Seq(("b1", "x"), ("b2", "y")).toDF("body", "tag")
    for (root <- Seq(viaWrite(shaped, new RowMessageConverter(shaped.schema)), viaDsv2(shaped))) {
      assert(messages(root).map(m => (m.tag, m.body)) === Seq(("x", "b1"), ("y", "b2")))
    }
  }
}
