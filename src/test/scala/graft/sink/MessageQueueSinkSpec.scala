package graft.sink

import java.nio.file.Files

import graft.SparkSpec
import graft.source.TopicLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class MessageQueueSinkSpec extends SparkSpec {

  private def freshRoot(): String = Files.createTempDirectory("graft-sink").toString

  private def sampleDf(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"name$i", if (i % 2 == 0) "A" else "B"))
      .toDF("id", "name", "category")
  }

  /** Appends `in` to topic "out" of a fresh root through the DSv2 writer;
    * `options` come after topic and rootDir. */
  private def viaDsv2(in: DataFrame, options: (String, String)*): String = {
    val root = freshRoot()
    in.write.format("graft-mq").mode("append")
      .option("topic", "out").option("rootDir", root)
      .options(options.toMap).save()
    root
  }

  /** Every message of topic "out" under `root`, sorted by body. */
  private def messages(root: String): Seq[graft.source.Message] =
    TopicLog.listQueues(root, "out").flatMap(q =>
      TopicLog.readRange(root, "out", q, 0, TopicLog.maxOffset(root, "out", q)).map(_._2))
      .sortBy(_.body)

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  test("write routes every row to one topic, numQueues queue files") {
    val root = viaDsv2(sampleDf(100), "fieldDelimiter" -> ",", "keyColumns" -> "id",
      "numQueues" -> "4")
    assert(TopicLog.listQueues(root, "out") === Seq(0, 1, 2, 3))
    val total = (0 until 4).map(q => TopicLog.maxOffset(root, "out", q)).sum
    assert(total === 100)
    val (_, m) = TopicLog.readRange(root, "out", 0, 0, 1).next()
    assert(m.body.split(",").length === 2) // id excluded (key), name+category remain
  }

  test("round-trip: sink then source returns the same rows") {
    val root = viaDsv2(sampleDf(50), "fieldDelimiter" -> "\u0001", "keyColumns" -> "id",
      "writeKeysToBody" -> "true", "numQueues" -> "3")
    val back = spark.read.format("graft-mq")
      .option("topic", "out").option("consumerGroup", "g").option("rootDir", root)
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

  test("a write needs no consumerGroup; a read of what it wrote does") {
    val root = freshRoot()
    sampleDf(6).write.format("graft-mq").mode("append")
      .option("topic", "out").option("rootDir", root).save()
    assert(messages(root).size === 6)
    def read(options: (String, String)*) = spark.read.format("graft-mq")
      .option("topic", "out").option("rootDir", root).options(options.toMap).load()
    val e = intercept[IllegalArgumentException](read().count())
    assert(e.getMessage.contains("consumergroup"))
    assert(read("consumerGroup" -> "g").count() === 6)
  }

  test("dynamic tag column sets tag and can be excluded from body") {
    val row = sampleDf(2).filter(col("id") === 0)
    val excluded = messages(viaDsv2(row, "fieldDelimiter" -> ",",
      "dynamicTagColumn" -> "category", "dynamicTagColumnWriteIncluded" -> "false"))
    assert(excluded.map(m => (m.tag, m.body)) === Seq(("A", "0,name0")))
    val included = messages(viaDsv2(row, "fieldDelimiter" -> ",",
      "dynamicTagColumn" -> "category"))
    assert(included.map(m => (m.tag, m.body)) === Seq(("A", "0,name0,A")))
  }

  test("key columns join with comma into the key, out of the body") {
    val m = messages(viaDsv2(sampleDf(8).filter(col("id") === 7), "fieldDelimiter" -> "|",
      "keyColumns" -> "id,name"))
    assert(m.map(m => (m.key, m.body, m.properties)) === Seq(("7,name7", "B", Map.empty)))
  }

  test("bornTs column drives message time") {
    val frame = sampleDf(1).withColumn("born_ts", timestamp_micros(lit(123456789L)))
    val m = messages(viaDsv2(frame, "fieldDelimiter" -> ","))
    assert(m.map(m => (m.bornTs, m.body)) === Seq((123456L, "0,name0,A")))
  }

  test("unknown key column fails fast") {
    // any task that runs fails with "a task ran": the driver must refuse
    // first (a range, not a local Seq, whose rows the optimizer computes)
    val ran = udf((id: Long) => { if (id >= 0) throw new IllegalStateException("a task ran"); id })
    val e = intercept[Exception](viaDsv2(spark.range(4).select(ran(col("id")).as("id")),
      "keyColumns" -> "nope"))
    assert(causes(e).exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.contains("nope")))
    assert(!causes(e).exists(t => String.valueOf(t.getMessage).contains("a task ran")))
  }

  test("a write task that fails partway leaves no spill file behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def spills(): Int = Option(tmp.list()).fold(0)(_.count(_.startsWith("graft-write-")))
    val before = spills()
    val failsOn15 = udf((id: Long) => {
      if (id == 15) throw new IllegalStateException("row 15 fails"); id })
    val root = freshRoot()
    val e = intercept[Exception](sampleDf(20).coalesce(1)
      .withColumn("id", failsOn15(col("id")))
      .write.format("graft-mq").mode("append")
      .option("topic", "leak").option("consumerGroup", "g").option("rootDir", root).save())
    assert(causes(e).exists(t => String.valueOf(t.getMessage).contains("row 15 fails")))
    assert(spills() === before)
    assert(TopicLog.listQueues(root, "leak").isEmpty)
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

  test("one encoder: the DSv2 writer renders each value type, refuses nested columns") {
    import spark.implicits._
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
    val got = messages(viaDsv2(frame, "tag" -> "t", "fieldDelimiter" -> "|"))
    assert(got.map(m => (m.bornTs, m.body)) === Seq(
      (1000L, "1|hi|bin|2024-01-02|1E-7|-2"),
      (2000L, "2|\u00fc\tv|\u00e9|1969-07-20|12.5000000|1700000000123"),
      (3000L, "|||||")))
    assert(got.forall(m => m.tag == "t" && m.key.isEmpty && m.properties.isEmpty))

    // a nested body column is refused on the driver, naming the column
    val nested = Seq((1L, Seq(1, 2))).toDF("id", "xs")
    val e = intercept[Exception](viaDsv2(nested))
    assert(causes(e).exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.contains("xs")))

    // dynamicTagColumn alone turns the dynamic tag on
    assert(messages(viaDsv2(sampleDf(4), "fieldDelimiter" -> "|",
      "dynamicTagColumn" -> "category")).map(m => (m.tag, m.body)) ===
      Seq(("A", "0|name0|A"), ("B", "1|name1|B"), ("A", "2|name2|A"), ("B", "3|name3|B")))

    // a message-shaped (body, tag) frame maps tag to the tag
    assert(messages(viaDsv2(Seq(("b1", "x"), ("b2", "y")).toDF("body", "tag")))
      .map(m => (m.tag, m.body)) === Seq(("x", "b1"), ("y", "b2")))
  }
}
