package graft.source

import java.nio.file.Files

import graft.SparkSpec
import graft.config.StartMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class MessageQueueSourceSpec extends SparkSpec {

  private def freshRoot(): String = Files.createTempDirectory("graft-mq").toString

  private def seed(root: String, topic: String, queues: Int, perQueue: Int): Unit =
    (0 until queues).foreach { q =>
      TopicLog.append(root, topic, q,
        (0 until perQueue).iterator.map { i =>
          Message(1000L * (i + 1), s"k$q-$i", if (i % 2 == 0) "even" else "odd",
            Map("p" -> s"$q"), s"body-$q-$i")
        })
    }

  test("batch read sees every message with metadata columns") {
    val root = freshRoot()
    seed(root, "t1", queues = 3, perQueue = 10)
    val df = spark.read.format("graft-mq")
      .option("topic", "t1").option("consumerGroup", "g").option("rootDir", root)
      .load()
    assert(df.columns.toSeq === Seq(
      "topic", "queue_id", "offset", "born_ts", "msg_key", "tag", "properties", "body"))
    assert(df.count() === 30)
    val row = df.filter(col("queue_id") === 1 && col("offset") === 2).collect().head
    assert(row.getAs[String]("body") === "body-1-2")
    assert(row.getAs[String]("msg_key") === "k1-2")
    assert(row.getAs[java.sql.Timestamp]("born_ts").getTime === 3000L)
    assert(row.getAs[Map[String, String]]("properties") === Map("p" -> "1"))
  }

  test("one input partition per queue") {
    val root = freshRoot()
    seed(root, "t2", queues = 4, perQueue = 2)
    val df = spark.read.format("graft-mq")
      .option("topic", "t2").option("consumerGroup", "g").option("rootDir", root)
      .load()
    assert(df.rdd.getNumPartitions === 4)
  }

  test("tag filter drops non-matching messages at the reader") {
    val root = freshRoot()
    seed(root, "t3", queues = 2, perQueue = 10)
    val df = spark.read.format("graft-mq")
      .option("topic", "t3").option("consumerGroup", "g").option("rootDir", root)
      .option("tag", "even").load()
    assert(df.count() === 10)
    assert(df.select("tag").distinct().collect().map(_.getString(0)).toSeq === Seq("even"))
    val both = spark.read.format("graft-mq")
      .option("topic", "t3").option("consumerGroup", "g").option("rootDir", root)
      .option("tag", "even||odd").load()
    assert(both.count() === 20)
  }

  test("startMessageOffset skips to the offset in every queue") {
    val root = freshRoot()
    seed(root, "t4", queues = 2, perQueue = 5)
    val df = spark.read.format("graft-mq")
      .option("topic", "t4").option("consumerGroup", "g").option("rootDir", root)
      .option("startMessageOffset", "3").load()
    assert(df.count() === 4) // 2 queues × offsets {3,4}
    assert(df.agg(min("offset")).collect().head.getLong(0) === 3)
  }

  test("startTimeMs starts at first message with born_ts >= ts") {
    val root = freshRoot()
    seed(root, "t5", queues = 1, perQueue = 10) // bornTs 1000..10000
    val df = spark.read.format("graft-mq")
      .option("topic", "t5").option("consumerGroup", "g").option("rootDir", root)
      .option("startTimeMs", "7000").load()
    assert(df.count() === 4) // 7000,8000,9000,10000
  }

  test("endTimeMs bounds the scan") {
    val root = freshRoot()
    seed(root, "t6", queues = 1, perQueue = 10)
    val df = spark.read.format("graft-mq")
      .option("topic", "t6").option("consumerGroup", "g").option("rootDir", root)
      .option("endTimeMs", "5000").load()
    assert(df.count() === 4) // bornTs 1000..4000 (stop offset = first >= 5000)
  }

  test("property filter selects only matching messages (SQL92-selector analog)") {
    val root = freshRoot()
    seed(root, "t9", queues = 2, perQueue = 6) // property p = queue id
    val df = spark.read.format("graft-mq")
      .option("topic", "t9").option("consumerGroup", "g").option("rootDir", root)
      .option("propertyFilter", "p=1").load()
    assert(df.count() === 6)
    assert(df.select("queue_id").distinct().collect().map(_.getInt(0)).toSeq === Seq(1))
    val none = spark.read.format("graft-mq")
      .option("topic", "t9").option("consumerGroup", "g").option("rootDir", root)
      .option("propertyFilter", "p=1;missing=x").load()
    assert(none.count() === 0) // conjunction semantics
  }

  test("column pruning reaches the reader: projected scan reads only requested columns") {
    val root = freshRoot()
    seed(root, "tp1", queues = 2, perQueue = 4)
    val df = spark.read.format("graft-mq")
      .option("topic", "tp1").option("consumerGroup", "g").option("rootDir", root)
      .load().select("body", "offset")
    assert(df.collect().length === 8)
    // physical scan output is pruned to the two requested columns
    assert(df.queryExecution.executedPlan.collectLeaves()
      .head.output.map(_.name).toSet === Set("body", "offset"))
  }

  test("tag equality filter is pushed into the scan (consumed, not re-evaluated)") {
    val root = freshRoot()
    seed(root, "tp2", queues = 2, perQueue = 10)
    val df = spark.read.format("graft-mq")
      .option("topic", "tp2").option("consumerGroup", "g").option("rootDir", root)
      .load().filter(col("tag") === "even")
    assert(df.count() === 10)
    assert(df.select("tag").distinct().collect().map(_.getString(0)).toSeq === Seq("even"))
  }

  test("born_ts range predicate prunes offset ranges and stays exact") {
    val root = freshRoot()
    seed(root, "tp3", queues = 2, perQueue = 10) // bornTs 1000..10000 per queue
    val base = spark.read.format("graft-mq")
      .option("topic", "tp3").option("consumerGroup", "g").option("rootDir", root)
      .load()
    val filtered = base.filter(
      col("born_ts") >= lit(new java.sql.Timestamp(4000L)) &&
        col("born_ts") < lit(new java.sql.Timestamp(8000L)))
    assert(filtered.count() === 8) // ts 4000..7000 in each of 2 queues
    val ts = filtered.select("born_ts").collect().map(_.getTimestamp(0).getTime)
    assert(ts.forall(t => t >= 4000 && t < 8000))
    // an exclusive bound with a sub-millisecond part keeps the row just below it
    val subMs = new java.sql.Timestamp(7000L)
    subMs.setNanos(500000) // 7000.5 ms
    assert(base.filter(col("born_ts") < lit(subMs)).count() === 14) // ts 1000..7000, 2 queues
  }

  test("tag option intersected with a conflicting tag filter yields empty, not widened") {
    val root = freshRoot()
    seed(root, "tp4", queues = 1, perQueue = 10)
    val df = spark.read.format("graft-mq")
      .option("topic", "tp4").option("consumerGroup", "g").option("rootDir", root)
      .option("tag", "even").load()
      .filter(col("tag") === "odd")
    assert(df.count() === 0)
    // and without an option constraint the filter is consumed at the reader
    val pushedOnly = spark.read.format("graft-mq")
      .option("topic", "tp4").option("consumerGroup", "g").option("rootDir", root)
      .load().filter(col("tag") === "odd")
    assert(pushedOnly.count() === 5)
  }

  test("offsetResetTo=timestamp without startTimeMs fails validation") {
    val root = freshRoot()
    seed(root, "tp5", queues = 1, perQueue = 2)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-mq")
        .option("topic", "tp5").option("consumerGroup", "g").option("rootDir", root)
        .option("offsetResetTo", "timestamp").load().count()
    }
    assert(e.getMessage.contains("startTimeMs"))
  }

  test("missing required option fails fast") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-mq").option("topic", "x").load()
    }
    assert(e.getMessage.contains("consumergroup"))
  }

  test("OffsetStore start modes resolve like the reference") {
    val root = freshRoot()
    seed(root, "t8", queues = 1, perQueue = 10)
    assert(OffsetStore.resolveStartOffset(root, "t8", 0, StartMode.Earliest) === 0L)
    assert(OffsetStore.resolveStartOffset(root, "t8", 0, StartMode.Latest) === 10L)
    assert(OffsetStore.resolveStartOffset(root, "t8", 0, StartMode.Timestamp(5000)) === 4L)
    assert(OffsetStore.resolveStartOffset(root, "t8", 0, StartMode.Offset(3)) === 3L)
    assert(OffsetStore.resolveStartOffset(root, "t8", 0, StartMode.Offset(99)) === 10L)
  }

  test("QueueOffsets JSON round-trips") {
    val o = QueueOffsets(Map(0 -> 5L, 3 -> 12L))
    assert(o.json() === """{"0":5,"3":12}""")
    assert(QueueOffsets.fromJson(o.json()) === o)
    assert(QueueOffsets.fromJson("{}") === QueueOffsets(Map.empty))
  }

  test("streaming micro-batch consumes appended messages incrementally") {
    val root = freshRoot()
    seed(root, "ts1", queues = 2, perQueue = 5)
    val checkpoint = Files.createTempDirectory("graft-ckpt").toString
    val outDir = Files.createTempDirectory("graft-stream-out").toString

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-mq")
        .option("topic", "ts1").option("consumerGroup", "g").option("rootDir", root)
        .option("offsetResetTo", "earliest")
        .load()
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() === 10)

    // append more, restart from the same checkpoint: only the delta arrives
    (0 until 2).foreach { qid =>
      TopicLog.append(root, "ts1", qid, Iterator(Message(99000L, "late", "t", Map.empty, "late")))
    }
    runOnce()
    val all = spark.read.parquet(outDir)
    assert(all.count() === 12) // 10 originals + 2 new, no re-read
    assert(all.filter(col("body") === "late").count() === 2)
  }

  test("maxRowsPerTrigger drains a backlog in bounded micro-batches, no loss or dups") {
    val root = freshRoot()
    seed(root, "cap1", queues = 2, perQueue = 50) // 100-row backlog
    val outName = "mq_cap_" + System.nanoTime()
    val q = spark.readStream.format("graft-mq")
      .option("topic", "cap1").option("consumerGroup", "g").option("rootDir", root)
      .option("offsetResetTo", "earliest")
      .option("maxRowsPerTrigger", "20")
      .load()
      .writeStream.format("memory").queryName(outName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.length === 5, // 100 rows / 20 per trigger
      s"expected 5 bounded batches, got ${progress.map(_.numInputRows).mkString(",")}")
    assert(progress.forall(_.numInputRows <= 20))
    // every message arrives exactly once
    val out = spark.table(outName)
    assert(out.count() === 100)
    assert(out.select("queue_id", "offset").distinct().count() === 100)
  }

  test("StreamingQueryProgress reports per-queue lag from the planned log ends") {
    val root = freshRoot()
    seed(root, "lag1", queues = 2, perQueue = 50)
    val q = spark.readStream.format("graft-mq")
      .option("topic", "lag1").option("consumerGroup", "g").option("rootDir", root)
      .option("offsetResetTo", "earliest")
      .option("maxRowsPerTrigger", "20")
      .load()
      .writeStream.format("memory").queryName("mq_lag_" + System.nanoTime())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val lags = q.recentProgress.filter(_.numInputRows > 0).map { p =>
      val m = p.sources.head.metrics
      (m.get("maxOffsetsBehindLatest").toLong, m.get("sumOffsetsBehindLatest").toLong)
    }.toSeq
    // each batch takes 10 rows per queue from a 50-row queue
    assert(lags === Seq((40L, 80L), (30L, 60L), (20L, 40L), (10L, 20L), (0L, 0L)))
  }

  test("capAdvance splits the budget across queues proportionally to lag") {
    val stream = new MessageQueueMicroBatchStream(
      graft.config.GraftOptions("t", "g", freshRoot()))
    // queue 0 has 4x the lag of queue 1: a 50-row budget advances q0 by 40
    // and q1 by 10 — proportional, neither queue starved
    val capped = stream.capAdvance(
      start = Map(0 -> 0L, 1 -> 0L), target = Map(0 -> 80L, 1 -> 20L), maxRows = 50L)
    assert(capped === Map(0 -> 40L, 1 -> 10L))
    // remainder (floors lose 2 here) goes to the lowest queue ids with headroom
    val odd = stream.capAdvance(
      start = Map(0 -> 0L, 1 -> 0L, 2 -> 0L),
      target = Map(0 -> 7L, 1 -> 7L, 2 -> 7L), maxRows = 20L)
    assert(odd.values.sum === 20L)
    assert(odd === Map(0 -> 7L, 1 -> 7L, 2 -> 6L))
    // budget >= total lag: untouched target
    assert(stream.capAdvance(Map(0 -> 5L), Map(0 -> 9L), 100L) === Map(0 -> 9L))
    // a queue already past target (shrunk log) never goes backwards from target
    val neg = stream.capAdvance(Map(0 -> 10L, 1 -> 0L), Map(0 -> 8L, 1 -> 100L), 10L)
    assert(neg(1) === 10L && neg(0) === 8L)
    // pathological values: maxRows * avail would overflow a Long, and the
    // lag sum wraps past Long.MaxValue — shares must stay exact
    val big = Long.MaxValue / 2 // lag per queue; total lag = Long.MaxValue + 1
    val huge = stream.capAdvance(
      start = Map(0 -> 0L, 1 -> 0L), target = Map(0 -> big, 1 -> (big + 2)),
      maxRows = big)
    assert(huge.values.sum === big) // full budget spent, no wrap
    assert(huge.values.forall(v => v >= 0L && v <= big + 2))
    val nearMax = stream.capAdvance(
      start = Map(0 -> 0L), target = Map(0 -> Long.MaxValue), maxRows = Long.MaxValue - 1)
    assert(nearMax === Map(0 -> (Long.MaxValue - 1)))
  }

  test("live tail: a running stream picks up appends across micro-batches") {
    val root = freshRoot()
    seed(root, "tail1", queues = 2, perQueue = 3)
    val outName = "mq_tail_" + System.nanoTime()
    val q = spark.readStream.format("graft-mq")
      .option("topic", "tail1").option("consumerGroup", "g").option("rootDir", root)
      .option("offsetResetTo", "earliest").load()
      .writeStream.format("memory").queryName(outName)
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(outName).count() === 6)
      // producer keeps appending while the stream runs
      TopicLog.append(root, "tail1", 0, Iterator(Message(50000, "n1", "t", Map.empty, "late-0")))
      TopicLog.append(root, "tail1", 1, Iterator(Message(51000, "n2", "t", Map.empty, "late-1")))
      q.processAllAvailable()
      assert(spark.table(outName).count() === 8)
      TopicLog.append(root, "tail1", 1, Iterator(Message(52000, "n3", "t", Map.empty, "late-2")))
      q.processAllAvailable()
      val bodies = spark.table(outName).select("body").collect().map(_.getString(0)).toSet
      assert(spark.table(outName).count() === 9)
      assert(bodies.contains("late-2"))
      // offsets remain strictly per-queue sequential with no gaps or dups
      val offsets = spark.table(outName).select("queue_id", "offset").collect()
        .map(r => (r.getInt(0), r.getLong(1)))
      assert(offsets.distinct.length === offsets.length)
    } finally q.stop()
  }

  test("streaming with offsetResetTo=latest sees only new messages") {
    val root = freshRoot()
    seed(root, "ts2", queues = 1, perQueue = 5)
    val checkpoint = Files.createTempDirectory("graft-ckpt2").toString
    val outName = "mq_latest_" + System.nanoTime()
    // initialOffset resolves at first start: latest == 5, so the old 5 are skipped
    TopicLog.append(root, "ts2", 0, Iterator(Message(50000L, "new", "t", Map.empty, "fresh")))
    val q = spark.readStream.format("graft-mq")
      .option("topic", "ts2").option("consumerGroup", "g").option("rootDir", root)
      .load() // default offsetResetTo=latest
      .writeStream.format("memory").queryName(outName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // latest-at-plan-time includes the appended message already → 0 rows
    assert(spark.table(outName).count() === 0)
  }
}
