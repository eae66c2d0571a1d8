package graft.source

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Drives the DSv2 continuous-mode prototype end to end: a real
 * `Trigger.Continuous` query over the file-backed topic, long-running
 * queue readers tailing the log. Two queues only — each continuous
 * partition pins a core for the query's lifetime, and the suite session
 * is local[4].
 */
class ContinuousSpec extends SparkSpec {

  private def freshRoot(): String = Files.createTempDirectory("graft-cont").toString

  private def awaitCount(table: String, atLeast: Long, timeoutMs: Long = 30000): Long = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var n = 0L
    while (System.nanoTime() < deadline) {
      n = spark.table(table).count()
      if (n >= atLeast) return n
      Thread.sleep(100)
    }
    n
  }

  test("continuous query tails the topic: rows appear without a new trigger round") {
    val root = freshRoot()
    val topic = "cont1"
    (0 until 2).foreach { q =>
      TopicLog.append(root, topic, q,
        (0 until 5).iterator.map(i =>
          Message(1000L * (i + 1), s"k$q-$i", "t", Map.empty, s"body-$q-$i")))
    }
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("consumerGroup", "cg")
      .option("rootDir", root).option("offsetResetTo", "earliest")
      .option("continuousPollMs", "20")
      .load()
      .select(col("queue_id"), col("offset"), col("body"))
      .writeStream.format("memory").queryName("cont_sink")
      .trigger(Trigger.Continuous("500 milliseconds"))
      .start()
    try {
      assert(awaitCount("cont_sink", 10) === 10, "initial backlog not drained")

      // append AFTER the query is running: the tailing readers must pick
      // the rows up without any new planning round
      (0 until 2).foreach { qid =>
        TopicLog.append(root, topic, qid,
          Iterator(Message(9000L, s"late-$qid", "t", Map.empty, s"late-body-$qid")))
      }
      assert(awaitCount("cont_sink", 12) === 12, "late rows never surfaced")

      val rows = spark.table("cont_sink")
        .select("queue_id", "offset", "body").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
      // exactly the 12 expected (queue, offset, body) triples — no dupes,
      // no drops, offsets contiguous per queue
      val expected = (for { q <- 0 until 2; i <- 0 until 5 }
        yield (q, i.toLong, s"body-$q-$i")).toSet ++
        Set((0, 5L, "late-body-0"), (1, 5L, "late-body-1"))
      assert(rows === expected)
    } finally q.stop()
  }

  test("continuous checkpoint offsets are the micro-batch QueueOffsets format") {
    // one offsets JSON for both modes means a checkpoint written by either
    // restores in the other (restore-wins contract)
    val merged = new MessageQueueContinuousStream(
      graft.config.GraftOptions.parse(Map(
        "topic" -> "x", "consumergroup" -> "g", "rootdir" -> "/tmp/none")))
      .mergeOffsets(Array(QueuePartitionOffset(0, 7L), QueuePartitionOffset(1, 3L)))
    assert(merged.json() === """{"0":7,"1":3}""")
    assert(QueueOffsets.fromJson(merged.json()) === QueueOffsets(Map(0 -> 7L, 1 -> 3L)))
  }

  test("tag and property selectors apply in the continuous reader") {
    val root = freshRoot()
    val topic = "cont2"
    TopicLog.append(root, topic, 0,
      (0 until 6).iterator.map(i =>
        Message(1000L * (i + 1), s"k$i", if (i % 2 == 0) "keep" else "drop",
          Map("env" -> (if (i < 4) "prod" else "dev")), s"b-$i")))
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("consumerGroup", "cg2")
      .option("rootDir", root).option("offsetResetTo", "earliest")
      .option("tag", "keep").option("propertyFilter", "env=prod")
      .option("continuousPollMs", "20")
      .load()
      .select(col("offset"), col("body"))
      .writeStream.format("memory").queryName("cont_sel")
      .trigger(Trigger.Continuous("500 milliseconds"))
      .start()
    try {
      // i in {0, 2}: tag keep AND env prod (i=4 is keep/dev)
      assert(awaitCount("cont_sel", 2) === 2)
      Thread.sleep(300) // a beat of quiet: no extra rows may trickle in
      val got = spark.table("cont_sel").select("body")
        .collect().map(_.getString(0)).toSet
      assert(got === Set("b-0", "b-2"))
    } finally q.stop()
  }

  test("continuous reader: batch-equal graft_* metrics, and it resumes at its held position") {
    val root = freshRoot()
    val topic = "cont3"
    // tags a/b/c and env prod/dev mixed; the last message is accepted, so
    // both readers stop right after it
    def gen(from: Int, until: Int): Seq[Message] = (from until until).map { i =>
      Message(1000L + i, s"k$i", Seq("a", "b", "c")(i % 3),
        Map("env" -> (if (i % 4 == 3) "dev" else "prod")), s"body-$i-" + "é" * (i % 5))
    }
    TopicLog.append(root, topic, 0, gen(0, 13).iterator)
    val opts = graft.config.GraftOptions.parse(Map(
      "topic" -> topic, "consumerGroup" -> "cg3", "rootDir" -> root,
      "tag" -> "a||b", "propertyFilter" -> "env=prod", "continuousPollMs" -> "5"))
    def accepted(m: Message) = m.tag != "c" && m.properties("env") == "prod"
    val schema = MessageQueueTable.Schema
    def drain(r: org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow], n: Int): Seq[(Long, String)] =
      (0 until n).map { _ =>
        assert(r.next())
        val row = r.get()
        (row.getLong(2), row.getUTF8String(7).toString)
      }
    def metrics(r: org.apache.spark.sql.connector.read.PartitionReader[_]): Map[String, Long] =
      r.currentMetricsValues().map(m => m.name() -> m.value()).toMap

    val first = gen(0, 13).zipWithIndex.collect { case (m, i) if accepted(m) => (i.toLong, m.body) }
    assert(accepted(gen(0, 13).last))
    val batch = new MessageQueueBatch(opts, schema).createReaderFactory()
      .createReader(QueueSplit(topic, MessageQueueSource.Broker, 0, 0, 13))
    val cont = new MessageQueueContinuousStream(opts, schema).createContinuousReaderFactory()
      .createReader(ContinuousQueueSplit(topic, 0, 0))
    // a reader that stops yielding blocks in its poll loop: interrupt it
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    try TimeLimits.failAfter(30.seconds) {
      assert(drain(batch, first.size) === first)
      assert(!batch.next())
      assert(drain(cont, first.size) === first)
      val expected = metrics(batch)
      assert(expected(Metrics.MessagesRead) === first.size)
      assert(expected(Metrics.MessagesFiltered) === 13 - first.size)
      assert(expected(Metrics.BytesRead) === gen(0, 13).map(m => Metrics.utf8Length(m.body)).sum)
      assert(metrics(cont) === expected)
      assert(cont.getOffset === QueuePartitionOffset(0, 13))

      // append between polls: exactly the appended accepted rows, in order
      TopicLog.append(root, topic, 0, gen(13, 26).iterator)
      val second = gen(13, 26).zipWithIndex
        .collect { case (m, i) if accepted(m) => (13L + i, m.body) }
      assert(drain(cont, second.size) === second)
      assert(cont.getOffset === QueuePartitionOffset(0, 13 + gen(13, 26).lastIndexWhere(accepted) + 1))
      assert(metrics(cont)(Metrics.MessagesRead) === first.size + second.size)
    } finally { batch.close(); cont.close() }
  }

  test("continuous query into the graft-mq sink lands every row exactly once under the marks") {
    val root = freshRoot()
    val (in, out) = ("cont4", "cont4-out")
    def gen(q: Int, from: Int, until: Int): Iterator[Message] =
      (from until until).iterator.map(i => Message(1000L + i, s"k$q-$i", "t", Map.empty, s"b-$q-$i"))
    (0 until 2).foreach(q => TopicLog.append(root, in, q, gen(q, 0, 50)))
    val q = spark.readStream.format("graft-mq")
      .option("topic", in).option("consumerGroup", "cg4")
      .option("rootDir", root).option("offsetResetTo", "earliest")
      .option("continuousPollMs", "20")
      .load()
      .select(col("body"))
      .writeStream.format("graft-mq")
      .option("topic", out).option("consumerGroup", "cg4-sink").option("rootDir", root)
      .option("checkpointLocation", Files.createTempDirectory("graft-cont-ckpt").toString)
      .trigger(Trigger.Continuous("100 milliseconds"))
      .start()
    def published(): Long =
      if (EpochLedger.read(root, out).isEmpty) 0L
      else (0 until 2).map(qid => TopicLog.maxOffset(root, out, qid)).sum
    def awaitPublished(n: Long): Unit =
      while (published() < n) {
        q.exception.foreach(e => throw e)
        Thread.sleep(20)
      }
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    try TimeLimits.failAfter(90.seconds) {
      awaitPublished(100)
      // rows appended while the query runs land over many epochs
      (0 until 5).foreach { r =>
        (0 until 2).foreach(qid => TopicLog.append(root, in, qid, gen(qid, 50 + 10 * r, 60 + 10 * r)))
        awaitPublished(120 + 20 * r)
      }
    } finally q.stop()
    val ledger = EpochLedger.read(root, out).get
    val got = (0 until 2).flatMap { qid =>
      val (lines, bytes) = ledger.committed(qid)
      assert(bytes <= TopicLog.queueFile(root, out, qid).length(), s"queue $qid: mark past EOF")
      TopicLog.readRange(root, out, qid, 0, lines).map(_._2.body).toSeq
    }
    assert(got.sorted === (for (qid <- 0 until 2; i <- 0 until 100) yield s"b-$qid-$i").sorted)
  }
}
