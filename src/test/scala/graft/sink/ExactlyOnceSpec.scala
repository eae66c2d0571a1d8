package graft.sink

import java.nio.file.Files

import graft.SparkSpec
import graft.config.GraftOptions
import graft.source.{EpochLedger, TopicLog}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.functions.col

/**
 * Crash-replay matrix for the exactly-once sink protocol
 * ([[graft.source.EpochLedger]]): every window in which the old design was
 * at-least-once is forced here, and the committed line set must come out
 * exactly once — zero duplicate lines, zero lost lines, no partials.
 */
class ExactlyOnceSpec extends SparkSpec {

  private val bodySchema = StructType(Seq(StructField("body", StringType)))

  private def writer(root: String, queue: Int, epoch: Long): QueueDataWriter = {
    val opts = GraftOptions.parse(Map(
      "topic" -> "eo", "consumerGroup" -> "g", "rootDir" -> root))
    new QueueDataWriter(opts, RowMessageConverter(opts, bodySchema), queue, epoch)
  }

  private def row(s: String): InternalRow = InternalRow(UTF8String.fromString(s))

  private def bodies(root: String, topic: String = "eo", queue: Int = 0): Seq[String] =
    TopicLog.readRange(root, topic, queue, 0,
      TopicLog.maxOffset(root, topic, queue)).map(_._2.body).toSeq

  private def streamingWrite(root: String): MessageQueueStreamingWrite =
    new MessageQueueStreamingWrite(GraftOptions.parse(Map(
      "topic" -> "eo", "consumerGroup" -> "g", "rootDir" -> root)), bodySchema)

  /** Run one epoch end to end: task commits then driver publish. */
  private def epoch(root: String, id: Long, lines: Seq[String]): Unit = {
    val w = writer(root, 0, id)
    lines.foreach(l => w.write(row(l)))
    val msg = w.commit()
    streamingWrite(root).commit(id, Array(msg))
  }

  test("epoch replay after successful publish appends nothing") {
    val root = Files.createTempDirectory("graft-eo").toString
    epoch(root, 0, Seq("a", "b"))
    epoch(root, 0, Seq("a", "b")) // crash after publish, before checkpoint → replay
    assert(bodies(root) === Seq("a", "b"))
    epoch(root, 1, Seq("c"))
    assert(bodies(root) === Seq("a", "b", "c"))
  }

  test("crash after task appends but before publish: replay leaves exactly one copy") {
    val root = Files.createTempDirectory("graft-eo").toString
    epoch(root, 0, Seq("a", "b"))
    // epoch 1 attempt: tasks commit (data appended) but the driver dies
    // before publishing the ledger
    val w = writer(root, 0, 1)
    Seq("c", "d").foreach(l => w.write(row(l)))
    w.commit() // no streamingWrite.commit → ledger still at epoch 0
    // the uncommitted tail is invisible to readers
    assert(bodies(root) === Seq("a", "b"))
    // replay of epoch 1 truncate-repairs then re-appends
    epoch(root, 1, Seq("c", "d"))
    assert(bodies(root) === Seq("a", "b", "c", "d"))
  }

  test("crash mid-append (partial line past hwm) is invisible and repaired") {
    val root = Files.createTempDirectory("graft-eo").toString
    epoch(root, 0, Seq("a"))
    // simulate a crash halfway through an epoch-1 append: raw bytes with a
    // torn final line land past the committed mark
    val f = TopicLog.queueFile(root, "eo", 0)
    Files.writeString(f.toPath, "9\tk\tt\t\tgarbage\n9\tk\tt\t\ttorn-lin",
      java.nio.file.StandardOpenOption.APPEND)
    assert(bodies(root) === Seq("a")) // reader capped at the hwm
    epoch(root, 1, Seq("b", "c")) // replay repairs the tail, then appends
    assert(bodies(root) === Seq("a", "b", "c"))
  }

  test("first managed write adopts pre-existing raw log content as committed") {
    val root = Files.createTempDirectory("graft-eo").toString
    TopicLog.append(root, "eo", 0, Iterator(
      graft.source.Message(1L, "k", "t", Map.empty, "legacy")))
    epoch(root, 0, Seq("managed"))
    assert(bodies(root) === Seq("legacy", "managed"))
  }

  test("batch DSv2 append into a ledger-managed topic advances the hwm") {
    import spark.implicits._
    // the DSv2 batch writer and MessageQueueSink.write run the same commit
    val appends: Seq[(String, String) => Unit] = Seq(
      (root, body) => {
        val opts = GraftOptions.parse(Map(
          "topic" -> "eo", "consumerGroup" -> "g", "rootDir" -> root))
        val bw = new MessageQueueBatchWrite(opts, bodySchema)
        val w = new QueueDataWriter(opts, RowMessageConverter(opts, bodySchema), 0)
        w.write(row(body))
        bw.commit(Array(w.commit()))
      },
      (root, body) => MessageQueueSink.write(Seq(body).toDF("body"), root,
        new DefaultTopicSelector[Map[String, Any]]("eo"), new RowMessageConverter(bodySchema),
        numQueues = 1))
    appends.foreach { append =>
      val root = Files.createTempDirectory("graft-eo").toString
      epoch(root, 0, Seq("s1"))
      append(root, "b1")
      assert(bodies(root) === Seq("s1", "b1")) // visible: hwm advanced
      epoch(root, 1, Seq("s2")) // next epoch must not reclaim the batch rows
      assert(bodies(root) === Seq("s1", "b1", "s2"))
    }
  }

  test("a batch append reports the tail its repair cut as a driver metric") {
    val root = Files.createTempDirectory("graft-eo-rep").toString
    epoch(root, 0, Seq("committed"))
    val tail = "9\tk\tt\t\ttorn-lin"
    Files.writeString(TopicLog.queueFile(root, "eo", 0).toPath, tail,
      java.nio.file.StandardOpenOption.APPEND)
    val write = new MessageQueueWriteBuilder(GraftOptions.parse(Map(
      "topic" -> "eo", "consumerGroup" -> "g", "rootDir" -> root)), bodySchema).build()
    val bw = write.toBatch
    val w = bw.createBatchWriterFactory(null).createWriter(0, 0L)
    w.write(row("b"))
    bw.commit(Array(w.commit()))
    assert(bodies(root) === Seq("committed", "b"))
    assert(write.reportDriverMetrics().map(m => m.name -> m.value).toSeq ===
      Seq(graft.source.Metrics.BytesRepaired -> tail.length.toLong))
  }

  private def repaired(w: org.apache.spark.sql.connector.write.DataWriter[_]): Long =
    w.currentMetricsValues().find(_.name == graft.source.Metrics.BytesRepaired).get.value

  test("continuous: task commits of epochs 2 and 3 before their publishes lose no row") {
    val root = Files.createTempDirectory("graft-eo-cont").toString
    val sw = new MessageQueueStreamingWrite(GraftOptions.parse(Map(
      "topic" -> "eo", "consumerGroup" -> "g", "rootDir" -> root)), bodySchema, "q")
    // a task deserializes its own factory copy, then asks it for one writer
    // per epoch, as ContinuousWriteRDD does
    val ser = new org.apache.spark.serializer.JavaSerializer(spark.sparkContext.getConf).newInstance()
    def taskFactory() = {
      val f = sw.createStreamingWriterFactory(null)
      ser.deserialize[QueueStreamingWriterFactory](ser.serialize(f))
    }
    def markWithinFile(): Unit = {
      val (_, markBytes) = EpochLedger.read(root, "eo").get.committed(0)
      assert(markBytes <= TopicLog.queueFile(root, "eo", 0).length(), "mark past EOF")
    }
    val factory = taskFactory()
    def taskCommit(f: QueueStreamingWriterFactory, epochId: Long, line: String) = {
      val w = f.createWriter(0, 7L, epochId)
      w.write(row(line))
      (w.commit(), repaired(w))
    }
    val (m1, r1) = taskCommit(factory, 1, "a")
    sw.commit(1, Array(m1))
    val (m2, r2) = taskCommit(factory, 2, "bb")
    val (m3, r3) = taskCommit(factory, 3, "c")
    sw.commit(2, Array(m2))
    markWithinFile()
    sw.commit(3, Array(m3))
    markWithinFile()
    assert(bodies(root) === Seq("a", "bb", "c"))
    assert(Seq(r1, r2, r3) === Seq(0L, 0L, 0L)) // steady state repairs nothing
    // epoch 4 lands but is never published; the restarted query's task
    // holds no base and repairs from the ledger
    val f = TopicLog.queueFile(root, "eo", 0)
    val published = f.length()
    val (_, r4) = taskCommit(factory, 4, "lost-attempt")
    assert(r4 === 0L)
    val tail = f.length() - published
    val (m4, r4replay) = taskCommit(taskFactory(), 4, "d")
    assert(r4replay === tail) // the restarted task cut the unpublished line
    sw.commit(4, Array(m4))
    markWithinFile()
    assert(bodies(root) === Seq("a", "bb", "c", "d"))
  }

  test("foreachBatch: duplicate batch, crash-before-publish, and torn tail all heal") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-eo-fb").toString
    val conv = new RowMessageConverter(bodySchema)
    val fn = MessageQueueSink.foreachBatch(root,
      new DefaultTopicSelector[Map[String, Any]]("fb"), conv, numQueues = 1)
    val b0 = Seq("a", "b").toDF("body")
    fn(b0, 0L)
    fn(b0, 0L) // replayed batchId
    assert(bodies(root, "fb") === Seq("a", "b"))
    // crashed batch-1 attempt: data landed, ledger publish never ran
    TopicLog.append(root, "fb", 0, Iterator(conv.convert(row("c"))))
    assert(bodies(root, "fb") === Seq("a", "b")) // invisible past hwm
    fn(Seq("c", "d").toDF("body"), 1L) // replay heals and lands once
    assert(bodies(root, "fb") === Seq("a", "b", "c", "d"))
  }

  test("mq source reading a ledgered topic sees only committed lines") {
    val root = Files.createTempDirectory("graft-eo-src").toString
    epoch(root, 0, Seq("x", "y"))
    val w = writer(root, 0, 1)
    w.write(row("uncommitted"))
    w.commit() // no publish
    val got = spark.read.format("graft-mq")
      .option("topic", "eo").option("consumerGroup", "g").option("rootDir", root)
      .load().select(col("body")).collect().map(_.getString(0)).toSeq.sorted
    assert(got === Seq("x", "y"))
  }

  test("timestamp search never exposes offsets past the committed hwm") {
    val root = Files.createTempDirectory("graft-eo-ts").toString
    epoch(root, 0, Seq("committed"))
    val w = writer(root, 0, 1)
    w.write(row("uncommitted"))
    w.commit() // no publish: one raw line sits past the hwm
    // a "search to the end of time" stop offset must cap at the hwm, or an
    // endTimeMs-bounded scan would read the uncommitted line
    assert(TopicLog.searchOffset(root, "eo", 0, Long.MaxValue) === 1L)
    assert(TopicLog.searchOffset(root, "eo", 0, 0L) === 0L)
  }

  test("a torn fragment past the committed hwm is never searched or read") {
    val root = Files.createTempDirectory("graft-eo-torn").toString
    epoch(root, 0, Seq("committed"))
    // a crashed append left a bare bornTs past the mark: no tab, no newline
    val out = new java.io.FileOutputStream(TopicLog.queueFile(root, "eo", 0), true)
    try out.write("1700000000000".getBytes) finally out.close()
    assert(TopicLog.searchOffset(root, "eo", 0, Long.MaxValue) === 1L)
    val future = spark.read.format("graft-mq")
      .option("topic", "eo").option("consumerGroup", "g").option("rootDir", root)
      .option("startTimeMs", (System.currentTimeMillis() + 86400000L).toString)
      .load()
    assert(future.count() === 0L)
  }

  test("reads after a truncateQueue repair and re-append see the replayed lines") {
    val root = Files.createTempDirectory("graft-eo-reidx").toString
    val S = TopicLog.Stride
    val committed = (0 until 2 * S + 100).map(i => s"c$i")
    epoch(root, 0, committed)
    // a crashed epoch-1 attempt appends past the mark; readers index only
    // below it
    val w = writer(root, 0, 1)
    (0 until S).foreach(i => w.write(row(s"crashed-attempt-$i")))
    w.commit()
    assert(bodies(root) === committed)
    val f = TopicLog.queueFile(root, "eo", 0)
    assert(TopicLog.indexOf(f).entries.map(_.line) === Seq(0L, S.toLong, 2L * S))
    // the replay repairs the tail and appends lines of other lengths
    val replayed = (0 until S).map(i => s"r$i")
    epoch(root, 1, replayed)
    val all = committed ++ replayed
    assert(bodies(root) === all)
    for (a <- Seq(S - 1, 2 * S, 2 * S + 99, 2 * S + 100, 2 * S + 101, 3 * S - 1, 3 * S, 3 * S + 1)) {
      val got = TopicLog.readRange(root, "eo", 0, a, math.min(all.size, a + 5)).map(_._2.body).toSeq
      assert(got === all.slice(a, a + 5), s"from $a")
    }
    assert(TopicLog.indexOf(f).entries.map(_.line) === (0 to 3).map(_.toLong * S))
  }

  test("a torn tail past the ledger mark is never indexed or read") {
    val root = Files.createTempDirectory("graft-eo-tornidx").toString
    val S = TopicLog.Stride
    epoch(root, 0, (0 until S + 10).map(i => s"c$i"))
    val mark = EpochLedger.read(root, "eo").get.committed(0)
    val f = TopicLog.queueFile(root, "eo", 0)
    // complete uncommitted lines reaching the next stride, then a torn one
    val out = new java.io.FileOutputStream(f, true)
    try out.write(((0 until S).map(i => s"9\tk\tt\t\tuncommitted-$i\n").mkString +
      "1700000000000\tk\tt\t\ttorn").getBytes) finally out.close()
    assert(bodies(root) === (0 until S + 10).map(i => s"c$i"))
    assert(TopicLog.searchOffset(root, "eo", 0, Long.MaxValue) === S + 10L)
    val entries = TopicLog.indexOf(f).entries
    assert(entries.map(_.line) === Seq(0L, S.toLong))
    assert(entries.forall(e => e.line <= mark._1 && e.byte <= mark._2))
  }

  test("ledger publish is atomic and round-trips state") {
    val root = Files.createTempDirectory("graft-eo-led").toString
    val st = EpochLedger.State("query id with spaces", 7L,
      Map(0 -> (10L, 100L), 3 -> (2L, 20L)))
    EpochLedger.publish(root, "t", st)
    assert(EpochLedger.read(root, "t") === Some(st))
    assert(EpochLedger.isCommitted(root, "t", "query id with spaces", 7L))
    assert(!EpochLedger.isCommitted(root, "t", "query id with spaces", 8L))
    assert(!EpochLedger.isCommitted(root, "t", "someone else", 7L)) // identity-scoped
    assert(!Files.exists(EpochLedger.file(root, "t").resolveSibling("._epochs.tmp")))
  }

  test("a new writer's restarted epoch numbers are not mistaken for replays") {
    val root = Files.createTempDirectory("graft-eo-wid").toString
    def epochAs(writer: String, id: Long, lines: Seq[String]): Unit = {
      val opts = GraftOptions.parse(Map(
        "topic" -> "eo", "consumerGroup" -> "g", "rootDir" -> root))
      val w = new QueueDataWriter(opts, RowMessageConverter(opts, bodySchema), 0, id, writer)
      lines.foreach(l => w.write(row(l)))
      val msg = w.commit()
      new MessageQueueStreamingWrite(opts, bodySchema, writer).commit(id, Array(msg))
    }
    // writer A commits epochs 0..2
    epochAs("query-A", 0, Seq("a0"))
    epochAs("query-A", 1, Seq("a1"))
    epochAs("query-A", 2, Seq("a2"))
    // a NEW query (fresh checkpoint) restarts at epoch 0 with NEW data —
    // it must append, not be skipped as a replay of A's epoch 0
    epochAs("query-B", 0, Seq("b0"))
    assert(bodies(root) === Seq("a0", "a1", "a2", "b0"))
    // and B's own replay of ITS epoch 0 still appends nothing
    epochAs("query-B", 0, Seq("b0"))
    assert(bodies(root) === Seq("a0", "a1", "a2", "b0"))
  }

  test("first managed epoch adopts raw data in queues it does not touch") {
    val root = Files.createTempDirectory("graft-eo-adopt").toString
    // raw data in queues 0 and 2
    TopicLog.append(root, "eo", 0, Iterator(
      graft.source.Message(1L, "k", "t", Map.empty, "raw-q0")))
    TopicLog.append(root, "eo", 2, Iterator(
      graft.source.Message(1L, "k", "t", Map.empty, "raw-q2")))
    // first managed epoch only writes queue 0
    epoch(root, 0, Seq("managed-q0"))
    // queue 2's raw line must stay visible...
    assert(bodies(root, "eo", 2) === Seq("raw-q2"))
    assert(bodies(root, "eo", 0) === Seq("raw-q0", "managed-q0"))
    // ...and a later epoch touching queue 2 must append, not truncate it
    val w = writer(root, 2, 1)
    w.write(row("managed-q2"))
    streamingWrite(root).commit(1, Array(w.commit()))
    assert(bodies(root, "eo", 2) === Seq("raw-q2", "managed-q2"))
  }

  test("real writeStream to graft-mq sink is exactly-once across a restart") {
    import org.apache.spark.sql.streaming.Trigger
    val srcRoot = Files.createTempDirectory("graft-eo-e2e").toString
    val dstRoot = Files.createTempDirectory("graft-eo-e2e").toString
    TopicLog.append(srcRoot, "in", 0, (0 until 5).iterator.map(i =>
      graft.source.Message(1000L * (i + 1), s"k$i", "t", Map.empty, s"body-$i")))
    val checkpoint = Files.createTempDirectory("graft-eo-ckpt").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft-mq")
        .option("topic", "in").option("consumerGroup", "g").option("rootDir", srcRoot)
        .option("offsetResetTo", "earliest").load()
        .select(col("body"))
        .writeStream.format("graft-mq")
        .option("topic", "out").option("consumerGroup", "g").option("rootDir", dstRoot)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    run()
    val first = (0 until 8).flatMap(q => bodies(dstRoot, "out", q)).sorted
    assert(first === (0 until 5).map(i => s"body-$i"))
    run() // restart with no new data: ledger blocks any re-append
    val second = (0 until 8).flatMap(q => bodies(dstRoot, "out", q)).sorted
    assert(second === first)
  }

  test("a micro-batch's repair shows in the query progress as a sink metric") {
    import org.apache.spark.sql.streaming.Trigger
    val srcRoot = Files.createTempDirectory("graft-eo-prog").toString
    val dstRoot = Files.createTempDirectory("graft-eo-prog").toString
    val checkpoint = Files.createTempDirectory("graft-eo-ckpt").toString
    def add(from: Int, until: Int): Unit =
      TopicLog.append(srcRoot, "in", 0, (from until until).iterator.map(i =>
        graft.source.Message(1000L * (i + 1), s"k$i", "t", Map.empty, s"body-$i")))
    def run(): Long = {
      val q = spark.readStream.format("graft-mq")
        .option("topic", "in").option("consumerGroup", "g").option("rootDir", srcRoot)
        .option("offsetResetTo", "earliest").load()
        .select(col("body"))
        .writeStream.format("graft-mq")
        .option("topic", "out").option("consumerGroup", "g").option("rootDir", dstRoot)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000))
      q.lastProgress.sink.metrics.get(graft.source.Metrics.BytesRepaired).toLong
    }
    add(0, 3)
    assert(run() === 0L)
    // a crashed attempt left a torn fragment past the sink's mark
    val fragment = "9\tk\tt\t\ttorn-lin"
    Files.writeString(TopicLog.queueFile(dstRoot, "out", 0).toPath, fragment,
      java.nio.file.StandardOpenOption.APPEND)
    add(3, 5)
    assert(run() === fragment.length.toLong)
    assert(bodies(dstRoot, "out") === (0 until 5).map(i => s"body-$i"))
    add(5, 6)
    assert(run() === 0L) // nothing left to repair
  }
}
