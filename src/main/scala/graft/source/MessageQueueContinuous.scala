package graft.source

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{ContinuousPartitionReaderFactory, ContinuousStream, Offset, PartitionOffset}
import org.apache.spark.sql.types.StructType

import graft.config.GraftOptions

/** Continuous-mode position of one queue reader: the NEXT offset to read. */
final case class QueuePartitionOffset(queueId: Int, offset: Long) extends PartitionOffset

/** One queue's continuous split: where the long-running reader task starts. */
final case class ContinuousQueueSplit(topic: String, queueId: Int, startOffset: Long)
    extends InputPartition

/**
 * DSv2 ContinuousStream over the queue logs — the low-latency analog of the
 * reference's always-on poll loop (reference:
 * source/reader/RocketMQPartitionSplitReader.java:90-180, whose fetch loop
 * never returns to a scheduler between polls). Micro-batch mode pays a
 * planning round-trip per batch, so end-to-end latency floors at the
 * trigger interval; here each queue gets ONE long-running task whose
 * reader tails the log and emits rows the moment they land, and the epoch
 * coordinator snips the stream into commit epochs without ever stopping
 * the readers.
 *
 * Offsets are the same `QueueOffsets` JSON as micro-batch mode, so a
 * checkpoint written by one mode restores in the other (restore-wins,
 * like the micro-batch stream). Enabled per-query by
 * `Trigger.Continuous(...)` — the source advertises CONTINUOUS_READ and
 * Spark picks this stream over the micro-batch one automatically.
 *
 * Scope (documented in README §continuous): tag/property pushdown and
 * offset bookkeeping are shared with micro-batch mode, but Spark's
 * continuous engine itself supports only stateless map/filter/project
 * pipelines — windowed aggregates and joins still require micro-batch
 * mode. End-to-end parity is oracle-checked by the
 * `mq_roundtrip_continuous` entry (same SQL as the batch roundtrip), on
 * top of ContinuousSpec's tailing/selector/offset suites.
 */
class MessageQueueContinuousStream(opts: GraftOptions,
    requiredSchema: StructType = MessageQueueTable.Schema)
    extends ContinuousStream {

  private def listQueues(): Seq[Int] = TopicLog.listQueues(opts.rootDir, opts.topic)

  /** The queue set this stream last planned; a new queue appearing in the
    * log triggers a reconfiguration (the continuous analog of micro-batch
    * per-batch queue re-listing). */
  @volatile private var plannedQueues: Seq[Int] = Nil

  override def initialOffset(): Offset =
    QueueOffsets(listQueues().map { q =>
      q -> OffsetStore.resolveStartOffset(opts.rootDir, opts.topic, q, opts.startMode)
    }.toMap)

  override def deserializeOffset(json: String): Offset = QueueOffsets.fromJson(json)

  override def mergeOffsets(offsets: Array[PartitionOffset]): Offset =
    QueueOffsets(offsets.map {
      case QueuePartitionOffset(q, o) => q -> o
      case other => throw new IllegalArgumentException(s"unexpected offset: $other")
    }.toMap)

  override def planInputPartitions(start: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[QueueOffsets].offsets
    // a queue present in the log but absent from the checkpoint starts at
    // its mode-resolved offset (same rule as the micro-batch stream)
    val queues = listQueues()
    plannedQueues = queues
    queues.map { q =>
      val from = s.getOrElse(q,
        OffsetStore.resolveStartOffset(opts.rootDir, opts.topic, q, opts.startMode))
      ContinuousQueueSplit(opts.topic, q, from): InputPartition
    }.toArray
  }

  override def createContinuousReaderFactory(): ContinuousPartitionReaderFactory =
    new QueueReaderFactory(opts, requiredSchema)

  override def needsReconfiguration(): Boolean = listQueues() != plannedQueues

  /** Same monitoring-only group-offset surface as the micro-batch stream's
    * commit: restarts are governed by the checkpoint (restore-wins), so a
    * failed write logs and continues. */
  override def commit(end: Offset): Unit =
    try OffsetStore.commitOffsets(opts.rootDir, opts.topic, opts.consumerGroup,
      end.asInstanceOf[QueueOffsets].offsets)
    catch {
      case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"could not persist consumer-group offsets for ${opts.consumerGroup}: $e")
    }

  override def stop(): Unit = ()
}

/**
 * Long-running tail reader for one queue: the bounded reader with a stop
 * line that follows the log. `next()` BLOCKS until a record is available,
 * re-polling the log's max offset every `continuousPollMs` while drained
 * (the reference's poll loop as a DSv2 continuous reader); the cursor
 * holds its position across polls, so a poll reads only what was appended
 * since. The engine interrupts this thread at query stop; the
 * InterruptedException from the poll sleep is the intended shutdown path.
 */
class ContinuousQueueReader(opts: GraftOptions, requiredSchema: StructType,
    split: ContinuousQueueSplit)
    extends QueuePartitionReader(opts, requiredSchema, split.topic, split.queueId,
      split.startOffset, split.startOffset) {

  override def next(): Boolean = {
    while (!super.next()) {
      val max = TopicLog.maxOffset(opts.rootDir, split.topic, split.queueId)
      if (!cursor.extendTo(max))
        Thread.sleep(opts.continuousPollMs) // throws InterruptedException at query stop
    }
    true
  }
}
