package graft.sink

import java.util.concurrent.atomic.AtomicLong

import graft.config.GraftOptions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/**
 * DSv2 batch write: `df.write.format("graft-mq").option(...).save()`.
 *
 * Each task buffers its rows and appends them to its OWN queue file on
 * commit — task = queue (single writer per queue, the broker invariant), and
 * an aborted/retried task appends nothing (no partial lines). Rows become
 * messages through [[RowMessageConverter]]`(opts, schema)`, built here on
 * the driver so a schema it cannot write fails before any task runs.
 */
class MessageQueueWriteBuilder(opts: GraftOptions, schema: StructType,
                               queryId: String = "",
                               streamBytesRepaired: AtomicLong = new AtomicLong)
    extends WriteBuilder {
  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
    private lazy val batch = new MessageQueueBatchWrite(opts, schema)
    override def toBatch: BatchWrite = batch
    // the streaming queryId is stable across restarts (checkpoint metadata)
    // — exactly the writer identity the epoch ledger needs
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new MessageQueueStreamingWrite(opts, schema, queryId, streamBytesRepaired)
    // task = queue, so the requested partition count IS the queue count;
    // 0 lets the incoming partitioning stand. Clustering key: the message
    // key columns (keeps one key's messages ordered within one queue, the
    // broker's per-key ordering guarantee) or the whole row when no keys.
    override def requiredDistribution(): Distribution =
      if (opts.numQueues <= 0) Distributions.unspecified()
      else {
        val cols = if (opts.keyColumns.nonEmpty) opts.keyColumns else schema.fieldNames.toSeq
        Distributions.clustered(cols.map(c => Expressions.identity(c)).toArray)
      }
    override def requiredOrdering(): Array[SortOrder] = Array.empty
    override def requiredNumPartitions(): Int = math.max(opts.numQueues, 0)
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      graft.source.Metrics.writeMetrics
    // Spark reads a task's metrics before its commit, where the repair
    // happens: a batch job's repaired bytes are summed on the driver
    override def reportDriverMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      Array(graft.source.Metrics.Value(graft.source.Metrics.BytesRepaired, batch.bytesRepaired))
  }
}

/** A batch append: [[graft.source.EpochLedger.commitDriver]] with no epoch,
  * which advances the marks of a ledger-managed topic (so the rows are
  * visible and the next epoch's repair keeps them) and leaves a raw topic
  * as it is. */
class MessageQueueBatchWrite(opts: GraftOptions, schema: StructType) extends BatchWrite {
  private val conv = RowMessageConverter(opts, schema)
  private[sink] var bytesRepaired = 0L
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new QueueDataWriterFactory(opts, conv)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    bytesRepaired = QueueCommit.bytesRepaired(messages)
    graft.source.EpochLedger.commitDriver(opts.rootDir, opts.topic, "", None,
      QueueCommit.marks(messages))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/**
 * DSv2 streaming sink: `df.writeStream.format("graft-mq")...start()` —
 * the native counterpart of the reference's streaming sink
 * (legacy/RocketMQSink.java). Each micro-batch or continuous epoch runs the
 * same spill-then-append writers as the batch path (task = queue, single
 * writer per queue, no partial lines from failed attempts).
 *
 * Delivery is EXACTLY-ONCE via the [[graft.source.EpochLedger]] protocol:
 * task commits truncate-repair their queue before appending, the driver
 * publishes the new marks + epoch id in one atomic rename, readers only see
 * lines below the mark, and a replayed epoch whose id the ledger already
 * covers appends nothing. The reference's pendingOffsetsToCommit
 * bookkeeping (legacy/RocketMQSourceFunction.java:150,
 * RocketMQSink.java:60-150) is at-least-once at this boundary; the ledger
 * closes it.
 */
class MessageQueueStreamingWrite(opts: GraftOptions, schema: StructType,
                                 writerId: String = "",
                                 bytesRepaired: AtomicLong = new AtomicLong)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  private val conv = RowMessageConverter(opts, schema)
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new QueueStreamingWriterFactory(opts, conv, writerId)
  // the table reports the epoch's repaired bytes in the query's progress
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    graft.source.EpochLedger.commitDriver(opts.rootDir, opts.topic, writerId, Some(epochId),
      QueueCommit.marks(messages))
    bytesRepaired.set(QueueCommit.bytesRepaired(messages))
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

/**
 * What a task carries from one epoch's writer to the next. Each task
 * deserializes its own copy of the writer factory, and a continuous task
 * (`ContinuousWriteRDD`) calls `createWriter` on it once per epoch and
 * commits epoch E+1 before the driver publishes E. So the task holds the
 * end of its own last append, and the next epoch's writer repairs to it
 * instead of to the ledger mark, which would cut the unpublished epoch-E
 * lines. The hold lives and dies with the task: a restarted query repairs
 * from the ledger. It also sums the task's repaired bytes, since Spark
 * reads a writer's metrics before its commit.
 */
private[sink] final class TaskHold extends Serializable {
  var end: Option[(Int, Long, (Long, Long))] = None // (queue, epoch, (lines, bytes))
  var bytesRepaired = 0L
  def base(queueId: Int, epochId: Long): Option[(Long, Long)] =
    end.collect { case (q, e, at) if q == queueId && e == epochId - 1 => at }
}

class QueueStreamingWriterFactory(opts: GraftOptions, conv: RowMessageConverter,
                                  writerId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  private val hold = new TaskHold
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new QueueDataWriter(opts, conv, partitionId, epochId, writerId, hold)
}

class QueueDataWriterFactory(opts: GraftOptions, conv: RowMessageConverter)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new QueueDataWriter(opts, conv, partitionId)
}

/** A task's landed queue end (None = a replayed epoch, nothing appended). */
private final case class QueueCommit(queueId: Int, end: Option[(Long, Long)], bytesRepaired: Long)
    extends WriterCommitMessage

private object QueueCommit {
  def marks(messages: Array[WriterCommitMessage]): Seq[(Int, (Long, Long))] =
    messages.toSeq.collect { case QueueCommit(q, Some(end), _) => q -> end }
  def bytesRepaired(messages: Array[WriterCommitMessage]): Long =
    messages.iterator.collect { case c: QueueCommit => c.bytesRepaired }.sum
}

/**
 * One task's writer: rows become messages through [[RowMessageConverter]]
 * (the one rule set for every sink path), spill to a task-attempt temp
 * file, and land in the queue log at commit.
 */
class QueueDataWriter(opts: GraftOptions, conv: RowMessageConverter, partitionId: Int,
                      epochId: Long = -1L, writerId: String = "",
                      hold: TaskHold = new TaskHold)
    extends DataWriter[InternalRow] {

  // rows spill to a task-attempt temp file as they arrive (O(1) heap, the
  // 100 TB partition case); commit() appends it to the queue log
  private val spill = new Spill(s"graft-write-$partitionId-")
  private var bytes = 0L

  override def write(row: InternalRow): Unit =
    bytes += graft.source.Metrics.utf8Length(spill.write(conv.convert(row))) + 1L

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(graft.source.Metrics.Value(graft.source.Metrics.MessagesWritten, spill.lines),
      graft.source.Metrics.Value(graft.source.Metrics.BytesWritten, bytes),
      graft.source.Metrics.Value(graft.source.Metrics.BytesRepaired, hold.bytesRepaired))

  /** The queue log is only touched here, after every row spilled cleanly —
    * an attempt that dies mid-write leaves just an orphan temp file. The
    * append is [[graft.source.EpochLedger.commitTask]]: a streaming epoch
    * the ledger already covers appends nothing, and a ledger-managed queue
    * is first repaired back to its base. Spark's commit coordinator
    * prevents the double-commit case within an epoch. */
  override def commit(): WriterCommitMessage = {
    spill.close()
    val appended = graft.source.EpochLedger.commitTask(opts.rootDir, opts.topic, partitionId,
      writerId, Some(epochId).filter(_ >= 0), spill.path, spill.lines,
      hold.base(partitionId, epochId))
    appended.foreach { a =>
      hold.end = Some((partitionId, epochId, (a.lines, a.bytes)))
      hold.bytesRepaired += a.bytesRepaired
    }
    QueueCommit(partitionId, appended.map(a => (a.lines, a.bytes)),
      appended.fold(0L)(_.bytesRepaired))
  }

  override def abort(): Unit = spill.discard()
  override def close(): Unit = spill.discard()
}
