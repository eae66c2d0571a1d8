package graft.sink

import java.util

import graft.config.GraftOptions
import graft.source.Message
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StructType, TimestampType}

/**
 * DSv2 batch write: `df.write.format("graft-mq").option(...).save()`.
 *
 * Each task buffers its rows and appends them to its OWN queue file on
 * commit — task = queue (single writer per queue, the broker invariant), and
 * an aborted/retried task appends nothing (no partial lines). Rows become
 * delimited message bodies via the same exclusion rules as
 * [[RowMessageConverter]]; a `born_ts`-typed column can drive message time.
 */
class MessageQueueWriteBuilder(opts: GraftOptions, schema: StructType,
                               queryId: String = "")
    extends WriteBuilder {
  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
    private lazy val batch = new MessageQueueBatchWrite(opts, schema)
    override def toBatch: BatchWrite = batch
    // the streaming queryId is stable across restarts (checkpoint metadata)
    // — exactly the writer identity the epoch ledger needs
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new MessageQueueStreamingWrite(opts, schema, queryId)
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
  private[sink] var bytesRepaired = 0L
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new QueueDataWriterFactory(opts, schema)
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
                                 writerId: String = "")
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new QueueStreamingWriterFactory(opts, schema, writerId)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    graft.source.EpochLedger.commitDriver(opts.rootDir, opts.topic, writerId, Some(epochId),
      QueueCommit.marks(messages))
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

class QueueStreamingWriterFactory(opts: GraftOptions, schema: StructType, writerId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  private val hold = new TaskHold
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new QueueDataWriter(opts, schema, partitionId, epochId, writerId, hold)
}

class QueueDataWriterFactory(opts: GraftOptions, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new QueueDataWriter(opts, schema, partitionId)
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

class QueueDataWriter(opts: GraftOptions, schema: StructType, partitionId: Int,
                      epochId: Long = -1L, writerId: String = "",
                      hold: TaskHold = new TaskHold)
    extends DataWriter[InternalRow] {

  private val fieldNames = schema.fieldNames

  /** A message-shaped input (every column is one of the source's own
    * message/metadata columns, case-insensitively, and there is a string
    * `body`) maps columns by ROLE — body→body, msg_key→key, tag→tag,
    * born_ts→born, properties→properties; topic/queue_id/offset are
    * broker-assigned and ignored. This is what makes
    * `INSERT INTO <graft-mq table> SELECT ... AS body, ...` round-trip:
    * reading a queue and inserting the rows back writes the same messages,
    * not delimiter-joined column soup. (Positional `INSERT ... VALUES`
    * arrives as col1..colN under ACCEPT_ANY_SCHEMA and takes the generic
    * path — alias the columns.) Any explicit body-shaping option
    * (keyColumns / dynamic tag / writeKeysToBody) disables the mapping so
    * an existing delimited-body pipeline never changes format silently. */
  private val messageShaped: Boolean = {
    val msgCols = graft.source.MessageQueueTable.Schema.fieldNames.map(_.toLowerCase).toSet
    opts.keyColumns.isEmpty && !opts.isDynamicTag && !opts.writeKeysToBody &&
      fieldNames.forall(f => msgCols.contains(f.toLowerCase)) &&
      schema.fields.exists(f => f.name.equalsIgnoreCase("body") &&
        f.dataType == org.apache.spark.sql.types.StringType)
  }
  private def idxOf(name: String): Int =
    schema.fields.indexWhere(_.name.equalsIgnoreCase(name))
  private val msgBodyIdx = if (messageShaped) idxOf("body") else -1
  private val msgKeyIdx = if (messageShaped) idxOf("msg_key") else -1
  private val msgTagIdx = if (messageShaped) idxOf("tag") else -1
  private val msgPropsIdx = if (messageShaped) idxOf("properties") else -1

  private val tagIdx =
    if (opts.isDynamicTag && opts.dynamicTagColumn != null)
      schema.fieldIndex(opts.dynamicTagColumn)
    else -1
  private val keyIdx = opts.keyColumns.map(schema.fieldIndex).toArray
  private val bornIdx = {
    val i = schema.fields.indexWhere(f => f.name == "born_ts" && f.dataType == TimestampType)
    i
  }
  private val excluded: Set[Int] =
    (if (opts.writeKeysToBody) Set.empty[Int] else keyIdx.toSet) ++
      (if (tagIdx >= 0 && !opts.dynamicTagColumnWriteIncluded) Set(tagIdx) else Set.empty) ++
      (if (bornIdx >= 0) Set(bornIdx) else Set.empty)
  private val bodyIdx = schema.indices.filterNot(excluded.contains).toArray

  // rows spill to a task-attempt temp file as they arrive (O(1) heap, the
  // 100 TB partition case); commit() appends it to the queue log
  private val spill = new Spill(s"graft-write-$partitionId-")
  private var bytes = 0L

  private def str(row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) ""
    else schema(i).dataType match {
      case TimestampType => (row.getLong(i) / 1000L).toString // micros → millis
      case dt => row.get(i, dt).toString
    }

  // msgDelayLevel shifts delivery time (see GraftOptions.DelayLevelMs)
  private val delayMs = graft.config.GraftOptions.delayMs(opts.msgDelayLevel)

  override def write(row: InternalRow): Unit = {
    val born = delayMs +
      (if (bornIdx >= 0 && !row.isNullAt(bornIdx)) row.getLong(bornIdx) / 1000L
       else System.currentTimeMillis())
    val m =
      if (messageShaped) {
        val props =
          if (msgPropsIdx < 0 || row.isNullAt(msgPropsIdx)) Map.empty[String, String]
          else {
            val md = row.getMap(msgPropsIdx)
            val ks = md.keyArray(); val vs = md.valueArray()
            (0 until md.numElements()).map { i =>
              // map values are nullable in SQL; a property is never null
              val v = vs.getUTF8String(i)
              ks.getUTF8String(i).toString -> (if (v == null) "" else v.toString)
            }.toMap
          }
        val tag = if (msgTagIdx >= 0) str(row, msgTagIdx) else opts.tag
        Message(born,
          if (msgKeyIdx >= 0) str(row, msgKeyIdx) else "",
          if (tag == "*") "" else tag,
          props,
          str(row, msgBodyIdx))
      } else {
        val key = keyIdx.map(str(row, _)).mkString(",")
        val tag = if (tagIdx >= 0) str(row, tagIdx) else opts.tag
        // GraftOptions.parse normalizes an empty delimiter to SOH, so writer
        // and reader always agree on the body layout
        val body = bodyIdx.map(str(row, _)).mkString(opts.fieldDelimiter)
        Message(born, key, if (tag == "*") "" else tag, Map.empty, body)
      }
    bytes += graft.source.Metrics.utf8Length(spill.write(m)) + 1L
  }

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
