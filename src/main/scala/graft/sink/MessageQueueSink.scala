package graft.sink

import graft.source.{EpochLedger, Message, TopicLog}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType

/** A task's rendered lines on their way to one queue log: a private temp
  * file (O(1) heap), which [[graft.source.EpochLedger.commitTask]] appends
  * and deletes. An attempt that dies before its commit leaves the queue log
  * untouched. */
private[sink] final class Spill(prefix: String) {
  val path: java.nio.file.Path = java.nio.file.Files.createTempFile(prefix, ".spill")
  private val out = new java.io.BufferedWriter(new java.io.FileWriter(
    path.toFile, java.nio.charset.StandardCharsets.UTF_8))
  private var n = 0L
  def lines: Long = n

  /** Spill one message; returns its rendered line (no terminator). */
  def write(m: Message): String = {
    val line = TopicLog.renderLine(m)
    out.write(line); out.newLine(); n += 1L
    line
  }
  def close(): Unit = out.close()
  def discard(): Unit = { out.close(); java.nio.file.Files.deleteIfExists(path); () }
}

/** The current row's fields by name, as the Scala values a [[TopicSelector]]
  * sees. A field is converted only when the selector asks for it, and one
  * view serves a task's rows (`row` moves along), so a constant selector
  * costs nothing per row. */
private[sink] final class RowFields(schema: StructType)
    extends scala.collection.immutable.AbstractMap[String, Any] {
  var row: InternalRow = _
  private val index = schema.fieldNames.zipWithIndex.toMap
  private val toScala =
    schema.fields.map(f => CatalystTypeConverters.createToScalaConverter(f.dataType))
  private def value(i: Int): Any =
    if (row.isNullAt(i)) null else toScala(i)(row.get(i, schema(i).dataType))
  override def get(key: String): Option[Any] = index.get(key).map(value(_))
  override def iterator: Iterator[(String, Any)] =
    schema.indices.iterator.map(i => schema(i).name -> value(i))
  override def removed(key: String): Map[String, Any] = iterator.toMap - key
  override def updated[V1 >: Any](key: String, v: V1): Map[String, V1] =
    iterator.toMap.updated(key, v)
}

/**
 * Writes a DataFrame into file-backed topic logs.
 *
 * Queue routing: the frame is repartitioned to `numQueues` partitions and
 * each task owns exactly one queue file — single-writer-per-queue, which is
 * the broker's own invariant and what makes appends safe under any
 * parallelism. At 100 TB this is one shuffle to align producers to queues,
 * then pure sequential appends. Each task spills its rows per routed topic
 * and commits each topic through the [[graft.source.EpochLedger]] protocol;
 * the driver then publishes each topic's marks.
 *
 * The single-writer invariant assumes one live attempt per partition. With
 * speculative execution (spark.speculation=true) or a zombie task racing
 * its retry, two attempts of the same partition can repair and append to
 * the same queue file concurrently and interleave partial lines
 * (corruption, not just duplication) — so these paths REFUSE to run with
 * speculation enabled; use the DSv2 writer (`df.write.format("graft-mq")`),
 * whose commit-coordinated append is retry-safe.
 *
 * Topic routing goes through a [[TopicSelector]] (constant or field-driven);
 * rows become messages through the one [[RowMessageConverter]], on Spark
 * SQL's binary rows (no external `Row` is built).
 */
object MessageQueueSink {

  /**
   * Refuses to run the task-routed append paths when speculative execution
   * is on: two live attempts of one partition would both hold the same
   * queue file and interleave partial lines. The DSv2 writer tolerates
   * speculation because attempts spill privately and only the
   * commit-coordinated winner appends (reference:
   * legacy/RocketMQSink.java:60-150 single-writer semantics).
   */
  private[sink] def assertNoSpeculation(conf: org.apache.spark.SparkConf): Unit =
    require(
      !conf.getBoolean("spark.speculation", defaultValue = false),
      "MessageQueueSink.write appends one queue file per partition and is not " +
        "safe under speculative execution (two attempts of a partition would " +
        "interleave appends). Disable spark.speculation or use the retry-safe " +
        "DSv2 writer: df.write.format(\"graft-mq\")")

  /** A batch append: rows land after the marks of a ledger-managed topic
    * and advance them (so they are visible and later repairs keep them); a
    * raw topic is appended to as it is. */
  def write(
      df: DataFrame,
      rootDir: String,
      selector: TopicSelector[Map[String, Any]],
      converter: RowMessageConverter,
      numQueues: Int = 8): Unit =
    appendEpoch(df, None, rootDir, selector, converter, numQueues, "")

  /**
   * Streaming sink: `df.writeStream.foreachBatch(MessageQueueSink.foreachBatch(...))`.
   *
   * EXACTLY-ONCE via the [[graft.source.EpochLedger]] protocol, with the
   * batchId as the epoch: a batch the topic's ledger already covers
   * appends nothing (post-commit replay); otherwise each task
   * truncate-repairs its queue to the committed high-water mark
   * (discarding whatever a crashed attempt left) and appends its spill,
   * and the driver publishes the new marks + batchId per topic in one
   * atomic rename. Readers only see lines below the mark, so every crash
   * window either replays onto a repaired file or skips a covered batch —
   * no duplicates, no loss. This upgrades the reference's
   * pendingOffsetsToCommit bookkeeping, which is at-least-once at the
   * marker boundary (reference: legacy/RocketMQSourceFunction.java:150,
   * RocketMQSink.java:60-150).
   *
   * `writerId` is the ledger's transaction identity: keep it stable across
   * restarts of the same pipeline (the default is fine for one pipeline per
   * destination), and give each pipeline its own id if several ever write
   * the same topic root — a new id takes over committed marks without
   * skipping batches.
   */
  def foreachBatch(
      rootDir: String,
      selector: TopicSelector[Map[String, Any]],
      converter: RowMessageConverter,
      numQueues: Int = 8,
      writerId: String = "foreachBatch"): (Dataset[Row], Long) => Unit =
    (batch: Dataset[Row], batchId: Long) =>
      appendEpoch(batch.toDF(), Some(batchId), rootDir, selector, converter, numQueues,
        writerId)

  /** The task body `write` and `foreachBatch` share: each task spills its
    * queue's rows per routed topic, then runs
    * [[graft.source.EpochLedger.commitTask]] for each topic and reports the
    * new (topic, queue, lines, bytes); the driver runs
    * [[graft.source.EpochLedger.commitDriver]] per topic. Data never moves
    * through the driver — only O(topics x queues) counters do. */
  private def appendEpoch(
      df: DataFrame,
      epoch: Option[Long],
      rootDir: String,
      selector: TopicSelector[Map[String, Any]],
      converter: RowMessageConverter,
      numQueues: Int,
      writerId: String): Unit = {
    assertNoSpeculation(df.sparkSession.sparkContext.getConf)
    val schema = df.schema
    val ends: Array[(String, Int, Long, Long)] =
      df.repartition(numQueues).queryExecution.toRdd.mapPartitions { rows =>
        val queueId = org.apache.spark.TaskContext.getPartitionId()
        val spills = scala.collection.mutable.Map.empty[String, Spill]
        val fields = new RowFields(schema)
        rows.foreach { row =>
          fields.row = row
          val topic = selector.getTopic(fields)
          val tag = selector.getTag(fields)
          val m0 = converter.convert(row)
          val m = if (m0.tag.isEmpty && tag.nonEmpty) m0.copy(tag = tag) else m0
          spills.getOrElseUpdate(topic, new Spill(s"graft-epoch-$queueId-")).write(m)
        }
        spills.values.foreach(_.close())
        try spills.toSeq.sortBy(_._1).flatMap { case (topic, s) =>
          EpochLedger.commitTask(rootDir, topic, queueId, writerId, epoch, s.path, s.lines)
            .map(a => (topic, queueId, a.lines, a.bytes))
        }.iterator
        finally spills.values.foreach(_.discard())
      }.collect()
    ends.groupBy(_._1).foreach { case (topic, es) =>
      EpochLedger.commitDriver(rootDir, topic, writerId, epoch,
        es.map { case (_, q, lines, bytes) => q -> (lines, bytes) })
    }
  }
}
