package graft.sink

import graft.source.{Message, TopicLog}
import graft.util.Retry
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.col

/** Flush discipline for the writer (reference: legacy/RocketMQSink.java:60-150:
  * batch mode buffers and flushes on size/checkpoint; async fires per message
  * with retries). */
sealed trait FlushMode
object FlushMode {
  /** Buffer `batchSize` messages per queue, then append in one IO. */
  final case class Batch(batchSize: Int = 32) extends FlushMode
  /** Append each message as it arrives (per-record IO, lowest latency). */
  case object Async extends FlushMode
}

/**
 * Writes a DataFrame into file-backed topic logs.
 *
 * Queue routing: the frame is repartitioned to `numQueues` partitions and
 * each task owns exactly one queue file — single-writer-per-queue, which is
 * the broker's own invariant and what makes appends safe under any
 * parallelism. At 100 TB this is one shuffle to align producers to queues,
 * then pure sequential appends.
 *
 * The single-writer invariant assumes one live attempt per partition. With
 * speculative execution (spark.speculation=true) or a zombie task racing
 * its retry, two attempts of the same partition can append to the same
 * queue file concurrently and interleave partial lines (corruption, not
 * just duplication) — so `write` REFUSES to run with speculation enabled;
 * use the DSv2 writer (`df.write.format("graft-mq")`), whose per-attempt
 * spill + commit-coordinated append is retry-safe.
 *
 * Topic routing goes through a [[TopicSelector]] (constant or field-driven),
 * retries through [[graft.util.Retry]] with the reference's backoff.
 */
object MessageQueueSink {

  /**
   * Refuses to run the legacy append path when speculative execution is on:
   * two live attempts of one partition would both hold the same queue file
   * and interleave partial lines. The DSv2 writer tolerates speculation
   * because attempts spill privately and only the commit-coordinated winner
   * appends (reference: legacy/RocketMQSink.java:60-150 single-writer
   * semantics).
   */
  private[sink] def assertNoSpeculation(conf: org.apache.spark.SparkConf): Unit =
    require(
      !conf.getBoolean("spark.speculation", defaultValue = false),
      "MessageQueueSink.write appends one queue file per partition and is not " +
        "safe under speculative execution (two attempts of a partition would " +
        "interleave appends). Disable spark.speculation or use the retry-safe " +
        "DSv2 writer: df.write.format(\"graft-mq\")")

  def write(
      df: DataFrame,
      rootDir: String,
      selector: TopicSelector[Map[String, Any]],
      converter: RowMessageConverter,
      numQueues: Int = 8,
      flushMode: FlushMode = FlushMode.Batch(32)): Unit = {
    assertNoSpeculation(df.sparkSession.sparkContext.getConf)
    val schema = df.schema
    val fieldNames = schema.fieldNames
    df.repartition(numQueues).foreachPartition { (rows: Iterator[Row]) =>
      val queueId = org.apache.spark.TaskContext.getPartitionId()
      // queue -> (topic, buffered messages)
      val buffers = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Message]]
      val batchSize = flushMode match {
        case FlushMode.Batch(n) => n
        case FlushMode.Async => 1
      }
      def flush(topic: String): Unit = {
        val buf = buffers(topic)
        if (buf.nonEmpty) {
          Retry.call(s"append to $topic/queue-$queueId") {
            TopicLog.append(rootDir, topic, queueId, buf.iterator)
          }
          buf.clear()
        }
      }
      rows.foreach { row =>
        val asMap = fieldNames.zip(row.toSeq).toMap
        val topic = selector.getTopic(asMap)
        val tag = selector.getTag(asMap)
        val m0 = converter.convert(row)
        val m = if (m0.tag.isEmpty && tag.nonEmpty) m0.copy(tag = tag) else m0
        val buf = buffers.getOrElseUpdate(topic, scala.collection.mutable.ArrayBuffer.empty)
        buf += m
        if (buf.length >= batchSize) flush(topic)
      }
      buffers.keys.foreach(flush)
    }
  }

  /**
   * Streaming sink: `df.writeStream.foreachBatch(MessageQueueSink.foreachBatch(...))`.
   *
   * EXACTLY-ONCE via the [[graft.source.EpochLedger]] protocol (default):
   * each task renders its queue's rows to a private spill, then per topic —
   * if the topic's ledger already covers this batchId the task appends
   * nothing (post-commit replay); otherwise it truncate-repairs the queue
   * to the committed high-water mark (discarding whatever a crashed attempt
   * left) and appends the spill. The driver then publishes the new marks +
   * batchId per topic in one atomic rename. Readers only see lines below
   * the mark, so every crash window either replays onto a repaired file or
   * skips a covered batch — no duplicates, no loss. This upgrades the
   * reference's pendingOffsetsToCommit bookkeeping, which is at-least-once
   * at the marker boundary (reference:
   * legacy/RocketMQSourceFunction.java:150, RocketMQSink.java:60-150).
   *
   * The repair step makes the same single-live-attempt assumption as
   * `write` (two racing attempts of one queue could interleave), so this
   * path also refuses `spark.speculation=true`. `writerId` is the ledger's
   * transaction identity: keep it stable across restarts of the same
   * pipeline (the default is fine for one pipeline per destination), and
   * give each pipeline its own id if several ever write the same topic
   * root — a new id takes over committed marks without skipping batches.
   * `flushMode` only applies to the legacy `exactlyOnce = false` path (the
   * epoch path always spills per task and appends once on commit).
   *
   * A batchId already recorded in the legacy committed-batch marker is
   * skipped on the exactly-once path UNTIL the first ledger exists under
   * the root — that closes the one-time replay window when an existing
   * marker-based pipeline upgrades to the ledger protocol mid-stream (its
   * last marked batch would otherwise be adopted as committed AND
   * re-appended), without letting a stale marker from a retired pipeline
   * swallow a new pipeline's early batches forever.
   *
   * `exactlyOnce = false` keeps the legacy behavior: whole-batch append +
   * committed-batch marker, at-least-once across the data/marker window and
   * within a batch under task retry.
   */
  def foreachBatch(
      rootDir: String,
      selector: TopicSelector[Map[String, Any]],
      converter: RowMessageConverter,
      numQueues: Int = 8,
      flushMode: FlushMode = FlushMode.Batch(32),
      exactlyOnce: Boolean = true,
      writerId: String = "foreachBatch"): (Dataset[Row], Long) => Unit =
    (batch: Dataset[Row], batchId: Long) => {
      if (exactlyOnce) {
        assertNoSpeculation(batch.sparkSession.sparkContext.getConf)
        val preUpgradeReplay = !anyLedger(rootDir) && isCommitted(rootDir, batchId)
        if (!preUpgradeReplay)
          writeEpoch(batch.toDF(), batchId, rootDir, selector, converter, numQueues,
            writerId)
      } else if (!isCommitted(rootDir, batchId)) {
        write(batch.toDF(), rootDir, selector, converter, numQueues, flushMode)
        markCommitted(rootDir, batchId)
      }
    }

  /** One exactly-once epoch append: tasks spill → repair → append and
    * report absolute (topic, queue, lines, bytes); the driver merges and
    * atomically publishes each topic's ledger. Data never moves through the
    * driver — only O(topics x queues) counters do. */
  private[sink] def writeEpoch(
      df: DataFrame,
      epochId: Long,
      rootDir: String,
      selector: TopicSelector[Map[String, Any]],
      converter: RowMessageConverter,
      numQueues: Int,
      writerId: String = "foreachBatch"): Unit = {
    import graft.source.{EpochLedger, Message, TopicLog}
    val schema = df.schema
    val fieldNames = schema.fieldNames
    val session = df.sparkSession
    import session.implicits._
    val stats: Array[(String, Int, Long, Long)] =
      df.repartition(numQueues).mapPartitions { (rows: Iterator[Row]) =>
        val queueId = org.apache.spark.TaskContext.getPartitionId()
        val spills = scala.collection.mutable.Map.empty[String, java.io.BufferedWriter]
        val paths = scala.collection.mutable.Map.empty[String, java.nio.file.Path]
        val lines = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        rows.foreach { row =>
          val asMap = fieldNames.zip(row.toSeq).toMap
          val topic = selector.getTopic(asMap)
          val tag = selector.getTag(asMap)
          val m0 = converter.convert(row)
          val m = if (m0.tag.isEmpty && tag.nonEmpty) m0.copy(tag = tag) else m0
          val w = spills.getOrElseUpdate(topic, {
            val p = java.nio.file.Files.createTempFile(s"graft-epoch-$queueId-", ".spill")
            paths(topic) = p
            new java.io.BufferedWriter(new java.io.FileWriter(
              p.toFile, java.nio.charset.StandardCharsets.UTF_8))
          })
          w.write(TopicLog.renderLine(m)); w.newLine()
          lines(topic) += 1L
        }
        val out = paths.keys.toSeq.sorted.flatMap { topic =>
          spills(topic).close()
          val p = paths(topic)
          val ledger = EpochLedger.read(rootDir, topic)
          val res =
            if (ledger.exists(_.isCommitted(writerId, epochId))) None // replayed batch
            else {
              val (cl, cb) = ledger match {
                // adopt raw complete lines when this queue was never managed
                case Some(st) if st.queues.contains(queueId) => st.committed(queueId)
                case _ => TopicLog.sizeInfo(rootDir, topic, queueId)
              }
              EpochLedger.truncateQueue(rootDir, topic, queueId, cb)
              val spillBytes = java.nio.file.Files.size(p)
              TopicLog.appendRendered(rootDir, topic, queueId, p)
              Some((topic, queueId, cl + lines(topic), cb + spillBytes))
            }
          java.nio.file.Files.deleteIfExists(p)
          res
        }
        out.iterator
      }.collect()
    stats.groupBy(_._1).foreach { case (topic, entries) =>
      val prior = graft.source.EpochLedger.read(rootDir, topic)
      if (!prior.exists(_.isCommitted(writerId, epochId))) {
        // base = prior marks, or full raw adoption on first management so
        // queues this epoch didn't touch keep their data readable
        val base = prior.map(_.queues)
          .getOrElse(graft.source.EpochLedger.adoptionState(rootDir, topic))
        val updated = base ++
          entries.map { case (_, q, lines, bytes) => q -> (lines, bytes) }
        graft.source.EpochLedger.publish(rootDir, topic,
          graft.source.EpochLedger.State(writerId, epochId, updated))
      }
    }
  }

  /** Test hook: land rows past the high-water mark WITHOUT the ledger
    * publish — the on-disk state a driver crash leaves between a task's
    * append and the atomic ledger rename. */
  private[sink] def writeEpochTaskOnlyForTest(
      df: DataFrame, rootDir: String, topic: String,
      converter: RowMessageConverter): Unit =
    graft.source.TopicLog.append(rootDir, topic, 0,
      df.collect().iterator.map(r => converter.convert(r)))

  /** True once any topic under the root is ledger-managed. */
  private def anyLedger(rootDir: String): Boolean =
    graft.source.TopicLog.listTopics(rootDir).exists(t =>
      java.nio.file.Files.exists(graft.source.EpochLedger.file(rootDir, t)))

  private def commitsFile(rootDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(rootDir, "_committed_batches")

  private[sink] def isCommitted(rootDir: String, batchId: Long): Boolean = {
    val f = commitsFile(rootDir)
    java.nio.file.Files.exists(f) &&
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(f)).asScala.contains(batchId.toString)
  }

  private[sink] def markCommitted(rootDir: String, batchId: Long): Unit = {
    java.nio.file.Files.createDirectories(commitsFile(rootDir).getParent)
    java.nio.file.Files.writeString(commitsFile(rootDir), s"$batchId\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}
