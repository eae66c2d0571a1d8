package graft.source

import graft.config.{GraftOptions, StartMode}

/**
 * Start offsets and consumer-group offsets. A stream's position lives in
 * Spark's checkpoint (restore-wins: a restarted query resumes there, not at
 * its start mode); what is here resolves a start mode to an offset, and
 * keeps the group's progress in a file for monitoring
 * (reference: legacy/RocketMQSourceFunction.java:338-437).
 */
object OffsetStore {

  /** Map a start mode to a concrete offset for one queue
    * (reference: legacy/RocketMQSourceFunction.java:338-360 —
    * earliest→minOffset, latest→maxOffset, timestamp→searchOffset). */
  def resolveStartOffset(rootDir: String, topic: String, queueId: Int, mode: StartMode): Long =
    mode match {
      case StartMode.Earliest => TopicLog.minOffset(rootDir, topic, queueId)
      case StartMode.Latest => TopicLog.maxOffset(rootDir, topic, queueId)
      case StartMode.Timestamp(ms) => TopicLog.searchOffset(rootDir, topic, queueId, ms)
      case StartMode.Offset(o) =>
        math.min(o, TopicLog.maxOffset(rootDir, topic, queueId))
    }

  /** Where a stream reads `queueId` from, given the start offsets it plans
    * with. A queue those offsets do not name appeared after the query
    * started, so it is read from its first line: under `latest` its
    * mode-resolved start would skip every line written before the stream
    * saw the queue. The micro-batch and the continuous stream both plan
    * with this. */
  def streamStart(start: Map[Int, Long], queueId: Int): Long = start.getOrElse(queueId, 0L)

  // ---- durable consumer-group offsets ----
  //
  // Structured Streaming's checkpoint already makes restarts correct; this
  // surface exists so EXTERNAL tooling can see a group's progress and lag,
  // like the reference committing offsets back to the broker on checkpoint
  // complete (reference: legacy/RocketMQSourceFunction.java:340-437,
  // notifyCheckpointComplete → consumer.commitOffset). One file per group
  // under the topic dir, written atomically (temp + move).

  private def offsetsFile(rootDir: String, topic: String, group: String): java.nio.file.Path =
    java.nio.file.Paths.get(rootDir, topic, "__offsets", s"$group.offsets")

  /** Persist a group's committed (next-to-read) offsets. */
  def commitOffsets(
      rootDir: String, topic: String, group: String, offsets: Map[Int, Long]): Unit = {
    val file = offsetsFile(rootDir, topic, group)
    java.nio.file.Files.createDirectories(file.getParent)
    val tmp = java.nio.file.Files.createTempFile(file.getParent, s".$group-", ".tmp")
    val body = offsets.toSeq.sortBy(_._1).map { case (q, o) => s"$q\t$o" }.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(tmp, body)
    java.nio.file.Files.move(tmp, file,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** A stream's commit of its group's offsets. Restarts follow the
    * streaming checkpoint, not this file, so a failed write logs and the
    * query goes on. */
  def tryCommit(opts: GraftOptions, offsets: Map[Int, Long]): Unit =
    try commitOffsets(opts.rootDir, opts.topic, opts.consumerGroup, offsets)
    catch {
      case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"could not persist consumer-group offsets for ${opts.consumerGroup}: $e")
    }

  /** Last committed offsets for a group (empty if it never committed).
    * Malformed lines are skipped, not fatal — this is a monitoring API and
    * the file is plain text anyone may have touched. */
  def committedOffsets(rootDir: String, topic: String, group: String): Map[Int, Long] = {
    val file = offsetsFile(rootDir, topic, group)
    if (!java.nio.file.Files.exists(file)) Map.empty
    else scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(file)).asScala
      .flatMap { line =>
        line.split("\t") match {
          case Array(q, o) if q.trim.nonEmpty =>
            try Some(q.trim.toInt -> o.trim.toLong)
            catch { case _: NumberFormatException => None }
          case _ => None
        }
      }
      .toMap
  }

  /** Per-queue lag (log end minus committed position) — the monitoring
    * number an operator actually watches. Queues the group never committed
    * report the full log length. */
  def consumerLag(rootDir: String, topic: String, group: String): Map[Int, Long] = {
    val committed = committedOffsets(rootDir, topic, group)
    TopicLog.listQueues(rootDir, topic).map { q =>
      q -> math.max(0L, TopicLog.maxOffset(rootDir, topic, q) - committed.getOrElse(q, 0L))
    }.toMap
  }
}
