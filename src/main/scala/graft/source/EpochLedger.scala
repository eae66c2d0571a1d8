package graft.source

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/**
 * Committed high-water marks for a topic's queue logs — the metadata that
 * upgrades the streaming sink from at-least-once to EXACTLY-ONCE.
 *
 * `<root>/<topic>/_epochs` records the last committed epoch and, per queue,
 * the committed (lines, bytes) prefix of its log. The file is tiny
 * (O(queues)) and is only ever replaced ATOMICALLY (temp + ATOMIC_MOVE), so
 * observers see either the old state or the new one, never a torn write.
 *
 * Protocol — every writer (the DSv2 batch, micro-batch and continuous
 * sinks of `graft-mq`, the only ways rows reach a queue log) runs these
 * two steps and nothing else touches the marks:
 *  1. [[commitTask]], per task and topic: if the ledger already covers this
 *     epoch, append NOTHING (the epoch is a post-commit replay); otherwise
 *     truncate the queue file back to its base (discarding any uncommitted
 *     tail a crashed attempt left) and append the task's spill.
 *  2. [[commitDriver]], per topic: merge the tasks' new (lines, bytes) and
 *     publish the ledger with the new epoch in one atomic rename.
 *
 * The base of step 1 is the queue's committed mark — except in a
 * continuous query, whose task commits epoch E+1 before the driver
 * publishes E. There the base is the end of this task's own epoch-E
 * append, held by the task's writer factory, so the repair keeps the
 * epoch-E lines the ledger does not cover yet. The held base never
 * outlives the task: a restarted query repairs from the ledger.
 *
 * Reader side: [[TopicLog.maxOffset]] answers straight from the ledger when
 * one exists, so an uncommitted tail is invisible — which closes the gap
 * between "data appended" and "commit recorded" that made the previous
 * design at-least-once (a crash in that window now replays onto a truncated
 * file instead of duplicating).
 *
 * Crash matrix: crash before any append → clean replay; crash mid-append →
 * tail beyond hwm is invisible and truncated on replay; crash after the
 * appends but before the publish → the lines sit above the marks, invisible,
 * and the replay truncates them; crash after publish but before the
 * checkpoint advances → replay sees maxEpoch >= epoch and appends nothing.
 * That holds for a stream's first epoch into a topic too: before any task
 * of it appends, the topic becomes ledger-managed ([[adopt]]), so there is
 * always a mark to sit above. No case duplicates or loses committed lines.
 *
 * At 100 TB the data path is unchanged — appends stay task-local and
 * sequential; only O(queues) counters flow through the driver per epoch.
 * On an object store the same protocol holds with the rename swapped for a
 * conditional put of the ledger object, and the adoption's hard link for a
 * put-if-absent.
 *
 * A topic is either ledger-managed (written by a stream epoch) or raw (only
 * batch appends so far); the first stream epoch to reach it ADOPTS the
 * existing complete lines as committed. In a managed topic a queue the
 * ledger does not name has no committed line. A batch append (no epoch)
 * into a managed topic runs the same two steps, so its rows become visible
 * and later repairs keep them; into a raw topic it appends without repair
 * and publishes nothing.
 */
object EpochLedger {

  /**
   * Committed state: the writer that owns the epoch counter, its last
   * committed epoch, and per-queue (lines, bytes) prefixes.
   *
   * `writerId` is the Delta-style transaction identity: epoch numbers only
   * mean "already committed" relative to the writer that issued them. A new
   * writer (fresh checkpoint, different streaming query) starts its
   * epochs at 0 again — without the
   * identity check its first maxEpoch+1 batches of NEW data would all be
   * skipped as replays. A different writerId is therefore never
   * "committed"; it takes over the committed marks (data survives) and the
   * counter restarts under the new identity. The post-publish replay
   * window is still closed for the SAME writer restarting (the DSv2 path
   * uses the streaming queryId, stable across restarts via the
   * checkpoint); concurrent interleaved writers remain unsupported — the
   * broker invariant is single writer per queue, extended here to one
   * writing job per topic at a time.
   */
  final case class State(writerId: String, maxEpoch: Long, queues: Map[Int, (Long, Long)]) {
    def committed(queueId: Int): (Long, Long) = queues.getOrElse(queueId, (0L, 0L))
    def isCommitted(writer: String, epochId: Long): Boolean =
      writerId == writer && maxEpoch >= epochId
  }

  val FileName = "_epochs"

  def file(root: String, topic: String): Path = Paths.get(root, topic, FileName)

  /** None = topic is not ledger-managed. */
  def read(root: String, topic: String): Option[State] = {
    val f = file(root, topic)
    if (!Files.exists(f)) return None
    val lines = Files.readAllLines(f).asScala
    val header = lines.head.split(' ')
    require(header(0) == "v2", s"unknown ledger version in $f: ${lines.head}")
    val queues = lines.tail.filter(_.nonEmpty).map { l =>
      val Array(q, ln, b) = l.split(' ')
      q.toInt -> (ln.toLong, b.toLong)
    }.toMap
    Some(State(unescapeId(header(2)), header(1).toLong, queues))
  }

  // writer ids are URL-encoded in the header so spaces/newlines can't
  // corrupt the line format
  private def escapeId(id: String): String =
    java.net.URLEncoder.encode(if (id.isEmpty) "-" else id, "UTF-8")
  private def unescapeId(s: String): String = {
    val d = java.net.URLDecoder.decode(s, "UTF-8")
    if (d == "-") "" else d
  }

  /** Write `state` to `path` and fsync it. */
  private def write(path: Path, state: State): Unit = {
    val body = (s"v2 ${state.maxEpoch} ${escapeId(state.writerId)}" +:
      state.queues.toSeq.sorted.map { case (q, (ln, b)) => s"$q $ln $b" })
      .mkString("", "\n", "\n")
    val ch = FileChannel.open(path, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(java.nio.ByteBuffer.wrap(body.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      ch.force(true)
    } finally ch.close()
  }

  /** Atomically replace the ledger (write temp, fsync, ATOMIC_MOVE). */
  private[graft] def publish(root: String, topic: String, state: State): Unit = {
    val target = file(root, topic)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".$FileName.tmp")
    write(tmp, state)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def isCommitted(root: String, topic: String, writer: String, epochId: Long): Boolean =
    read(root, topic).exists(_.isCommitted(writer, epochId))

  /**
   * Make a raw topic ledger-managed: publish the adoption ledger, in which
   * every queue file already on disk is committed at its complete-line
   * prefix (so managed epochs never shadow, and never truncate, raw data),
   * at epoch -1 under `writerId`. The ledger is created, never replaced (a
   * hard link of a written temp file, which fails if `_epochs` exists): of
   * the tasks that race to adopt one topic one wins, and the others read
   * its ledger. O(existing queues), paid once per topic.
   */
  private def adopt(root: String, topic: String, writerId: String): State = {
    val target = file(root, topic)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".$FileName-${java.util.UUID.randomUUID}.tmp")
    try {
      val state = State(writerId, -1L, TopicLog.listQueues(root, topic)
        .map(q => q -> TopicLog.sizeInfo(root, topic, q)).toMap)
      write(tmp, state)
      Files.createLink(target, tmp)
      state
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => read(root, topic).get
    } finally Files.deleteIfExists(tmp)
  }

  /** Truncate a queue log back to its committed byte length — the repair
    * step that discards an uncommitted tail before a replay re-appends.
    * Returns the bytes cut. */
  private def truncateQueue(root: String, topic: String, queueId: Int, committedBytes: Long): Long = {
    val f: File = TopicLog.queueFile(root, topic, queueId)
    val cut = f.length() - committedBytes // a missing file has length 0
    if (cut <= 0L) 0L
    else {
      val ch = FileChannel.open(f.toPath, StandardOpenOption.WRITE)
      try ch.truncate(committedBytes) finally ch.close()
      TopicLog.invalidateCache(f)
      cut
    }
  }

  /** A task's landed append: the queue's new (lines, bytes) end and the
    * bytes its repair cut first. */
  final case class Appended(lines: Long, bytes: Long, bytesRepaired: Long)

  /**
   * Step 1 of the protocol: land one task's spill (`spillLines` rendered
   * lines) in `queueId` of `topic`, then delete the spill. `epoch` is the
   * stream epoch, or None for a batch append. A stream epoch first makes
   * a raw topic ledger-managed ([[adopt]]), so its lines land above a mark
   * and stay invisible until the epoch publishes. `heldBase` is the end of
   * this task's own append of the previous epoch, when it made one (the
   * continuous case); otherwise the base is the ledger mark. None = a
   * replay of an epoch the ledger already covers: nothing is appended.
   */
  def commitTask(root: String, topic: String, queueId: Int, writerId: String,
      epoch: Option[Long], spill: Path, spillLines: Long,
      heldBase: Option[(Long, Long)] = None): Option[Appended] =
    try {
      val ledger = read(root, topic).orElse(epoch.map(_ => adopt(root, topic, writerId)))
      if (epoch.exists(e => ledger.exists(_.isCommitted(writerId, e)))) None
      else {
        // a raw batch append (no ledger) has no mark to keep
        val (lines, bytes) = heldBase.getOrElse(ledger.fold((0L, 0L))(_.committed(queueId)))
        val repaired = if (ledger.isDefined) truncateQueue(root, topic, queueId, bytes) else 0L
        val spillBytes = Files.size(spill)
        TopicLog.appendRendered(root, topic, queueId, spill)
        Some(Appended(lines + spillLines, bytes + spillBytes, repaired))
      }
    } finally Files.deleteIfExists(spill)

  /**
   * Step 2 of the protocol: publish the queues' new marks for `epoch`. A
   * stream epoch publishes unless the ledger already covers it, on top of
   * the prior marks (or, when no task reached a raw topic, its [[adopt]]ion,
   * so queues this epoch did not touch keep their data readable). A
   * batch append (`epoch` None) publishes only into a ledger-managed topic
   * and keeps its epoch.
   *
   * Ledger commits are read-modify-write of one file: a topic admits ONE
   * writing job at a time (the broker's single-writer-per-queue invariant
   * extended to jobs).
   */
  def commitDriver(root: String, topic: String, writerId: String, epoch: Option[Long],
      marks: Iterable[(Int, (Long, Long))]): Unit = {
    val prior = read(root, topic)
    epoch match {
      case Some(e) if !prior.exists(_.isCommitted(writerId, e)) =>
        val base = prior.getOrElse(adopt(root, topic, writerId)).queues
        publish(root, topic, State(writerId, e, base ++ marks))
      case None => prior.foreach(st => publish(root, topic, st.copy(queues = st.queues ++ marks)))
      case _ => ()
    }
  }
}
