package graft.source

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Paths, StandardOpenOption}

/** One message in the file-backed queue log: the graft stand-in for a broker
  * message (bornTs/key/tag/properties/body — the same fields the reference's
  * BytesMessage + metadata carry). */
final case class Message(
    bornTs: Long,
    key: String,
    tag: String,
    properties: Map[String, String],
    body: String)

/**
 * File-backed topic storage: `<root>/<topic>/queue-<N>.log`, one message per
 * line, offset = line number. Stands in for the broker so all offset/split
 * semantics stay real (see SURVEY.md §3).
 *
 * Line format (tab-separated): `bornTs \t key \t tag \t k=v;k=v \t body`,
 * with backslash/tab/newline/CR escaped inside every field, so arbitrary
 * bodies round-trip. Append-only; one writer per queue (MQ semantics).
 *
 * Reads seek: each log has an in-memory [[PositionIndex]] (an entry every
 * [[Stride]] lines, built by the cursors that walk the log), so a read
 * opens at the entry at or below its first offset and walks fewer than
 * [[Stride]] lines, and [[searchOffset]] scans at most one stride.
 */
object TopicLog {

  val QueuePrefix = "queue-"
  val QueueSuffix = ".log"

  def queueFile(root: String, topic: String, queueId: Int): File =
    new File(new File(root, topic), s"$QueuePrefix$queueId$QueueSuffix")

  /** Queue ids present for a topic, ascending (a topic with no dir has none). */
  def listQueues(root: String, topic: String): Seq[Int] = {
    val dir = new File(root, topic)
    if (!dir.isDirectory) Seq.empty
    else dir.listFiles()
      .filter(f => f.getName.startsWith(QueuePrefix) && f.getName.endsWith(QueueSuffix))
      .map(f => f.getName.stripPrefix(QueuePrefix).stripSuffix(QueueSuffix).toInt)
      .sorted.toSeq
  }

  def listTopics(root: String): Seq[String] = {
    val dir = new File(root)
    if (!dir.isDirectory) Seq.empty
    else dir.listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq
  }

  // ---- field escaping ----

  private[source] def escape(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      // ';' and '=' structure the properties field; escaping them everywhere
      // keeps one uniform codec (unescape's catch-all restores them)
      case ';' => sb.append("\\;")
      case '=' => sb.append("\\=")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** First index of `sep` not preceded by an escape backslash. */
  private def indexOfUnescaped(s: String, sep: Char, from: Int): Int = {
    var i = from
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') i += 2
      else if (c == sep) return i
      else i += 1
    }
    -1
  }

  /** Split on unescaped occurrences of `sep`. */
  private def splitUnescaped(s: String, sep: Char): Vector[String] = {
    val out = Vector.newBuilder[String]
    var start = 0
    var idx = indexOfUnescaped(s, sep, 0)
    while (idx >= 0) {
      out += s.substring(start, idx)
      start = idx + 1
      idx = indexOfUnescaped(s, sep, start)
    }
    out += s.substring(start)
    out.result()
  }

  private[source] def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => sb.append('\\')
          case 't' => sb.append('\t')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case other => sb.append(other)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private[source] def formatLine(m: Message): String = {
    val props = m.properties.toSeq.sorted
      .map { case (k, v) => s"${escape(k)}=${escape(v)}" }.mkString(";")
    s"${m.bornTs}\t${escape(m.key)}\t${escape(m.tag)}\t$props\t${escape(m.body)}"
  }

  private[source] def parseLine(line: String): Message = {
    val parts = line.split("\t", 5)
    val props =
      if (parts.length < 4 || parts(3).isEmpty) Map.empty[String, String]
      else splitUnescaped(parts(3), ';').iterator.filter(_.nonEmpty).map { kv =>
        val eq = indexOfUnescaped(kv, '=', 0)
        require(eq >= 0, s"malformed property entry: $kv")
        unescape(kv.substring(0, eq)) -> unescape(kv.substring(eq + 1))
      }.toMap
    Message(
      bornTs = parts(0).toLong,
      key = unescape(parts(1)),
      tag = unescape(parts(2)),
      properties = props,
      body = if (parts.length < 5) "" else unescape(parts(4)))
  }

  // ---- IO ----

  /** One message as its on-disk line (no terminator). */
  def renderLine(m: Message): String = formatLine(m)

  /** Append pre-rendered lines from a spill file to a queue log in one
    * channel transfer (the DSv2 writer's commit path). */
  def appendRendered(root: String, topic: String, queueId: Int,
                     spill: java.nio.file.Path): Unit = {
    val file = queueFile(root, topic, queueId)
    file.getParentFile.mkdirs()
    val out = new java.io.FileOutputStream(file, true)
    val in = new java.io.FileInputStream(spill.toFile)
    try in.getChannel.transferTo(0, Long.MaxValue, out.getChannel)
    finally { in.close(); out.close() }
  }

  /** Append messages to a queue log (single writer per queue). */
  def append(root: String, topic: String, queueId: Int, messages: Iterator[Message]): Long = {
    val file = queueFile(root, topic, queueId)
    file.getParentFile.mkdirs()
    val out = new BufferedWriter(new FileWriter(file, StandardCharsets.UTF_8, true))
    var n = 0L
    try messages.foreach { m => out.write(formatLine(m)); out.newLine(); n += 1 }
    finally out.close()
    n
  }

  /** Earliest available offset: always 0. A log is never trimmed at its
    * head (a ledger repair only cuts an uncommitted tail), so an offset is
    * a stable line number and a [[PositionIndex]] entry below the
    * committed end stays valid as the log grows. */
  def minOffset(root: String, topic: String, queueId: Int): Long = 0L

  /** Lines between two [[PositionIndex]] entries: a seek walks fewer. */
  private[graft] final val Stride = 1024

  /** A position in a queue log: line `line` starts at byte `byte`, and
    * `maxTs` is the largest bornTs of the lines before it (a line whose
    * bornTs does not parse counts as Long.MaxValue). */
  private[graft] final case class Mark(line: Long, byte: Long, maxTs: Long)

  private[source] val Start = Mark(0L, 0L, Long.MinValue)

  /**
   * Sparse in-memory position index of one queue log (the analog of a
   * broker's offset index, e.g. RocketMQ's ConsumeQueue): entry k is the
   * [[Mark]] of line k * [[Stride]], and `end` is the complete-line end the
   * last [[sizeInfo]] counted. Every [[LineCursor]] records each stride
   * boundary it passes, so a full walk (the first `sizeInfo` of a raw log,
   * or a cold read) builds the index, and later reads open at the entry
   * below their first offset instead of at line 0. A cursor only passes
   * complete lines below its stop, so no entry lies past a ledger mark or
   * in a torn tail.
   *
   * Derived data, never written to disk: a copy on disk would have
   * torn-write and staleness cases of its own, to save one walk per JVM
   * per log. It is dropped when the log is repaired
   * ([[EpochLedger.truncateQueue]] → [[invalidateCache]]) or deleted
   * ([[deleteTopic]]), when the file is shorter than `end`, when a cursor
   * opened at a mark finds no '\n' just before it, and when a cursor
   * reaches an entry's line at another byte.
   */
  private[graft] final class PositionIndex(key: String) {
    private var bytes = new Array[Long](16)
    private var maxTs = new Array[Long](16)
    private var n = 1 // entry 0 is Start
    maxTs(0) = Long.MinValue
    @volatile var end: Mark = Start

    private def entry(k: Long): Mark = Mark(k * Stride, bytes(k.toInt), maxTs(k.toInt))

    /** Where a read of lines from `from` opens: the last entry at or below it. */
    def seekPoint(from: Long): Mark = synchronized(entry(math.min(math.max(from, 0L) / Stride, n - 1L)))

    /** Where a search for the first bornTs >= ts below `stop` opens: the
      * last entry at or below `stop` whose earlier lines all have bornTs <
      * ts, found by binary search (maxTs never decreases along the log).
      * The answer lies in the stride after it, or past the last entry. */
    def searchPoint(ts: Long, stop: Long): Mark = synchronized {
      var lo = 0L
      var hi = math.min(stop / Stride, n - 1L)
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (maxTs(mid.toInt) < ts) lo = mid else hi = mid - 1
      }
      entry(lo)
    }

    /** A cursor reached line k * Stride at `byte`, `max` the bornTs maximum
      * below it: record the next entry, or drop the index if the entry
      * already there disagrees. */
    def pass(k: Long, byte: Long, max: Long): Unit = synchronized {
      if (k == n) {
        if (n == bytes.length) {
          bytes = java.util.Arrays.copyOf(bytes, n * 2)
          maxTs = java.util.Arrays.copyOf(maxTs, n * 2)
        }
        bytes(n) = byte; maxTs(n) = max; n += 1
      } else if (k < n && bytes(k.toInt) != byte) drop()
    }

    def entries: Seq[Mark] = synchronized((0 until n).map(k => entry(k.toLong)))

    def drop(): Unit = { positionIndexes.remove(key, this); () }
  }

  /** One [[PositionIndex]] per queue log, keyed by absolute path. */
  private val positionIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, PositionIndex]()

  private[graft] def indexOf(file: File): PositionIndex =
    positionIndexes.computeIfAbsent(file.getAbsolutePath, k => new PositionIndex(k))

  private[graft] def invalidateCache(file: File): Unit = {
    positionIndexes.remove(file.getAbsolutePath); ()
  }

  /** A cursor over lines [from, stop) opened at the index entry at or
    * below `from`: the one place a read chooses where to start. */
  private[source] def cursor(file: File, from: Long, stop: Long): LineCursor = {
    val index = indexOf(file)
    new LineCursor(file, from, stop, index, index.seekPoint(from))
  }

  /** One past the last offset. For a ledger-managed topic this is the
    * COMMITTED line count straight from [[EpochLedger]] — O(1), no scan,
    * and an uncommitted tail past the high-water mark is invisible (the
    * exactly-once reader boundary). Otherwise it is the count of COMPLETE
    * (newline-terminated) lines — a partial tail from a concurrent append
    * is not yet readable. */
  def maxOffset(root: String, topic: String, queueId: Int): Long =
    EpochLedger.read(root, topic) match {
      case Some(state) => state.committed(queueId)._1
      case None => sizeInfo(root, topic, queueId)._1
    }

  /** (complete lines, bytes up to the last newline) of a queue log: the
    * index's `end` plus a walk of the suffix appended since, which extends
    * the index. Append-only logs only grow, so without new bytes this is
    * one stat; a streaming latestOffset() tick never rereads the log. The
    * raw branch of [[maxOffset]], and what the first ledger-managed write
    * uses to ADOPT pre-existing raw content as committed instead of
    * shadowing it. */
  private[graft] def sizeInfo(root: String, topic: String, queueId: Int): (Long, Long) = {
    val file = queueFile(root, topic, queueId)
    val fileLen = file.length()
    val end = indexOf(file).end
    if (fileLen == end.byte) return (end.line, end.byte)
    // a shorter file means the log was deleted, recreated or cut: re-index
    if (fileLen < end.byte) invalidateCache(file)
    val index = indexOf(file)
    val c = new LineCursor(file, 0L, Long.MaxValue, index, index.end)
    try {
      while (c.advance()) {}
      c.index.end = c.mark
      (c.next, c.nextByte)
    } finally c.close()
  }

  /** First offset whose bornTs >= ts; maxOffset if none — the answer of a
    * linear scan, also when bornTs is out of order, found from the
    * index's bornTs maxima and a scan of at most one stride past the last
    * entry below it. The scan stops at maxOffset, so it never reads past
    * a ledgered topic's committed high-water mark or into a torn tail
    * line, and an endTimeMs-bounded read using this as its stop offset
    * cannot expose either. */
  def searchOffset(root: String, topic: String, queueId: Int, ts: Long): Long = {
    val stop = maxOffset(root, topic, queueId)
    val file = queueFile(root, topic, queueId)
    val index = indexOf(file)
    val c = new LineCursor(file, 0L, stop, index, index.searchPoint(ts, stop))
    try {
      while (c.advance()) if (c.bornTs() >= ts) return c.offset
      stop
    } finally c.close()
  }

  /** Index of the first '\n' in buf[from, until), or -1: the one newline
    * scan of every queue-log read. Its own small method so the JIT keeps
    * it a tight loop: offset checks inside it made a skip several times slower. */
  private def indexOfNewline(buf: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until) {
      if (buf(i) == '\n') return i
      i += 1
    }
    -1
  }

  /** Forward cursor over the complete lines of one queue log, opened at a
    * [[Mark]] of its [[PositionIndex]] at or below `from`. Line ends are
    * found in raw bytes and a line is decoded only when asked ([[bornTs]]
    * or [[message]]), so a skipped line costs a newline search and a
    * bornTs parse, not a UTF-8 decode. [[advance]]
    * yields only lines with `from <= offset < stop` (`stop`: the caller's
    * ledger mark or complete-line count), never an unterminated tail, and
    * records every stride boundary it passes in the index. A cursor opened
    * past byte 0 first checks that the byte before its mark is '\n'; if
    * not, the log changed under the index, which is dropped, and the
    * cursor restarts at line 0. A missing file reads as empty. */
  private[source] final class LineCursor(file: File, from: Long, private var stop: Long,
      private[source] var index: PositionIndex, at: Mark) extends AutoCloseable {
    private var ch: FileChannel = null
    private var buf = new Array[Byte](64 * 1024)
    private var pos = 0 // start of the next unconsumed line in buf
    private var lim = 0 // end of the bytes read into buf
    private var scanned = 0 // buf[pos, scanned) holds no newline
    private var lineStart = 0
    private var lineEnd = 0

    private var openLine = at.line
    private var nextLine = at.line
    private var nextPos = at.byte
    private var maxTs = at.maxTs // bornTs maximum of the lines before nextLine
    /** Offset and byte position of the next line to consume. */
    def next: Long = nextLine
    def nextByte: Long = nextPos
    /** The position of the next line to consume, as an index mark. */
    def mark: Mark = Mark(nextLine, nextPos, maxTs)

    /** Offset of the line the last successful [[advance]] yielded. */
    def offset: Long = nextLine - 1

    /** Lines consumed undecoded below `from`: the seek cost of this read. */
    def linesSkipped: Long = math.max(0L, math.min(nextLine, from) - openLine)

    /** Move to the next complete line in [from, stop); false when there
      * is none (yet). Lines below `from` are consumed undecoded. */
    def advance(): Boolean = {
      if (from >= stop) return false // empty range: skip nothing
      while (nextLine < stop) {
        var nl = indexOfNewline(buf, scanned, lim)
        while (nl < 0) {
          scanned = lim
          if (!fill()) return false
          nl = indexOfNewline(buf, scanned, lim)
        }
        lineStart = pos; lineEnd = nl
        pos = nl + 1; scanned = pos
        maxTs = math.max(maxTs, indexedBornTs())
        nextLine += 1; nextPos += pos - lineStart
        if (nextLine % Stride == 0) index.pass(nextLine / Stride, nextPos, maxTs)
        if (nextLine > from) return true
      }
      false
    }

    /** Read more of the file after buf(lim), first moving the unconsumed
      * bytes to the front (and doubling buf when one line fills it);
      * false at end of file. */
    private def fill(): Boolean = {
      if (ch == null) {
        if (!file.exists()) return false
        ch = FileChannel.open(file.toPath, StandardOpenOption.READ)
        if (nextPos > 0 && !followsNewline(nextPos)) {
          index.drop()
          index = indexOf(file)
          openLine = 0L; nextLine = 0L; nextPos = 0L; maxTs = Long.MinValue
        }
        ch.position(nextPos)
      }
      if (pos > 0) {
        System.arraycopy(buf, pos, buf, 0, lim - pos)
        lim -= pos; scanned -= pos; pos = 0
      }
      if (lim == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      val n = ch.read(ByteBuffer.wrap(buf, lim, buf.length - lim))
      if (n > 0) lim += n
      n > 0
    }

    /** Whether the byte before `byte` is a line end: the one read that
      * checks an index mark still fits the file. */
    private def followsNewline(byte: Long): Boolean = {
      val one = ByteBuffer.allocate(1)
      ch.read(one, byte - 1) == 1 && one.get(0) == '\n'
    }

    /** Raise the stop line to follow a growing log; false if `newStop`
      * is not past it. Read-ahead past the next line is dropped and
      * re-read: bytes beyond a ledger mark may have been rewritten by a
      * repair since they were buffered. */
    def extendTo(newStop: Long): Boolean = newStop > stop && {
      stop = newStop
      lim = pos; scanned = pos
      if (ch != null) ch.position(nextPos)
      true
    }

    /** The bornTs prefix of the current line. */
    def bornTs(): Long = {
      var end = lineStart
      while (end < lineEnd && buf(end) != '\t') end += 1
      java.lang.Long.parseLong(new String(buf, lineStart, end - lineStart, StandardCharsets.US_ASCII))
    }

    /** The current line's bornTs as the index folds it: Long.MaxValue when
      * it does not parse, so a search lands in that line's stride and its
      * strict [[bornTs]] fails there, as a linear scan would. */
    private def indexedBornTs(): Long =
      try bornTs() catch { case _: NumberFormatException => Long.MaxValue }

    /** The current line, fully decoded. */
    def message(): Message =
      parseLine(new String(buf, lineStart, lineEnd - lineStart, StandardCharsets.UTF_8))

    override def close(): Unit = if (ch != null) { ch.close(); ch = null }
  }

  /** Iterator over a queue range that can be closed before exhaustion
    * (a LIMITed scan stops early; the reader must not leak the handle).
    * It opens at the index entry at or below `startOffset`; the lines
    * between are skipped by bytes, and only the range is decoded. */
  final class RangeIterator(file: File, startOffset: Long, stopOffset: Long)
      extends Iterator[(Long, Message)] with AutoCloseable {
    private val cursor = TopicLog.cursor(file, startOffset, stopOffset)
    private def step(): Boolean = cursor.advance() || { cursor.close(); false }
    private var ready = step()
    /** Lines walked undecoded below `startOffset`. */
    def linesSkipped: Long = cursor.linesSkipped
    override def hasNext: Boolean = ready
    override def next(): (Long, Message) = {
      if (!ready) throw new NoSuchElementException("end of queue range")
      val out = (cursor.offset, cursor.message())
      ready = step()
      out
    }
    override def close(): Unit = { ready = false; cursor.close() }
  }

  /** Read messages with offsets in [startOffset, stopOffset). */
  def readRange(root: String, topic: String, queueId: Int,
                startOffset: Long, stopOffset: Long): RangeIterator =
    new RangeIterator(queueFile(root, topic, queueId), startOffset, stopOffset)

  /** Recursively delete a topic dir (test/bench helper). */
  def deleteTopic(root: String, topic: String): Unit = {
    val dir = Paths.get(root, topic)
    graft.util.Fs.deleteRecursively(dir)
    // drop the deleted logs' indexes — a recreated log of exactly the
    // indexed byte length would otherwise reuse a stale end and marks
    val prefix = dir.toAbsolutePath.toString + File.separator
    positionIndexes.keySet().removeIf(k => k.startsWith(prefix))
  }
}
