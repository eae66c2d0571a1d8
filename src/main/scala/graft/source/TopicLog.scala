package graft.source

import java.io.File
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Paths, StandardOpenOption}

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

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
 * Wire format, in bytes: one line per message, `bornTs \t key \t tag \t
 * k=v;k=v \t body \n`. bornTs is the decimal text of epoch ms; the other
 * fields are UTF-8 with six bytes escaped by a backslash: `\\`, tab (`\t`),
 * newline (`\n`), CR (`\r`), `\;` and `\=` (the last two structure the
 * properties field). All six are ASCII, so none occurs inside a multi-byte
 * UTF-8 sequence: escaping a field's bytes is escaping its characters, and
 * the tabs and newlines that structure a line are found in the raw bytes.
 * Properties are sorted by key as Strings (UTF-16 order). [[LineWriter]] is
 * the one encoder and [[Fields]] the one decoder; a field with no
 * backslash and valid UTF-8 is read as its stored bytes. Append-only; one
 * writer per queue (MQ semantics).
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

  // ---- the wire codec, in bytes ----

  /** Field numbers of a line: `bornTs \t key \t tag \t properties \t body`. */
  final val BornTs = 0
  final val Key = 1
  final val Tag = 2
  final val Properties = 3
  final val Body = 4

  /** The letter that follows the backslash for each of the six escaped
    * bytes, 0 for every other byte. */
  private val EscapeLetter: Array[Byte] = {
    val a = new Array[Byte](256)
    Seq('\\' -> '\\', '\t' -> 't', '\n' -> 'n', '\r' -> 'r', ';' -> ';', '=' -> '=')
      .foreach { case (b, letter) => a(b.toInt) = letter.toByte }
    a
  }

  /** Bytes a [[LineWriter]] buffers before it hands them on. */
  private final val FlushBytes = 64 * 1024

  /**
   * The one encoder of the wire format. It renders queue lines into a byte
   * buffer and hands the buffer to `out` about every [[FlushBytes]] bytes.
   * A caller writes a line's fields with [[ascii]], [[tab]] and the
   * `escaped` forms ([[message]] writes all five of a [[Message]]), then
   * ends the line with [[endLine]]. It counts the lines and the bytes it
   * took, newlines included.
   */
  final class LineWriter(out: java.io.OutputStream) extends AutoCloseable {
    private var buf = new Array[Byte](8192)
    private var len = 0
    private var flushed = 0L
    private var n = 0L
    def lines: Long = n
    def bytes: Long = flushed + len

    private def room(k: Int): Unit =
      if (len + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + k))

    def tab(): Unit = { room(1); buf(len) = '\t'; len += 1 }

    /** `s` as is: text that is ASCII with none of the escaped bytes (a
      * number's or a date's text). */
    def ascii(s: String): Unit = {
      room(s.length)
      var i = 0
      while (i < s.length) { buf(len) = s.charAt(i).toByte; len += 1; i += 1 }
    }

    /** `s`'s UTF-8 bytes, escaped. */
    def escaped(s: String): Unit = escaped(s.getBytes(StandardCharsets.UTF_8))

    /** `utf8`, valid UTF-8 (a String's encoding), escaped. */
    def escaped(utf8: Array[Byte]): Unit = { escapedBytes(utf8, Platform.BYTE_ARRAY_OFFSET, utf8.length); () }

    /** `s`'s bytes, escaped; bytes that are not valid UTF-8 are written as
      * `s.toString` encodes them (U+FFFD). */
    def escaped(s: UTF8String): Unit = {
      val start = len
      if (escapedBytes(s.getBaseObject, s.getBaseOffset, s.numBytes) && !s.isValid) {
        len = start
        escaped(s.toString)
      }
    }

    /** Writes the `count` bytes at `base` + `offset` with each escaped byte
      * as a backslash and its letter; true when one of them is not ASCII. */
    private def escapedBytes(base: AnyRef, offset: Long, count: Int): Boolean = {
      room(2 * count)
      val out = buf
      var o = len
      var high = 0
      var i = 0
      while (i < count) {
        val b = Platform.getByte(base, offset + i)
        val letter = EscapeLetter(b & 0xff)
        if (letter == 0) { out(o) = b; o += 1 }
        else { out(o) = '\\'; out(o + 1) = letter; o += 2 }
        high |= b
        i += 1
      }
      len = o
      high < 0
    }

    /** A properties field: `key=value` pairs sorted as Strings (UTF-16
      * order), joined by ';'. */
    def properties(props: Map[String, String]): Unit =
      props.toSeq.sorted.iterator.zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) ascii(";")
        escaped(k); ascii("="); escaped(v)
      }

    /** The five fields of `m` (no terminator). */
    def message(m: Message): Unit = {
      ascii(m.bornTs.toString); tab()
      escaped(m.key); tab()
      escaped(m.tag); tab()
      properties(m.properties); tab()
      escaped(m.body)
    }

    /** Where the next byte of the current line goes: with [[wroteOnly]] and
      * [[rewind]], how a renderer takes back a field it wrote. */
    private[graft] def position: Int = len
    private[graft] def wroteOnly(from: Int, b: Char): Boolean = len == from + 1 && buf(from) == b
    private[graft] def rewind(to: Int): Unit = len = to

    def endLine(): Unit = {
      room(1); buf(len) = '\n'; len += 1; n += 1
      if (len >= FlushBytes) flush()
    }

    private def flush(): Unit = if (len > 0) { out.write(buf, 0, len); flushed += len; len = 0 }

    override def close(): Unit = try flush() finally out.close()
  }

  /** Whether buf[from, until) is well-formed UTF-8: exactly the byte
    * sequences Java's UTF-8 decoder takes without a replacement. */
  private def validUtf8(buf: Array[Byte], from: Int, until: Int): Boolean =
    UTF8String.fromBytes(buf, from, until - from).isValid

  /** buf[from, until) as a String decode and encode leave it: invalid
    * UTF-8 becomes U+FFFD. */
  private def replaced(buf: Array[Byte], from: Int, until: Int): Array[Byte] =
    new String(buf, from, until - from, StandardCharsets.UTF_8).getBytes(StandardCharsets.UTF_8)

  private final val Ones = 0x0101010101010101L
  private final val Highs = 0x8080808080808080L
  private final val Backslashes = 0x5c5c5c5c5c5c5c5cL

  /** Index of the first backslash or non-ASCII byte in buf[from, until),
    * or `until`: eight bytes a step while a word holds neither. */
  private def plainUntil(buf: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    var plain = true
    while (plain && i + 8 <= until) {
      val w = Platform.getLong(buf, Platform.BYTE_ARRAY_OFFSET + i)
      val x = w ^ Backslashes // a zero byte where w holds a backslash
      plain = ((w | ((x - Ones) & ~x)) & Highs) == 0
      if (plain) i += 8
    }
    while (i < until && buf(i) >= 0 && buf(i) != '\\') i += 1
    i
  }

  /** The decoded bytes of a field stored as buf[from, until), or null when
    * they are the stored bytes (no backslash, valid UTF-8: one scan).
    * Otherwise invalid UTF-8 becomes U+FFFD first, as a String decode of
    * the stored bytes does, and then the escapes are undone: a backslash
    * and the byte after it become that byte, with t, n and r read as tab,
    * newline and CR, and a trailing lone backslash stays. */
  private def decoded(buf: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val first = plainUntil(buf, from, until)
    if (first == until) return null
    if (validUtf8(buf, first, until)) {
      var j = first
      while (j < until && buf(j) != '\\') j += 1
      if (j == until) null else unescape(buf, from, until)
    } else {
      val fixed = replaced(buf, from, until)
      unescape(fixed, 0, fixed.length)
    }
  }

  private def unescape(src: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new Array[Byte](until - from)
    var o = 0
    var i = from
    while (i < until) {
      val b = src(i)
      if (b == '\\' && i + 1 < until) {
        out(o) = src(i + 1) match {
          case 't' => '\t'
          case 'n' => '\n'
          case 'r' => '\r'
          case other => other
        }
        i += 2
      } else { out(o) = b; i += 1 }
      o += 1
    }
    java.util.Arrays.copyOf(out, o)
  }

  /** Index of the first `sep` in a[from, until) not escaped by a
    * backslash, or `until`. */
  private def indexOfUnescaped(a: Array[Byte], sep: Char, from: Int, until: Int): Int = {
    var i = from
    while (i < until) {
      val b = a(i)
      if (b == '\\') i += 2
      else if (b == sep) return i
      else i += 1
    }
    until
  }

  private def text(a: Array[Byte], from: Int, until: Int): String = {
    val d = decoded(a, from, until)
    if (d == null) new String(a, from, until - from, StandardCharsets.UTF_8)
    else new String(d, StandardCharsets.UTF_8)
  }

  /** `Long.parseLong` of the ASCII text in buf[from, until): the same
    * values, and a NumberFormatException for the same inputs once a
    * non-ASCII byte counts as a non-digit (a US-ASCII decode first). */
  private def parseLong(buf: Array[Byte], from: Int, until: Int): Long = {
    def fail(): Nothing = throw new NumberFormatException(
      "For input string: \"" + new String(buf, from, until - from, StandardCharsets.US_ASCII) + "\"")
    var i = from
    var negative = false
    var limit = -Long.MaxValue
    if (i >= until) fail()
    val first = buf(i)
    if (first < '0') {
      if (first == '-') { negative = true; limit = Long.MinValue }
      else if (first != '+') fail()
      i += 1
      if (i == until) fail()
    }
    val multmin = limit / 10
    var result = 0L
    while (i < until) {
      val d = buf(i) - '0'
      if (d < 0 || d > 9 || result < multmin) fail()
      result *= 10
      if (result < limit + d) fail()
      result -= d
      i += 1
    }
    if (negative) result else -result
  }

  /**
   * The five fields of one line in a byte buffer, found by its four tab
   * separators, and their decoders. A field is decoded only when asked,
   * and one with no backslash and valid UTF-8 is its stored bytes. Invalid
   * UTF-8 reads as U+FFFD, as a String decode of the line does. A line
   * with fewer than three fields is malformed; absent properties and body
   * are empty, and the body runs to the line end.
   */
  final class Fields private[source] () {
    private var buf: Array[Byte] = _
    private val from = new Array[Int](5)
    private val until = new Array[Int](5)

    private[source] def split(bytes: Array[Byte], start: Int, end: Int): Fields = {
      buf = bytes
      var i = start
      var f = 0
      while (f < Body) {
        from(f) = i
        while (i < end && bytes(i) != '\t') i += 1
        until(f) = i
        if (i < end) i += 1
        else if (f < Tag) throw new IllegalArgumentException(
          "malformed queue line (fewer than three fields): " +
            new String(bytes, start, end - start, StandardCharsets.UTF_8))
        f += 1
      }
      from(Body) = i; until(Body) = end
      this
    }

    /** Field `f` decoded, as a UTF8String over the stored bytes when they
      * need no decoding. */
    def utf8(f: Int): UTF8String = {
      val d = decoded(buf, from(f), until(f))
      if (d == null) UTF8String.fromBytes(buf, from(f), until(f) - from(f)) else UTF8String.fromBytes(d)
    }

    def string(f: Int): String = text(buf, from(f), until(f))

    /** The byte length of field `f` decoded. */
    def decodedLength(f: Int): Int = {
      val d = decoded(buf, from(f), until(f))
      if (d == null) until(f) - from(f) else d.length
    }

    /** Whether field `f` decodes to one of `values` (UTF-8 bytes). */
    def isOneOf(f: Int, values: Array[Array[Byte]]): Boolean = {
      val d = decoded(buf, from(f), until(f))
      var k = 0
      while (k < values.length) {
        val v = values(k)
        if (if (d == null) java.util.Arrays.equals(buf, from(f), until(f), v, 0, v.length)
            else java.util.Arrays.equals(d, v)) return true
        k += 1
      }
      false
    }

    /** The bornTs field as `Long.parseLong` of its text. */
    def bornTs(): Long =
      try parseLong(buf, from(BornTs), until(BornTs))
      catch {
        case _: NumberFormatException => java.lang.Long.parseLong(
          new String(buf, from(BornTs), until(BornTs) - from(BornTs), StandardCharsets.UTF_8))
      }

    /** The properties field: entries split on unescaped ';' (empty ones
      * skipped), each split at its first unescaped '='; a later duplicate
      * key wins. */
    def properties(): Map[String, String] = {
      val s = from(Properties)
      val e = until(Properties)
      if (s == e) return Map.empty
      val (a, as, ae) =
        if (validUtf8(buf, s, e)) (buf, s, e)
        else { val fixed = replaced(buf, s, e); (fixed, 0, fixed.length) }
      val out = Map.newBuilder[String, String]
      var i = as
      while (i < ae) {
        val j = indexOfUnescaped(a, ';', i, ae)
        if (j > i) {
          val eq = indexOfUnescaped(a, '=', i, j)
          require(eq < j,
            s"malformed property entry: ${new String(a, i, j - i, StandardCharsets.UTF_8)}")
          out += text(a, i, eq) -> text(a, eq + 1, j)
        }
        i = j + 1
      }
      out.result()
    }

    def message(): Message =
      Message(bornTs(), string(Key), string(Tag), properties(), string(Body))
  }

  /** One line (its trailing newline, if any, ignored) decoded. */
  def decode(line: Array[Byte]): Message = {
    val end = if (line.nonEmpty && line.last == '\n') line.length - 1 else line.length
    new Fields().split(line, 0, end).message()
  }

  // ---- IO ----

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
    val out = new LineWriter(new java.io.FileOutputStream(file, true))
    try messages.foreach { m => out.message(m); out.endLine() }
    finally out.close()
    out.lines
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
    * found in raw bytes and a line is decoded only when asked ([[bornTs]],
    * [[fields]] or [[message]]), so a skipped line costs a newline search
    * and a bornTs parse, not a UTF-8 decode. [[advance]]
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

    /** The bornTs prefix of the current line, parsed from its ASCII bytes. */
    def bornTs(): Long = {
      var end = lineStart
      while (end < lineEnd && buf(end) != '\t') end += 1
      parseLong(buf, lineStart, end)
    }

    /** The current line's bornTs as the index folds it: Long.MaxValue when
      * it does not parse, so a search lands in that line's stride and its
      * strict [[bornTs]] fails there, as a linear scan would. */
    private def indexedBornTs(): Long =
      try bornTs() catch { case _: NumberFormatException => Long.MaxValue }

    private val line = new Fields
    private var splitAt = -1L

    /** The current line's field bounds, found on the first ask per line. */
    def fields(): Fields = {
      if (splitAt != nextLine) { line.split(buf, lineStart, lineEnd); splitAt = nextLine }
      line
    }

    /** The current line, fully decoded. */
    def message(): Message = fields().message()

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
