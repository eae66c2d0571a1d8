package graft.source

import java.nio.charset.StandardCharsets

/**
 * The String line codec that the byte codec ([[TopicLog.LineWriter]],
 * [[TopicLog.Fields]]) replaced, kept in the test tree as the reference the
 * wire-format tests compare against: a line is decoded from UTF-8 as a
 * whole, split on tabs, and each field unescaped character by character.
 */
object StringLineCodec {

  def escape(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
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

  def unescape(s: String): String = {
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

  def formatLine(m: Message): String = {
    val props = m.properties.toSeq.sorted
      .map { case (k, v) => s"${escape(k)}=${escape(v)}" }.mkString(";")
    s"${m.bornTs}\t${escape(m.key)}\t${escape(m.tag)}\t$props\t${escape(m.body)}"
  }

  /** The UTF-8 bytes of [[formatLine]]: what the String codec wrote. */
  def formatBytes(m: Message): Array[Byte] = formatLine(m).getBytes(StandardCharsets.UTF_8)

  def parseLine(line: String): Message = {
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

  /** [[parseLine]] of a line's bytes, decoded as the String codec read them. */
  def parseBytes(line: Array[Byte]): Message =
    parseLine(new String(line, StandardCharsets.UTF_8))

  /** The byte codec's line for `m`, with no terminator. */
  def encode(m: Message): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream
    val out = new TopicLog.LineWriter(bytes)
    out.message(m)
    out.close()
    bytes.toByteArray
  }
}
