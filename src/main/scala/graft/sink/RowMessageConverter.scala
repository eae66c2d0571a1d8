package graft.sink

import java.nio.charset.StandardCharsets.UTF_8

import graft.config.GraftOptions
import graft.source.TopicLog
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/**
 * The one row encoder: the DSv2 batch, micro-batch and continuous writers
 * all call [[render]], which writes a row of Spark SQL's binary format as
 * one queue line, in escaped UTF-8 bytes, straight into a
 * [[TopicLog.LineWriter]]: no `Message` and no String round trip. It is
 * built from the `graft-mq` options alone, on the driver, so a schema it
 * cannot write fails before any task runs. One rule set, decided per column
 * when the converter is built:
 *  - Message-shaped input (every column is one of the source's own
 *    columns, case-insensitively, there is a string `body`, and none of
 *    `keyColumns`, `dynamicTagColumn`, `writeKeysToBody` is given) maps by
 *    role: body, msg_key → key, tag, properties, born_ts → born time;
 *    topic/queue_id/offset are ignored. So reading a queue and writing the
 *    rows back (`INSERT INTO <graft-mq table> SELECT … AS body, …`) writes
 *    the same messages; positional `INSERT … VALUES` arrives as col1..colN
 *    and takes the delimited path. A body-shaping option turns the mapping
 *    off, so a delimited-body pipeline never changes format silently. The
 *    `properties` map column is the only source of message properties.
 *  - Otherwise the body joins every column on `fieldDelimiter` except the
 *    metadata ones (reference: sink/table/RocketMQRowDataConverter.java:50-160):
 *    key columns (comma-joined into the key) unless `writeKeysToBody`, the
 *    dynamic tag column unless `dynamicTagColumnWriteIncluded`, and the
 *    born column (`born_ts`, a timestamp).
 *  - A dynamic tag is on exactly when `dynamicTagColumn` is set; a `*` tag
 *    is written as no tag. Born time is the born column, else the write
 *    time, plus the `msgDelayLevel` delay.
 *  - Values: null → ""; string → its bytes (invalid UTF-8 as U+FFFD, as
 *    its String has it); timestamp (with or without time zone) → epoch ms,
 *    `Math.floorDiv` of the micros; date → ISO (2024-01-02); binary → its
 *    UTF-8 text; numbers and booleans → `toString` (decimal 0.0000001 →
 *    1E-7). A rendered column of any other type (array, map, struct, …)
 *    fails construction, naming the column: a body field is
 *    delimiter-joined text, and a nested value has no delimiter-safe form.
 */
class RowMessageConverter(opts: GraftOptions, schema: StructType) extends Serializable {
  import RowMessageConverter.{Comma, Render}

  private val messageShaped =
    opts.keyColumns.isEmpty && opts.dynamicTagColumn.isEmpty && !opts.writeKeysToBody &&
      schema.fieldNames.forall(f =>
        graft.source.MessageQueueTable.Schema.fieldNames.contains(f.toLowerCase)) &&
      schema.exists(f => f.name.equalsIgnoreCase("body") && f.dataType.isInstanceOf[StringType])
  private def role(name: String): Int =
    if (messageShaped) schema.fields.indexWhere(_.name.equalsIgnoreCase(name)) else -1

  private val keyIdx: Array[Int] =
    if (messageShaped) Array(role("msg_key")).filter(_ >= 0)
    else opts.keyColumns.map(schema.fieldIndex).toArray
  private val tagIdx = opts.dynamicTagColumn.map(schema.fieldIndex).getOrElse(role("tag"))
  private val propMapIdx = role("properties")
  private val bornIdx = {
    val named = schema.fields.indexWhere(f => f.name == "born_ts" && f.dataType == TimestampType)
    if (named >= 0) named else role("born_ts")
  }
  private val bodyIdx: Array[Int] =
    if (messageShaped) Array(role("body"))
    else schema.indices.filterNot((if (opts.writeKeysToBody) Set.empty[Int] else keyIdx.toSet) ++
      Seq(bornIdx) ++ (if (opts.dynamicTagColumnWriteIncluded) Nil else Seq(tagIdx))).toArray
  private val fixedTag = (if (opts.tag == "*") "" else opts.tag).getBytes(UTF_8)
  private val delimiter = opts.fieldDelimiter.getBytes(UTF_8)
  private val delayMs = GraftOptions.delayMs(opts.msgDelayLevel)

  private val renderers: Array[Render] = {
    val rendered = (keyIdx ++ bodyIdx :+ tagIdx).toSet
    Array.tabulate(schema.length)(i => if (rendered(i)) renderer(schema(i)) else null)
  }
  private def renderer(f: StructField): Render = f.dataType match {
    case _: StringType => (r, i, out) => out.escaped(r.getUTF8String(i))
    case TimestampType | TimestampNTZType =>
      (r, i, out) => out.ascii(Math.floorDiv(r.getLong(i), 1000L).toString)
    case DateType => (r, i, out) => out.ascii(java.time.LocalDate.ofEpochDay(r.getInt(i).toLong).toString)
    case BinaryType => (r, i, out) => out.escaped(new String(r.getBinary(i), UTF_8))
    case dt @ (_: NumericType | BooleanType) => (r, i, out) => out.ascii(r.get(i, dt).toString)
    case NullType => (_, _, _) => ()
    case dt => throw new IllegalArgumentException(s"column ${f.name} of type " +
      s"${dt.simpleString} has no delimiter-safe text form to write into a message")
  }
  if (bornIdx >= 0) schema(bornIdx).dataType match {
    case TimestampType | TimestampNTZType =>
    case dt => throw new IllegalArgumentException(s"born column ${schema(bornIdx).name} " +
      s"must be a timestamp, not ${dt.simpleString}")
  }

  private def value(row: InternalRow, i: Int, out: TopicLog.LineWriter): Unit =
    if (!row.isNullAt(i)) renderers(i)(row, i, out)
  private def joined(row: InternalRow, idx: Array[Int], sep: Array[Byte],
      out: TopicLog.LineWriter): Unit = {
    var k = 0
    while (k < idx.length) {
      if (k > 0) out.escaped(sep)
      value(row, idx(k), out)
      k += 1
    }
  }

  private def properties(row: InternalRow, out: TopicLog.LineWriter): Unit =
    if (propMapIdx >= 0 && !row.isNullAt(propMapIdx)) {
      val m = row.getMap(propMapIdx)
      val ks = m.keyArray(); val vs = m.valueArray()
      // map values are nullable in SQL; a property is never null
      out.properties((0 until m.numElements()).map(i => ks.getUTF8String(i).toString ->
        (if (vs.isNullAt(i)) "" else vs.getUTF8String(i).toString)).toMap)
    }

  /** Writes `row` as one queue line into `out`, with no terminator.
    * `bornTs` is the born time when no born column gives one. */
  def render(row: InternalRow, out: TopicLog.LineWriter,
      bornTs: Long = System.currentTimeMillis()): Unit = {
    val born =
      if (bornIdx < 0 || row.isNullAt(bornIdx)) bornTs
      else Math.floorDiv(row.getLong(bornIdx), 1000L)
    out.ascii((born + delayMs).toString); out.tab()
    joined(row, keyIdx, Comma, out); out.tab()
    val tagAt = out.position
    if (tagIdx >= 0) value(row, tagIdx, out) else out.escaped(fixedTag)
    if (out.wroteOnly(tagAt, '*')) out.rewind(tagAt)
    out.tab()
    properties(row, out); out.tab()
    joined(row, bodyIdx, delimiter, out)
  }
}

object RowMessageConverter {
  /** Writes one column's text, escaped, chosen by its type when the
    * converter is built. */
  private trait Render extends Serializable {
    def apply(row: InternalRow, i: Int, out: TopicLog.LineWriter): Unit
  }

  private val Comma = Array[Byte](',')
}
