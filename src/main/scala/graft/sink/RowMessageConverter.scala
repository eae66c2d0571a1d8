package graft.sink

import java.nio.charset.StandardCharsets.UTF_8

import graft.config.GraftOptions
import graft.source.{Message, TopicLog}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/**
 * The one row encoder: `MessageQueueSink.write`, `foreachBatch` and the
 * DSv2 batch, micro-batch and continuous writers all call [[render]], which
 * writes a row of Spark SQL's binary format as one queue line, in escaped
 * UTF-8 bytes, straight into a [[TopicLog.LineWriter]]: no [[Message]] and
 * no String round trip. One rule set, decided per column when the
 * converter is built:
 *  - Message-shaped input (every column is one of the source's own
 *    columns, case-insensitively, there is a string `body`, and no key,
 *    dynamic tag or property columns nor `writeKeysToBody` are given) maps
 *    by role: body, msg_key → key, tag, properties, born_ts → born time;
 *    topic/queue_id/offset are ignored. So reading a queue and writing the
 *    rows back (`INSERT INTO <graft-mq table> SELECT … AS body, …`) writes
 *    the same messages; positional `INSERT … VALUES` arrives as col1..colN
 *    and takes the delimited path. A body-shaping setting turns the mapping
 *    off, so a delimited-body pipeline never changes format silently.
 *  - Otherwise the body joins every column on `fieldDelimiter` except the
 *    metadata ones (reference: sink/table/RocketMQRowDataConverter.java:50-160):
 *    key columns (comma-joined into the key) unless `writeKeysToBody`, the
 *    dynamic tag column unless `dynamicTagIncluded`, property columns and
 *    the born column.
 *  - A dynamic tag is on exactly when `dynamicTagColumn` is set; a `*` tag
 *    is written as no tag. Born time is the born column (timestamp, or long
 *    epoch ms), else the write time, plus `delayMs`.
 *  - Values: null → ""; string → its bytes (invalid UTF-8 as U+FFFD, as
 *    its String has it); timestamp (with or without time zone) → epoch ms,
 *    `Math.floorDiv` of the micros; date → ISO (2024-01-02); binary → its
 *    UTF-8 text; numbers and booleans → `toString` (decimal 0.0000001 →
 *    1E-7). A rendered column of any other type (array, map, struct, …)
 *    fails construction, naming the column: a body field is
 *    delimiter-joined text, and a nested value has no delimiter-safe form.
 */
class RowMessageConverter(
    schema: StructType,
    staticTag: String = "",
    fieldDelimiter: String = graft.serde.Delimiters.Soh,
    keyColumns: Seq[String] = Nil,
    dynamicTagColumn: Option[String] = None,
    dynamicTagIncluded: Boolean = true,
    writeKeysToBody: Boolean = false,
    propertyColumns: Seq[String] = Nil,
    bornTsColumn: Option[String] = None,
    delayMs: Long = 0L) extends Serializable {
  import RowMessageConverter.{Comma, Render}

  private val messageShaped =
    keyColumns.isEmpty && dynamicTagColumn.isEmpty && propertyColumns.isEmpty &&
      !writeKeysToBody && schema.fieldNames.forall(f =>
        graft.source.MessageQueueTable.Schema.fieldNames.contains(f.toLowerCase)) &&
      schema.exists(f => f.name.equalsIgnoreCase("body") && f.dataType.isInstanceOf[StringType])
  private def role(name: String): Int =
    if (messageShaped) schema.fields.indexWhere(_.name.equalsIgnoreCase(name)) else -1

  private val keyIdx: Array[Int] =
    if (messageShaped) Array(role("msg_key")).filter(_ >= 0)
    else keyColumns.map(schema.fieldIndex).toArray
  private val tagIdx = dynamicTagColumn.map(schema.fieldIndex).getOrElse(role("tag"))
  private val propIdx: Array[Int] = propertyColumns.map(schema.fieldIndex).toArray
  private val propMapIdx = role("properties")
  private val bornIdx = bornTsColumn.map(schema.fieldIndex).getOrElse(role("born_ts"))
  private val bodyIdx: Array[Int] =
    if (messageShaped) Array(role("body"))
    else schema.indices.filterNot((if (writeKeysToBody) Set.empty[Int] else keyIdx.toSet) ++
      Seq(bornIdx) ++ propIdx ++ (if (dynamicTagIncluded) Nil else Seq(tagIdx))).toArray
  private val fixedTag = (if (staticTag == "*") "" else staticTag).getBytes(UTF_8)
  private val delimiter = fieldDelimiter.getBytes(UTF_8)
  // property columns once each, in the order their names sort as Strings
  private val propOrder: Array[Int] = propIdx.distinct.sortBy(schema(_).name)

  private val renderers: Array[Render] = {
    val rendered = (keyIdx ++ propIdx ++ bodyIdx :+ tagIdx).toSet
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
  private val bornInMicros = bornIdx >= 0 && (schema(bornIdx).dataType match {
    case TimestampType | TimestampNTZType => true
    case LongType => false
    case dt => throw new IllegalArgumentException(s"born column ${schema(bornIdx).name} " +
      s"must be a timestamp or a long of epoch ms, not ${dt.simpleString}")
  })

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
    } else {
      var k = 0
      while (k < propOrder.length) {
        if (k > 0) out.ascii(";")
        out.escaped(schema(propOrder(k)).name); out.ascii("="); value(row, propOrder(k), out)
        k += 1
      }
    }

  /** Writes `row` as one queue line into `out`, with no terminator. `tag`
    * stands in for an empty tag: the selector's tag on `write` and
    * `foreachBatch`. `bornTs` is the born time when no born column gives one. */
  def render(row: InternalRow, out: TopicLog.LineWriter, tag: String = "",
      bornTs: Long = System.currentTimeMillis()): Unit = {
    val born =
      if (bornIdx < 0 || row.isNullAt(bornIdx)) bornTs
      else if (bornInMicros) Math.floorDiv(row.getLong(bornIdx), 1000L)
      else row.getLong(bornIdx)
    out.ascii((born + delayMs).toString); out.tab()
    joined(row, keyIdx, Comma, out); out.tab()
    val tagAt = out.position
    if (tagIdx >= 0) value(row, tagIdx, out) else out.escaped(fixedTag)
    if (out.wroteOnly(tagAt, '*')) out.rewind(tagAt)
    if (out.position == tagAt && tag.nonEmpty) out.escaped(tag)
    out.tab()
    properties(row, out); out.tab()
    joined(row, bodyIdx, delimiter, out)
  }

  /** `row` as a [[Message]]: its rendered line, decoded. */
  def convert(row: InternalRow, bornTs: Long = System.currentTimeMillis()): Message = {
    val bytes = new java.io.ByteArrayOutputStream
    val out = new TopicLog.LineWriter(bytes)
    render(row, out, bornTs = bornTs)
    out.close()
    TopicLog.decode(bytes.toByteArray)
  }
}

object RowMessageConverter {
  /** Writes one column's text, escaped, chosen by its type when the
    * converter is built. */
  private trait Render extends Serializable {
    def apply(row: InternalRow, i: Int, out: TopicLog.LineWriter): Unit
  }

  private val Comma = Array[Byte](',')

  /** The `graft-mq` sink options as converter settings; the born column is
    * a `born_ts` column of TimestampType. */
  def apply(opts: GraftOptions, schema: StructType): RowMessageConverter =
    new RowMessageConverter(schema, staticTag = opts.tag, fieldDelimiter = opts.fieldDelimiter,
      keyColumns = opts.keyColumns, dynamicTagColumn = opts.dynamicTagColumn,
      dynamicTagIncluded = opts.dynamicTagColumnWriteIncluded,
      writeKeysToBody = opts.writeKeysToBody,
      bornTsColumn = schema.find(f => f.name == "born_ts" && f.dataType == TimestampType)
        .map(_.name),
      delayMs = GraftOptions.delayMs(opts.msgDelayLevel))
}
