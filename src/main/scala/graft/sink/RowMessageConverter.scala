package graft.sink

import graft.config.GraftOptions
import graft.source.Message
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/**
 * The one row → [[Message]] encoder: `MessageQueueSink.write`,
 * `foreachBatch` and the DSv2 batch, micro-batch and continuous writers all
 * call [[convert]] on Spark SQL's binary rows. One rule set, decided per
 * column when the converter is built:
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
 *  - Values: null → ""; string unchanged; timestamp (with or without time
 *    zone) → epoch ms, `Math.floorDiv` of the micros; date → ISO
 *    (2024-01-02); binary → its UTF-8 text; numbers and booleans →
 *    `toString` (decimal 0.0000001 → 1E-7). A rendered column of any other
 *    type (array, map, struct, …) fails construction, naming the column: a
 *    body field is delimiter-joined text, and a nested value has no
 *    delimiter-safe form.
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
  import RowMessageConverter.Render

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
  private val fixedTag = if (staticTag == "*") "" else staticTag

  private val renderers: Array[Render] = {
    val rendered = (keyIdx ++ propIdx ++ bodyIdx :+ tagIdx).toSet
    Array.tabulate(schema.length)(i => if (rendered(i)) renderer(schema(i)) else null)
  }
  private def renderer(f: StructField): Render = f.dataType match {
    case _: StringType => (r, i) => r.getUTF8String(i).toString
    case TimestampType | TimestampNTZType => (r, i) => Math.floorDiv(r.getLong(i), 1000L).toString
    case DateType => (r, i) => java.time.LocalDate.ofEpochDay(r.getInt(i).toLong).toString
    case BinaryType => (r, i) => new String(r.getBinary(i), java.nio.charset.StandardCharsets.UTF_8)
    case dt @ (_: NumericType | BooleanType) => (r, i) => r.get(i, dt).toString
    case NullType => (_, _) => ""
    case dt => throw new IllegalArgumentException(s"column ${f.name} of type " +
      s"${dt.simpleString} has no delimiter-safe text form to write into a message")
  }
  private val bornInMicros = bornIdx >= 0 && (schema(bornIdx).dataType match {
    case TimestampType | TimestampNTZType => true
    case LongType => false
    case dt => throw new IllegalArgumentException(s"born column ${schema(bornIdx).name} " +
      s"must be a timestamp or a long of epoch ms, not ${dt.simpleString}")
  })

  private def text(row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) "" else renderers(i)(row, i)
  private def joined(row: InternalRow, idx: Array[Int], sep: String): String =
    if (idx.length == 1) text(row, idx(0)) else idx.iterator.map(text(row, _)).mkString(sep)

  private def properties(row: InternalRow): Map[String, String] =
    if (propMapIdx >= 0 && !row.isNullAt(propMapIdx)) {
      val m = row.getMap(propMapIdx)
      val ks = m.keyArray(); val vs = m.valueArray()
      // map values are nullable in SQL; a property is never null
      (0 until m.numElements()).map(i => ks.getUTF8String(i).toString ->
        (if (vs.isNullAt(i)) "" else vs.getUTF8String(i).toString)).toMap
    } else if (propIdx.isEmpty) Map.empty
    else propIdx.iterator.map(i => schema(i).name -> text(row, i)).toMap

  def convert(row: InternalRow, bornTs: Long = System.currentTimeMillis()): Message = {
    val born =
      if (bornIdx < 0 || row.isNullAt(bornIdx)) bornTs
      else if (bornInMicros) Math.floorDiv(row.getLong(bornIdx), 1000L)
      else row.getLong(bornIdx)
    val tag = if (tagIdx >= 0) text(row, tagIdx) else fixedTag
    Message(born + delayMs, joined(row, keyIdx, ","), if (tag == "*") "" else tag,
      properties(row), joined(row, bodyIdx, fieldDelimiter))
  }
}

object RowMessageConverter {
  /** One column's text, chosen by its type when the converter is built. */
  private trait Render extends Serializable { def apply(row: InternalRow, i: Int): String }

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
