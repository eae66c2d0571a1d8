package graft.serde

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BinaryType, StructType}

/** Dirty-data handling strategies for delimited-text deserialization
  * (reference: source/reader/deserializer/DirtyDataStrategy.java). */
sealed trait DirtyDataStrategy
object DirtyDataStrategy {
  case object Skip extends DirtyDataStrategy
  case object SkipSilent extends DirtyDataStrategy
  case object Cut extends DirtyDataStrategy
  case object Null extends DirtyDataStrategy
  case object Pad extends DirtyDataStrategy
  case object Exception extends DirtyDataStrategy

  def parse(s: String): DirtyDataStrategy = s.toUpperCase match {
    case "SKIP" => Skip
    case "SKIP_SILENT" => SkipSilent
    case "CUT" => Cut
    case "NULL" => Null
    case "PAD" => Pad
    case "EXCEPTION" => Exception
    case other => throw new IllegalArgumentException(s"unknown dirty-data strategy: $other")
  }
}

/**
 * Delimited text → typed [[Row]] deserialization with per-error-class
 * dirty-data strategies.
 *
 * Semantics mirror the reference row deserializer
 * (reference: source/reader/deserializer/RowDeserializationSchema.java:139-397):
 *
 *  - the message body (UTF-8) is split into lines by `lineDelimiter`, each
 *    line into fields by `fieldDelimiter` (preserving empty tokens);
 *  - `headerFields` are taken from message properties, not the body;
 *  - a single non-header BINARY column receives the raw body bytes;
 *  - a single non-header column of any type receives the whole line;
 *  - too-few fields → `fieldMissingStrategy`; too-many → `fieldIncrementStrategy`;
 *    unparsable field → `formatErrorStrategy` (Skip/SkipSilent drop the row,
 *    Cut/Null/Pad null the field, Exception rethrows).
 *
 * The `lengthCheck` shorthand sets all three, as the reference's builder does
 * (RowDeserializationSchema.java:538-569): SKIP, PAD (= skip format errors,
 * pad missing, cut increment), EXCEPTION, SKIP_SILENT.
 *
 * One deviation, on purpose: when header fields interleave with body fields
 * and the token count is exact, body tokens are mapped to non-header columns
 * in data order (the reference indexes the token array by absolute column
 * index, which misaligns headers-before-body schemas).
 */
class RowDeserializer(
    schema: StructType,
    formatErrorStrategy: DirtyDataStrategy = DirtyDataStrategy.Skip,
    fieldMissingStrategy: DirtyDataStrategy = DirtyDataStrategy.Skip,
    fieldIncrementStrategy: DirtyDataStrategy = DirtyDataStrategy.Cut,
    fieldDelimiter: String = Delimiters.Soh,
    lineDelimiter: String = "\n",
    headerFields: Set[String] = Set.empty) extends Serializable {

  private val totalColumnSize = schema.length
  private val isHeader: Array[Boolean] = schema.fieldNames.map(headerFields.contains)
  /** data position -> column index, for non-header columns in order. */
  private val dataIndexMapping: Array[Int] =
    schema.fieldNames.indices.filter(i => !isHeader(i)).toArray
  private val dataColumnSize = dataIndexMapping.length
  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[RowDeserializer])

  /** Dirty-row accounting, the behavioral difference between SKIP and
    * SKIP_SILENT (reference logs-and-counts on SKIP:
    * source/reader/deserializer/RowDeserializationSchema.java SKIP path):
    * both count every dropped line; SKIP also logs it. An optional Spark
    * accumulator aggregates counts across executors. */
  private val dropped = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var droppedAcc: org.apache.spark.util.LongAccumulator = null

  /** Lines dropped by a Skip/SkipSilent strategy in THIS JVM instance. */
  def droppedCount: Long = dropped.get()

  /** Register a driver-side accumulator for cluster-wide dirty-row counts. */
  def withDroppedAccumulator(acc: org.apache.spark.util.LongAccumulator): this.type = {
    droppedAcc = acc; this
  }

  private def recordDrop(reason: String, line: String, strategy: DirtyDataStrategy): Unit = {
    dropped.incrementAndGet()
    val acc = droppedAcc
    if (acc != null) acc.add(1L)
    if (strategy != DirtyDataStrategy.SkipSilent && log.isWarnEnabled)
      log.warn(s"dropped dirty row ($reason): ${line.take(120)}")
  }

  private def isOnlyVarbinaryData: Boolean =
    dataColumnSize == 1 && schema(dataIndexMapping(0)).dataType == BinaryType

  private def isAllHeader: Boolean = dataColumnSize == 0

  /** Deserialize one message (body + properties) into zero or more rows. */
  def deserialize(body: Array[Byte], properties: Map[String, String] = Map.empty): Seq[Row] = {
    if (isOnlyVarbinaryData) {
      val values = new Array[Any](totalColumnSize)
      schema.fieldNames.indices.foreach { i =>
        values(i) =
          if (i == dataIndexMapping(0)) body
          else FieldSerde.parse(properties.getOrElse(schema.fieldNames(i), ""), schema(i).dataType)
      }
      Seq(Row.fromSeq(values.toIndexedSeq))
    } else if (isAllHeader) {
      Seq(Row.fromSeq(schema.fieldNames.indices.map { i =>
        FieldSerde.parse(properties.getOrElse(schema.fieldNames(i), ""), schema(i).dataType)
      }))
    } else if (body == null) {
      Seq.empty
    } else {
      splitPreserveNone(new String(body, StandardCharsets.UTF_8), lineDelimiter)
        .flatMap(line => deserializeLine(line, properties))
    }
  }

  /** One delimited line → Some(row), or None if a strategy dropped it. */
  def deserializeLine(line: String, properties: Map[String, String] = Map.empty): Option[Row] = {
    val rawTokens =
      if (dataColumnSize == 1) Array(line)
      else splitPreserveAll(line, fieldDelimiter)
    val tokens: Array[String] =
      if (rawTokens.length < dataColumnSize) handleFieldMissing(rawTokens) match {
        case null =>
          recordDrop(s"field missing: ${rawTokens.length} < $dataColumnSize",
            line, fieldMissingStrategy)
          return None
        case t => t
      } else if (rawTokens.length > dataColumnSize) handleFieldIncrement(rawTokens) match {
        case null =>
          recordDrop(s"field increment: ${rawTokens.length} > $dataColumnSize",
            line, fieldIncrementStrategy)
          return None
        case t => t
      } else rawTokens

    val values = new Array[Any](totalColumnSize)
    var dataPos = 0
    var index = 0
    while (index < totalColumnSize) {
      val raw =
        if (isHeader(index)) properties.getOrElse(schema.fieldNames(index), "")
        else { val v = if (dataPos < tokens.length) tokens(dataPos) else null; dataPos += 1; v }
      try values(index) = FieldSerde.parse(raw, schema(index).dataType)
      catch {
        case e: Exception =>
          formatErrorStrategy match {
            case DirtyDataStrategy.Skip | DirtyDataStrategy.SkipSilent =>
              recordDrop(s"format error at ${schema.fieldNames(index)}: ${e.getMessage}",
                line, formatErrorStrategy)
              return None
            case DirtyDataStrategy.Cut | DirtyDataStrategy.Null | DirtyDataStrategy.Pad =>
              values(index) = null
            case DirtyDataStrategy.Exception => throw new RuntimeException(e)
          }
      }
      index += 1
    }
    Some(Row.fromSeq(values.toIndexedSeq))
  }

  /** null = drop the line; otherwise tokens padded to dataColumnSize with nulls. */
  private def handleFieldMissing(tokens: Array[String]): Array[String] =
    fieldMissingStrategy match {
      case DirtyDataStrategy.Skip | DirtyDataStrategy.SkipSilent => null
      case DirtyDataStrategy.Cut | DirtyDataStrategy.Null | DirtyDataStrategy.Pad =>
        tokens ++ Array.fill[String](dataColumnSize - tokens.length)(null)
      case DirtyDataStrategy.Exception =>
        throw new RuntimeException(s"field missing: ${tokens.length} < $dataColumnSize")
    }

  /** null = drop the line; otherwise the first dataColumnSize tokens. */
  private def handleFieldIncrement(tokens: Array[String]): Array[String] =
    fieldIncrementStrategy match {
      case DirtyDataStrategy.Skip | DirtyDataStrategy.SkipSilent => null
      case DirtyDataStrategy.Cut | DirtyDataStrategy.Null | DirtyDataStrategy.Pad =>
        tokens.take(dataColumnSize)
      case DirtyDataStrategy.Exception =>
        throw new RuntimeException(s"field increment: ${tokens.length} > $dataColumnSize")
    }

  /** Split dropping empty tokens (commons-lang StringUtils.split semantics). */
  private def splitPreserveNone(s: String, sep: String): Seq[String] =
    splitBy(s, sep).filter(_.nonEmpty)

  /** Split preserving all tokens (splitPreserveAllTokens semantics). */
  private def splitPreserveAll(s: String, sep: String): Array[String] =
    splitBy(s, sep).toArray

  /** Literal (non-regex) split on a delimiter string, keeping trailing empties.
    * An empty delimiter never splits (indexOf("") would loop forever). */
  private def splitBy(s: String, sep: String): Vector[String] = {
    if (sep.isEmpty) return Vector(s)
    val out = Vector.newBuilder[String]
    var start = 0
    var idx = s.indexOf(sep)
    while (idx >= 0) {
      out += s.substring(start, idx)
      start = idx + sep.length
      idx = s.indexOf(sep, start)
    }
    out += s.substring(start)
    out.result()
  }
}

object RowDeserializer {

  /** Build with the `lengthCheck` shorthand (NONE keeps the per-strategy
    * defaults), mirroring the reference builder's option handling. */
  def withLengthCheck(
      schema: StructType,
      lengthCheck: String,
      fieldDelimiter: String = Delimiters.Soh,
      lineDelimiter: String = "\n",
      headerFields: Set[String] = Set.empty): RowDeserializer = {
    val (fmt, miss, incr) = lengthCheck.toUpperCase match {
      case "SKIP" => (DirtyDataStrategy.Skip, DirtyDataStrategy.Skip, DirtyDataStrategy.Skip)
      case "PAD" => (DirtyDataStrategy.Skip, DirtyDataStrategy.Pad, DirtyDataStrategy.Cut)
      case "EXCEPTION" =>
        (DirtyDataStrategy.Exception, DirtyDataStrategy.Exception, DirtyDataStrategy.Exception)
      case "SKIP_SILENT" =>
        (DirtyDataStrategy.SkipSilent, DirtyDataStrategy.SkipSilent, DirtyDataStrategy.SkipSilent)
      case _ => (DirtyDataStrategy.Skip, DirtyDataStrategy.Skip, DirtyDataStrategy.Cut)
    }
    new RowDeserializer(schema, fmt, miss, incr, fieldDelimiter, lineDelimiter, headerFields)
  }
}
