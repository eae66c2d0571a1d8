package graft.serde

import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.types._

/**
 * Typed field parsing: string→typed coercion of a message field for its
 * Spark SQL column type.
 *
 * Parse semantics mirror the reference connector
 * (reference: source/util/StringSerializer.java:60-140): booleans accept
 * "true"/"false" (any case) plus "1"/"0"; timestamps accept epoch-millis
 * longs falling back to `Timestamp.valueOf` literals; decimals honor the
 * column's precision/scale.
 */
object FieldSerde {

  /** "true"/"false" any-case, plus "1"/"0"; anything else throws. */
  def parseBoolean(s: String): Boolean = s match {
    case null => throw new IllegalArgumentException("null boolean")
    case _ if s.equalsIgnoreCase("true") => true
    case _ if s.equalsIgnoreCase("false") => false
    case "1" => true
    case "0" => false
    case _ => throw new IllegalArgumentException(s"not a boolean: $s")
  }

  /**
   * String → external Spark row value for the given column type.
   * Returns null for null input.
   * Throws on malformed input or an unsupported column type — the caller
   * (RowDeserializer) translates that into its dirty-data strategy.
   */
  def parse(value: String, dataType: DataType): Any = dataType match {
    case BinaryType => if (value == null) null else value.getBytes(StandardCharsets.UTF_8)
    case StringType => value
    case ByteType => if (value == null) null else java.lang.Byte.parseByte(value)
    case ShortType => if (value == null) null else java.lang.Short.parseShort(value)
    case IntegerType => if (value == null) null else java.lang.Integer.parseInt(value)
    case LongType => if (value == null) null else java.lang.Long.parseLong(value)
    case FloatType => if (value == null) null else java.lang.Float.parseFloat(value)
    case DoubleType => if (value == null) null else java.lang.Double.parseDouble(value)
    case BooleanType => if (value == null) null else parseBoolean(value)
    case TimestampType =>
      if (value == null) null
      else try new Timestamp(java.lang.Long.parseLong(value))
      catch { case _: NumberFormatException => Timestamp.valueOf(value) }
    case DateType => if (value == null) null else Date.valueOf(value)
    case dt: DecimalType =>
      if (value == null) null
      else new JBigDecimal(value).setScale(dt.scale, java.math.RoundingMode.HALF_UP)
    case _ => throw new IllegalArgumentException(s"unsupported field type: $dataType")
  }
}
