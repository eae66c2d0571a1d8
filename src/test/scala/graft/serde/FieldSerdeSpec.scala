package graft.serde

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class FieldSerdeSpec extends AnyFunSuite {
  import FieldSerde._

  test("parse refuses an unsupported column type") {
    val e = intercept[IllegalArgumentException](parse("[1]", ArrayType(IntegerType)))
    assert(e.getMessage.contains("unsupported field type"))
    assertThrows[IllegalArgumentException](parse(null, ArrayType(IntegerType)))
  }

  test("parseBoolean accepts true/false any case plus 1/0") {
    assert(parseBoolean("true") && parseBoolean("TRUE") && parseBoolean("1"))
    assert(!parseBoolean("false") && !parseBoolean("False") && !parseBoolean("0"))
    assertThrows[IllegalArgumentException](parseBoolean("yes"))
    assertThrows[IllegalArgumentException](parseBoolean(null))
  }

  test("parse coerces strings to typed values") {
    assert(parse("42", IntegerType) === 42)
    assert(parse("-7", LongType) === -7L)
    assert(parse("1.5", DoubleType) === 1.5)
    assert(parse("2.25", FloatType) === 2.25f)
    assert(parse("9", ShortType) === 9.toShort)
    assert(parse("3", ByteType) === 3.toByte)
    assert(parse("hi", StringType) === "hi")
    assert(parse("1", BooleanType) === true)
  }

  test("parse timestamp accepts epoch millis and SQL literals") {
    assert(parse("1690000000000", TimestampType) === new Timestamp(1690000000000L))
    assert(parse("2023-07-22 05:46:40", TimestampType) === Timestamp.valueOf("2023-07-22 05:46:40"))
    assertThrows[IllegalArgumentException](parse("not-a-time", TimestampType))
  }

  test("parse date accepts yyyy-MM-dd") {
    assert(parse("2023-07-22", DateType) === Date.valueOf("2023-07-22"))
  }

  test("parse decimal honors column scale") {
    val v = parse("12.3456789", DecimalType(10, 5)).asInstanceOf[java.math.BigDecimal]
    assert(v.scale === 5)
    assert(v === new java.math.BigDecimal("12.34568"))
  }

  test("parse malformed numerics throw (drives dirty-data strategies)") {
    assertThrows[NumberFormatException](parse("abc", IntegerType))
    assertThrows[NumberFormatException](parse("", LongType))
    assertThrows[NumberFormatException](parse("1.2.3", DoubleType))
  }
}
