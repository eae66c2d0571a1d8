package graft.config

import org.scalatest.funsuite.AnyFunSuite

class GraftOptionsSpec extends AnyFunSuite {

  private val base = Map(
    "topic" -> "t1", "consumerGroup" -> "g1", "rootDir" -> "/tmp/mq")

  test("required options present parses with defaults") {
    val o = GraftOptions.parse(base)
    assert(o.topic === "t1" && o.consumerGroup === "g1" && o.rootDir === "/tmp/mq")
    assert(o.tag === "*")
    assert(o.fieldDelimiter === "\u0001")
  }

  test("missing required option names the key") {
    val e = intercept[IllegalArgumentException](GraftOptions.parse(Map("topic" -> "t")))
    assert(e.getMessage.contains("consumergroup") && e.getMessage.contains("rootdir"))
  }

  test("unknown option rejected by name") {
    val e = intercept[IllegalArgumentException](GraftOptions.parse(base + ("bogusKey" -> "1")))
    assert(e.getMessage.contains("boguskey"))
  }

  test("the keys nothing read are rejected, naming what replaced them") {
    for ((k, use) <- Seq("encoding" -> "Deser.parseBodies", "lineDelimiter" -> "Deser.parseBodies",
        "lengthCheck" -> "Deser.parseBodies", "isDynamicTag" -> "dynamicTagColumn")) {
      val e = intercept[IllegalArgumentException](GraftOptions.parse(base + (k -> "x")))
      assert(e.getMessage.contains(s"${k.toLowerCase} (use $use)"))
    }
    for (k <- Seq("retryTimes", "sleepTimeMs", "partitionDiscoveryIntervalMs", "columnErrorDebug")) {
      val e = intercept[IllegalArgumentException](GraftOptions.parse(base + (k -> "1")))
      assert(e.getMessage.contains(k.toLowerCase))
    }
  }

  test("option keys are case-insensitive") {
    val o = GraftOptions.parse(Map("TOPIC" -> "t", "ConsumerGroup" -> "g", "ROOTDIR" -> "/x"))
    assert(o.topic === "t")
  }

  test("delimiters unescape java escapes") {
    val o = GraftOptions.parse(base ++ Map("fieldDelimiter" -> "\\t"))
    assert(o.fieldDelimiter === "\t")
    assert(GraftOptions.unescape("\\u0001") === "\u0001")
    assert(GraftOptions.unescape("a\\\\b") === "a\\b")
  }

  test("invalid enum options rejected") {
    assertThrows[IllegalArgumentException](
      GraftOptions.parse(base + ("lengthCheck" -> "MAYBE")))
    assertThrows[IllegalArgumentException](
      GraftOptions.parse(base + ("offsetResetTo" -> "middle")))
  }

  test("maxRowsPerTrigger parses and must be positive when set") {
    assert(GraftOptions.parse(base).maxRowsPerTrigger === -1L)
    assert(GraftOptions.parse(base + ("maxRowsPerTrigger" -> "500")).maxRowsPerTrigger === 500L)
    assertThrows[IllegalArgumentException](
      GraftOptions.parse(base + ("maxRowsPerTrigger" -> "0")))
    assertThrows[IllegalArgumentException](
      GraftOptions.parse(base + ("maxRowsPerTrigger" -> "-3")))
  }

  test("startMode precedence: explicit offset > timestamp > offsetResetTo") {
    assert(GraftOptions.parse(base + ("startMessageOffset" -> "5")).startMode ===
      StartMode.Offset(5))
    assert(GraftOptions.parse(base + ("startTimeMs" -> "1000")).startMode ===
      StartMode.Timestamp(1000))
    assert(GraftOptions.parse(base + ("offsetResetTo" -> "earliest")).startMode ===
      StartMode.Earliest)
    assert(GraftOptions.parse(base).startMode === StartMode.Latest)
  }

  test("keyColumns splits on comma") {
    val o = GraftOptions.parse(base + ("keyColumns" -> "a, b,c"))
    assert(o.keyColumns === Seq("a", "b", "c"))
  }
}
