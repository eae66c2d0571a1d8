package graft.source

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/**
 * Connector metrics through Spark's DSv2 CustomMetric surface — the engine
 * aggregates per-task values into SQL metrics visible in the UI/plan, the
 * Spark-native analog of the reference's per-consumer TPS/latency gauges
 * (reference: legacy/common/util/MetricUtils.java:1-87). Sum metrics over
 * wall-clock windows give TPS; bytes give throughput.
 */
object Metrics {
  final val MessagesRead = "graft_messages_read"
  final val MessagesFiltered = "graft_messages_filtered"
  final val BytesRead = "graft_bytes_read"
  final val LinesSkipped = "graft_lines_skipped"
  final val MessagesWritten = "graft_messages_written"
  final val BytesWritten = "graft_bytes_written"
  final val BytesRepaired = "graft_bytes_repaired"

  final class MessagesReadMetric extends CustomSumMetric {
    override def name(): String = MessagesRead
    override def description(): String = "messages read"
  }
  final class MessagesFilteredMetric extends CustomSumMetric {
    override def name(): String = MessagesFiltered
    override def description(): String = "messages dropped by tag/property filters"
  }
  final class BytesReadMetric extends CustomSumMetric {
    override def name(): String = BytesRead
    override def description(): String = "message body bytes read"
  }
  final class LinesSkippedMetric extends CustomSumMetric {
    override def name(): String = LinesSkipped
    override def description(): String = "lines walked undecoded below a read's first offset"
  }
  final class MessagesWrittenMetric extends CustomSumMetric {
    override def name(): String = MessagesWritten
    override def description(): String = "messages written"
  }
  final class BytesWrittenMetric extends CustomSumMetric {
    override def name(): String = BytesWritten
    override def description(): String = "message line bytes written"
  }
  final class BytesRepairedMetric extends CustomSumMetric {
    override def name(): String = BytesRepaired
    override def description(): String = "uncommitted tail bytes cut by the ledger repair"
  }

  def readMetrics: Array[CustomMetric] =
    Array(new MessagesReadMetric, new MessagesFilteredMetric, new BytesReadMetric,
      new LinesSkippedMetric)

  def writeMetrics: Array[CustomMetric] =
    Array(new MessagesWrittenMetric, new BytesWrittenMetric, new BytesRepairedMetric)

  final case class Value(metricName: String, metricValue: Long) extends CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = metricValue
  }

  /** UTF-8 byte length of a string without allocating the byte array —
    * the *_bytes metrics must report bytes, not UTF-16 char counts. */
  def utf8Length(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n +=
        (if (c < 0x80) 1
         else if (c < 0x800) 2
         else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
           Character.isLowSurrogate(s.charAt(i + 1))) { i += 1; 4 }
         else 3)
      i += 1
    }
    n
  }
}
