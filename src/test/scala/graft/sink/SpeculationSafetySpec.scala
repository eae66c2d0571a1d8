package graft.sink

import java.nio.file.Files

import graft.config.GraftOptions
import graft.source.TopicLog
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/**
 * Single-writer-per-queue safety (reference: legacy/RocketMQSink.java:60-150).
 * The DSv2 writer must tolerate a racing duplicate attempt of the same
 * partition (speculation, or a zombie task racing its retry) because
 * attempts spill privately and only the committed winner appends.
 */
class SpeculationSafetySpec extends AnyFunSuite {

  private val bodySchema = StructType(Seq(StructField("body", StringType)))

  private def writerFor(root: String, partition: Int): QueueDataWriter = {
    val opts = GraftOptions.parse(Map(
      "topic" -> "race", "consumerGroup" -> "g", "rootDir" -> root))
    new QueueDataWriter(opts, new RowMessageConverter(opts, bodySchema), partition)
  }

  private def row(s: String): InternalRow = InternalRow(UTF8String.fromString(s))

  test("racing duplicate attempt: only the committed attempt's rows land, no interleaving") {
    val root = Files.createTempDirectory("graft-race").toString
    val attemptA = writerFor(root, 0)
    val attemptB = writerFor(root, 0) // speculative duplicate of partition 0
    // interleave the two attempts row by row — the worst-case schedule for
    // a shared-appender design
    (0 until 100).foreach { i =>
      attemptA.write(row(s"line-$i"))
      attemptB.write(row(s"line-$i"))
    }
    // commit coordinator picks A; B is told to abort
    attemptA.commit()
    attemptB.abort()
    val got = TopicLog.readRange(root, "race", 0, 0, TopicLog.maxOffset(root, "race", 0))
      .map(_._2.body).toSeq
    assert(got === (0 until 100).map(i => s"line-$i"))
  }

  test("attempt that dies before commit leaves the queue log untouched") {
    val root = Files.createTempDirectory("graft-race").toString
    val w = writerFor(root, 0)
    (0 until 10).foreach(i => w.write(row(s"lost-$i")))
    w.abort() // task failure: no commit
    assert(TopicLog.listQueues(root, "race").isEmpty)
  }
}
