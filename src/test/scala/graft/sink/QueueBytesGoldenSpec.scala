package graft.sink

import java.nio.file.Files
import java.security.MessageDigest

import graft.SparkSpec
import graft.source.TopicLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * The queue files every sink path writes, pinned byte for byte: five fixed
 * frames go through the DSv2 batch writer and an `AvailableNow` DSv2
 * stream, and each queue file's SHA-256 must equal the hash recorded for
 * it. Every frame carries a born column, so no byte depends on the clock,
 * and each is one partition, so line order is fixed. A change to the wire
 * format or to a value's text shows here first.
 *
 * The `events` and `docs` frames carry the two option sets of
 * [[graft.operators.MqRoundtrip]]'s topics. Their topics' lines, sorted
 * across queues, must also equal what the `MessageQueueSink.write` path
 * wrote before every write became a DSv2 write: that path routed rows to
 * queues round-robin, so only the line multiset compares.
 */
class QueueBytesGoldenSpec extends SparkSpec {
  import QueueBytesGoldenSpec._

  private def freshRoot(): String = Files.createTempDirectory("graft-golden").toString

  private def sha256(f: java.io.File): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f.toPath))
      .map(b => f"$b%02x").mkString

  /** "queue-N: hash" for every queue file of topic `Topic` under `root`. */
  private def hashes(root: String): Seq[String] =
    TopicLog.listQueues(root, Topic).map(q => s"queue-$q: ${sha256(TopicLog.queueFile(root, Topic, q))}")

  /** SHA-256 of topic `Topic`'s lines under `root`, sorted as bytes across
    * its queues, each ended by a newline. */
  private def linesHash(root: String): String = {
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    val lines = TopicLog.listQueues(root, Topic).flatMap(q => new String(
      Files.readAllBytes(TopicLog.queueFile(root, Topic, q).toPath), latin1).split("\n"))
    MessageDigest.getInstance("SHA-256").digest(lines.sorted.map(_ + "\n").mkString.getBytes(latin1))
      .map(b => f"$b%02x").mkString
  }

  /** The lane's message-shaped frame: born_ts, msg_key and an SOH body,
    * with escapes, non-ASCII, a trailing backslash and invalid UTF-8. */
  private def laneFrame: DataFrame = {
    import spark.implicits._
    val soh = "\u0001"
    Seq(
      (0L, s"0${soh}click${soh}0.5${soh}150${soh}eu${soh}plain text"),
      (1L, s"1${soh}buy${soh}tab\there${soh}nl\nhere${soh}cr\rhere${soh}bs\\here"),
      (2L, s"2${soh}semi;colon${soh}eq=sign${soh}é中😀${soh}"),
      (3L, "trailing backslash\\"),
      (4L, ""))
      .toDF("id", "body")
      .union(spark.range(5, 6).select(col("id"), expr("cast(X'41FF42C3' as string)").as("body")))
      .coalesce(1)
      .select(timestamp_millis(lit(1700000000000L) + col("id") * 7).as("born_ts"),
        col("id").cast("string").as("msg_key"), col("body"))
  }

  /** A producer-shaped frame: tag and properties columns, property keys
    * whose UTF-16 order differs from their UTF-8 byte order, null and `*`
    * tags, a null property value and invalid UTF-8 in a property. */
  private def producerFrame: DataFrame = {
    import spark.implicits._
    val props = Map("a" -> "1", "b=c" -> "x;y", "ключ" -> "зн",
      "\uE001k" -> "private use", "😀k" -> "supplementary", "t\tk" -> "v\\w")
    Seq(
      (0L, Some("k0"), Some("tagA"), Some(props), "body\t0"),
      (1L, Some("k,1"), None, Some(Map("only" -> "", "nul" -> null)), "body 1"),
      (2L, None, Some("*"), None, "body=2;"),
      (3L, Some("é"), Some("t\\ag"), Some(Map.empty[String, String]), ""))
      .toDF("id", "msg_key", "tag", "properties", "body")
      .union(spark.range(4, 5).select(col("id"), lit("k4").as("msg_key"), lit("tagB").as("tag"),
        map(lit("bad"), expr("cast(X'FE41' as string)")).as("properties"), lit("b4").as("body")))
      .coalesce(1)
      .select(timestamp_millis(lit(1600000000000L) - col("id") * 1000).as("born_ts"),
        col("msg_key"), col("tag"), col("properties"), col("body"))
  }

  /** A generic delimited frame: a key column, a dynamic tag column (with
    * null and `*` values), numbers, a date, a boolean and a binary. */
  private def genericFrame: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, Some("alpha"), Some("red"), Some("12.50"), Some("2024-01-02"), Some(true), Some(0.25), "a"),
      (2L, Some("b|eta\n"), None, Some("-0.01"), Some("1969-12-31"), Some(false), Some(1e20), "ü"),
      (3L, None, Some("*"), None, None, None, None, "x\ty"),
      (4L, Some("délta"), Some("bl;ue"), Some("7"), Some("2000-02-29"), None, Some(-3.5), ""))
      .toDF("id", "name", "kind", "amount", "day", "flag", "score", "raw")
      .coalesce(1)
      .select(col("id"), col("name"), col("kind"), col("amount").cast("decimal(10,2)").as("amount"),
        col("day").cast("date").as("day"), col("flag"), col("score"),
        col("raw").cast("binary").as("raw"),
        timestamp_millis(lit(1500000000000L) + col("id") * 250).as("born_ts"))
  }

  /** The events roundtrip topics' frame: the event id as the key and the
    * body's first field, the event type (null, `*`, a tab) as the dynamic
    * tag, kept in the tab-delimited body; NaN, 1e20 and escapes in it. */
  private def eventsFrame: DataFrame = {
    import spark.implicits._
    Seq(
      (10L, 1700000000123456L, Some(3L), Some("click"), Some(185.22), Some("{\"k\": 87}")),
      (11L, -1500L, Some(12L), Some("purchase"), Some(1e20), Some("tab\there")),
      (12L, 1600000000000001L, None, None, None, None),
      (13L, 0L, Some(0L), Some("*"), Some(-0.5), Some("nl\nhere\\")),
      (14L, 1700000000999999L, Some(7L), Some("s\u00efgn\tup"), Some(Double.NaN), Some("")),
      (15L, 1500000000000000L, Some(9L), Some("error"), Some(0.1), Some("\u00e9\u4e2d\ud83d\ude00")))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .withColumn("born_ts", timestamp_millis((col("ts_us") / 1000L).cast("long") + 1000L))
  }

  /** The documents firehose topics' frame: the doc id as the key and the
    * body's first field, SOH-delimited, with escapes, an SOH, a null and
    * an empty text, and invalid UTF-8. */
  private def docsFrame: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, Some("plain text")),
      (2L, Some("tab\there\nnl\rcr\\bs")),
      (3L, Some("soh\u0001inside")),
      (4L, None),
      (5L, Some("")),
      (6L, Some("\u00e9\u4e2d\ud83d\ude00 trailing\\")))
      .toDF("doc_id", "text")
      .union(spark.range(7, 8).select(col("id").as("doc_id"),
        expr("cast(X'41FF42C3' as string)").as("text")))
      .coalesce(1)
      .select(col("doc_id"), col("text"),
        timestamp_millis(lit(1650000000000L) + col("doc_id") * 13).as("born_ts"))
  }

  /** (frame, DSv2 options beyond topic/consumerGroup/rootDir/numQueues). */
  private def frames: Seq[(String, DataFrame, Map[String, String])] = Seq(
    ("lane", laneFrame, Map.empty),
    ("producer", producerFrame, Map.empty),
    ("generic", genericFrame, Map("keyColumns" -> "id", "dynamicTagColumn" -> "kind",
      "msgDelayLevel" -> "3", "fieldDelimiter" -> "|", "tag" -> "fallback")),
    ("events", eventsFrame, Map("fieldDelimiter" -> "\t", "keyColumns" -> "event_id",
      "writeKeysToBody" -> "true", "dynamicTagColumn" -> "event_type")),
    ("docs", docsFrame, Map("fieldDelimiter" -> "\u0001", "keyColumns" -> "doc_id",
      "writeKeysToBody" -> "true")))

  private def options(root: String, extra: Map[String, String]): Map[String, String] =
    extra ++ Map("topic" -> Topic, "consumerGroup" -> "g", "rootDir" -> root,
      "numQueues" -> Queues.toString)

  private def viaDsv2Batch(df: DataFrame, extra: Map[String, String]): String = {
    val root = freshRoot()
    df.write.format("graft-mq").options(options(root, extra)).mode("append").save()
    root
  }

  /** The frame staged as one parquet file, then streamed by an
    * `AvailableNow` query into the DSv2 streaming writer. */
  private def viaDsv2Stream(df: DataFrame, extra: Map[String, String]): String = {
    val root = freshRoot()
    val staged = Files.createTempDirectory("graft-golden-in").resolve("in").toString
    df.write.parquet(staged)
    val q = spark.readStream.schema(df.schema).parquet(staged)
      .writeStream.format("graft-mq").options(options(root, extra))
      .option("checkpointLocation", Files.createTempDirectory("graft-golden-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000)) finally q.stop()
    root
  }

  test("every sink path writes the recorded queue bytes") {
    val paths = Seq[(String, (DataFrame, Map[String, String]) => String)](
      "dsv2-batch" -> viaDsv2Batch, "dsv2-stream" -> viaDsv2Stream)
    val roots = for ((frame, df, extra) <- frames; (path, run) <- paths)
      yield (frame, path, run(df, extra))
    val got = for ((frame, path, root) <- roots; line <- hashes(root))
      yield s"$frame/$path/$line"
    assert(got === Recorded)
    for ((frame, path, root) <- roots if WriteLines.contains(frame))
      assert(linesHash(root) === WriteLines(frame), s"$frame/$path")
  }
}

object QueueBytesGoldenSpec {
  val Topic = "golden"
  val Queues = 2

  /** frame/path/queue-N: SHA-256 of the queue file, as the String line
    * codec wrote it (`events` and `docs`: as the byte codec did, which
    * writes the same bytes). */
  val Recorded: Seq[String] = Seq(
    "lane/dsv2-batch/queue-0: 0fdb780320a92d86c1b29eb2f186a5763315528c841f6437c13eb631ff9d6331",
    "lane/dsv2-batch/queue-1: 6cdc52b47f7e728d9445b24e3a5ac2411da5396f1b0f54047c8c1f60f893a71f",
    "lane/dsv2-stream/queue-0: 0fdb780320a92d86c1b29eb2f186a5763315528c841f6437c13eb631ff9d6331",
    "lane/dsv2-stream/queue-1: 6cdc52b47f7e728d9445b24e3a5ac2411da5396f1b0f54047c8c1f60f893a71f",
    "producer/dsv2-batch/queue-0: 024da24cdb79500631181d2b89fce88ed9940fcc5f21078b667406efe443b84e",
    "producer/dsv2-batch/queue-1: b1f68cc789b849a9edf05b394736175fee4026279eafea7c90d263a0c97a3fa9",
    "producer/dsv2-stream/queue-0: 024da24cdb79500631181d2b89fce88ed9940fcc5f21078b667406efe443b84e",
    "producer/dsv2-stream/queue-1: b1f68cc789b849a9edf05b394736175fee4026279eafea7c90d263a0c97a3fa9",
    "generic/dsv2-batch/queue-0: ea52b2f3bd26ae898f72a488f9b0f627ba675639f22478a760b41a13fe68822a",
    "generic/dsv2-batch/queue-1: e6e06b66747d357d87fae4123fe0619f5aab6dc8d6b02de970668fe4b6dea3f0",
    "generic/dsv2-stream/queue-0: ea52b2f3bd26ae898f72a488f9b0f627ba675639f22478a760b41a13fe68822a",
    "generic/dsv2-stream/queue-1: e6e06b66747d357d87fae4123fe0619f5aab6dc8d6b02de970668fe4b6dea3f0",
    "events/dsv2-batch/queue-0: d174fbafd6cd383e830cd05b1cf6a4607c0abf83ae144199f4ddc989cef0849b",
    "events/dsv2-batch/queue-1: d522925a0f6e99ed74992b6b5f5e8e44174cb078a24af1e73115210af309c124",
    "events/dsv2-stream/queue-0: d174fbafd6cd383e830cd05b1cf6a4607c0abf83ae144199f4ddc989cef0849b",
    "events/dsv2-stream/queue-1: d522925a0f6e99ed74992b6b5f5e8e44174cb078a24af1e73115210af309c124",
    "docs/dsv2-batch/queue-0: 078a17abb3fb90009e32236de90fce00252e5e508e3a20716985f695da286039",
    "docs/dsv2-batch/queue-1: 203194f426073f12386f5c485e3dddb680ef547abd6d4f713c806e9c4cf1366b",
    "docs/dsv2-stream/queue-0: 078a17abb3fb90009e32236de90fce00252e5e508e3a20716985f695da286039",
    "docs/dsv2-stream/queue-1: 203194f426073f12386f5c485e3dddb680ef547abd6d4f713c806e9c4cf1366b")

  /** frame -> SHA-256 of its topic's sorted lines as `MessageQueueSink.write`
    * wrote them, with MqRoundtrip's converter settings (the events born
    * column a long of epoch ms, `born_ts`'s value). */
  val WriteLines: Map[String, String] = Map(
    "events" -> "c12c197b41276b528e6408dd6e9551b0f5b481425eefe86981af89734eaced6e",
    "docs" -> "3f31a9730e750e3c5e6e196ead33bc1941ec06d78fd7cb1e1ba711a284e877c8")
}
