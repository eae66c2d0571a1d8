package graft.sink

import java.nio.file.Files
import java.security.MessageDigest

import graft.SparkSpec
import graft.config.GraftOptions
import graft.source.TopicLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * The queue files every sink path writes, pinned byte for byte: three fixed
 * frames go through `write`, `foreachBatch`, the DSv2 batch writer and an
 * `AvailableNow` DSv2 stream, and each queue file's SHA-256 must equal the
 * hash recorded for it. Every frame carries a born column, so no byte
 * depends on the clock, and each is one partition, so line order is fixed.
 * A change to the wire format or to a value's text shows here first.
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

  /** (frame, DSv2 options beyond topic/consumerGroup/rootDir/numQueues). */
  private def frames: Seq[(String, DataFrame, Map[String, String])] = Seq(
    ("lane", laneFrame, Map.empty),
    ("producer", producerFrame, Map.empty),
    ("generic", genericFrame, Map("keyColumns" -> "id", "dynamicTagColumn" -> "kind",
      "msgDelayLevel" -> "3", "fieldDelimiter" -> "|", "tag" -> "fallback")))

  private def options(root: String, extra: Map[String, String]): Map[String, String] =
    extra ++ Map("topic" -> Topic, "consumerGroup" -> "g", "rootDir" -> root,
      "numQueues" -> Queues.toString)

  private def converter(df: DataFrame, extra: Map[String, String]): RowMessageConverter =
    RowMessageConverter(GraftOptions.parse(options("unused", extra)), df.schema)

  private def viaWrite(df: DataFrame, extra: Map[String, String]): String = {
    val root = freshRoot()
    MessageQueueSink.write(df, root, new DefaultTopicSelector[Map[String, Any]](Topic, "sel"),
      converter(df, extra), numQueues = Queues)
    root
  }

  private def viaForeachBatch(df: DataFrame, extra: Map[String, String]): String = {
    val root = freshRoot()
    MessageQueueSink.foreachBatch(root, new DefaultTopicSelector[Map[String, Any]](Topic),
      converter(df, extra), numQueues = Queues)(df, 0L)
    root
  }

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
      "write" -> viaWrite, "foreachBatch" -> viaForeachBatch,
      "dsv2-batch" -> viaDsv2Batch, "dsv2-stream" -> viaDsv2Stream)
    val got = for {
      (frame, df, extra) <- frames
      (path, run) <- paths
      line <- hashes(run(df, extra))
    } yield s"$frame/$path/$line"
    assert(got === Recorded)
  }
}

object QueueBytesGoldenSpec {
  val Topic = "golden"
  val Queues = 2

  /** frame/path/queue-N: SHA-256 of the queue file, as the String line
    * codec wrote it. */
  val Recorded: Seq[String] = Seq(
    "lane/write/queue-0: b7c180acb7158edc69a31f2a574efe1d82d1535301bca34834564a0748328b9e",
    "lane/write/queue-1: 157a106987f9b9e03bf57e4e222aa92f53a3248dd3d752430039abf388c6a4c5",
    "lane/foreachBatch/queue-0: deba56f97775f95761a2e10c5b88c8edf0a0d76d2288243099765fb94cf6a6c9",
    "lane/foreachBatch/queue-1: b9bd5694de735bb0cd1f47d7da7e520e212c8681ea47c493abb47585c48d0b28",
    "lane/dsv2-batch/queue-0: 0fdb780320a92d86c1b29eb2f186a5763315528c841f6437c13eb631ff9d6331",
    "lane/dsv2-batch/queue-1: 6cdc52b47f7e728d9445b24e3a5ac2411da5396f1b0f54047c8c1f60f893a71f",
    "lane/dsv2-stream/queue-0: 0fdb780320a92d86c1b29eb2f186a5763315528c841f6437c13eb631ff9d6331",
    "lane/dsv2-stream/queue-1: 6cdc52b47f7e728d9445b24e3a5ac2411da5396f1b0f54047c8c1f60f893a71f",
    "producer/write/queue-0: 8ff46fc7126b43c3418316240310185f8bc99337592b98e5dad69f204c1dd9c2",
    "producer/write/queue-1: e476701b0459ee6f01cf29e52a5211016d818118af667db6399edc67f247e03d",
    "producer/foreachBatch/queue-0: 662bf64bc1be85c386d1dd2c2150dec4db7ae1c2a286d9508bfb77874f3aa16c",
    "producer/foreachBatch/queue-1: 5179181f233bbabb6cb5864147474baab745db47693f14e9bd6a9f2d4ee40421",
    "producer/dsv2-batch/queue-0: 024da24cdb79500631181d2b89fce88ed9940fcc5f21078b667406efe443b84e",
    "producer/dsv2-batch/queue-1: b1f68cc789b849a9edf05b394736175fee4026279eafea7c90d263a0c97a3fa9",
    "producer/dsv2-stream/queue-0: 024da24cdb79500631181d2b89fce88ed9940fcc5f21078b667406efe443b84e",
    "producer/dsv2-stream/queue-1: b1f68cc789b849a9edf05b394736175fee4026279eafea7c90d263a0c97a3fa9",
    "generic/write/queue-0: 995a98216fbe20f1eeded926c19ff0358e4dd8c95b32ba2dbe922bfc08f62f49",
    "generic/write/queue-1: d9dbe951616d22abece0eb8c0bfc6e0dc1a6537f070f6d55af67ffd02c907bf9",
    "generic/foreachBatch/queue-0: 14c3a6c3b4553bf32aff75a4e8065a645416fc2e91d383cf98a2bc893e912883",
    "generic/foreachBatch/queue-1: 2fca670a6567a83580c09070911f106fc5a1647ac10dec80bb0e8173319c4e65",
    "generic/dsv2-batch/queue-0: ea52b2f3bd26ae898f72a488f9b0f627ba675639f22478a760b41a13fe68822a",
    "generic/dsv2-batch/queue-1: e6e06b66747d357d87fae4123fe0619f5aab6dc8d6b02de970668fe4b6dea3f0",
    "generic/dsv2-stream/queue-0: ea52b2f3bd26ae898f72a488f9b0f627ba675639f22478a760b41a13fe68822a",
    "generic/dsv2-stream/queue-1: e6e06b66747d357d87fae4123fe0619f5aab6dc8d6b02de970668fe4b6dea3f0")
}
