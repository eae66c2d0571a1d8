package graft.operators

import java.nio.file.Files

import graft.util.Materialize.MaterializeOps
import graft.sink.{DefaultTopicSelector, MessageQueueSink, RowMessageConverter}
import graft.source.TopicLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Full-pipeline proof: events → sink (file-backed queue logs, 8 queues) →
 * DSv2 source scan → body parse back to typed columns. The oracle is the
 * original events table, so any loss or corruption anywhere in the
 * sink/log/source/deserialize chain flips the compare.
 *
 * ts travels inside the body as epoch micros (born_ts is millis, like the
 * broker's born timestamp, so it cannot carry the µs payload).
 */
object MqRoundtrip {

  /** Queue-log root reused across invocations for the same (kind, dir) —
    * a fresh createTempDirectory per call leaked a full corpus copy every
    * Bench iteration / test run. Roots are PROCESS-scoped
    * ([[graft.util.Fs.processScopedTmpDir]]): cached topics are written
    * once per JVM and reused ([[writeTopicOnce]]); the roundtrip/deser
    * entries, whose WRITE path is the thing under test, re-publish per
    * invocation behind a deleteTopic that wipes the previous log. Either
    * way disk stays bounded at one copy per kind per live JVM (the
    * shutdown hook reclaims it), and two concurrent graft JVMs on the same
    * testdata can never delete each other's topic mid-read. */
  /** (root, topic) pairs already written this JVM — see [[writeTopicOnce]]. */
  private val writtenTopics =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Once-per-JVM history probe index for [[dedupIncrementalStream]], keyed
    * by the entry's root — see the build site for why caching it is the
    * deployment shape, not a shortcut. */
  private val probeIndexCache = new java.util.concurrent.ConcurrentHashMap[
    String,
    Option[org.apache.spark.broadcast.Broadcast[graft.operators.Dedup.HistoryProbeIndex]]]()

  /** Write a topic at most once per JVM — the broker deployment shape:
    * producers don't re-publish the firehose for every new consumer group.
    * Sound because every caller's topic content is a pure function of `dir`,
    * every read starts from earliest with a fresh per-invocation checkpoint,
    * and each root hosts only the topics registered here. The registry is
    * updated only after the write returns, so a failed write is retried,
    * never half-read; the coarse lock serializes suites that race on a
    * SHARED topic (check-then-act would let a second writer deleteTopic
    * mid-write under sbt's parallel suite execution). */
  private def writeTopicOnce(root: String, topic: String)(write: => Unit): Unit =
    writtenTopics.synchronized {
      val key = s"$root#$topic"
      if (!writtenTopics.contains(key)) {
        TopicLog.deleteTopic(root, topic)
        write
        writtenTopics.add(key)
      }
    }

  /** Once-per-JVM full-documents firehose (doc_id U+0001 text, 8 queues):
    * the docs-consuming stream entries (quality, tokens, blocklist, entropy)
    * subscribe to the SAME topic under their own consumer groups — one
    * producer, many consumer groups, per-group offset ledgers, exactly the
    * fan-out the reference's consumer-group model exists for. */
  private def docsTopic(spark: SparkSession, dir: String): (String, String) = {
    val root = sessionRoot("mq-docs", dir)
    val topic = "docs_stream"
    writeTopicOnce(root, topic) {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val conv = new RowMessageConverter(
        docs.schema, fieldDelimiter = "\u0001",
        keyColumns = Seq("doc_id"), writeKeysToBody = true)
      MessageQueueSink.write(
        docs, root, new DefaultTopicSelector[Map[String, Any]](topic), conv,
        numQueues = 8)
    }
    (root, topic)
  }

  /** Once-per-JVM events firehose — shared by [[eventsEnrichStream]] and
    * [[purchaseAttributionStream]] under distinct consumer groups. */
  private def eventsTopic(spark: SparkSession, dir: String): (String, String) = {
    val root = sessionRoot("mq-events", dir)
    val topic = "events_stream"
    writeTopicOnce(root, topic)(writeEventsTopic(spark, dir, root, topic))
    (root, topic)
  }

  private def sessionRoot(kind: String, dir: String): String =
    graft.util.Fs.processScopedTmpDir(
      s"graft-$kind-${java.lang.Math.floorMod(dir.hashCode, 1 << 30)}").toString

  /** The shared events-topic wire format of [[eventsEnrichStream]] and
    * [[purchaseAttributionStream]]: (event_id, ts_us, user_id, event_type,
    * value) on a U+0001 delimiter. Write + positional parse live HERE so a
    * projection change cannot desynchronize the element_at indices. */
  private def writeEventsTopic(
      spark: SparkSession, dir: String, root: String, topic: String): Unit = {
    val events = Tables.events(spark, dir).select(
      col("event_id"),
      unix_micros(col("ts")).as("ts_us"),
      col("user_id"),
      col("event_type"),
      col("value"))
    val conv = new RowMessageConverter(
      events.schema, fieldDelimiter = "\u0001",
      keyColumns = Seq("event_id"), writeKeysToBody = true)
    MessageQueueSink.write(
      events, root, new DefaultTopicSelector[Map[String, Any]](topic), conv, numQueues = 8)
  }

  private def readEventsStream(
      spark: SparkSession, root: String, topic: String, group: String): DataFrame =
    spark.readStream.format("graft-mq")
      .option("topic", topic).option("consumerGroup", group)
      .option("rootDir", root).option("offsetResetTo", "earliest")
      .load()
      .select(split(col("body"), "\u0001").as("f"))
      .select(element_at(col("f"), 1).cast("long").as("event_id"),
        timestamp_micros(element_at(col("f"), 2).cast("long")).as("ts"),
        element_at(col("f"), 3).cast("long").as("user_id"),
        element_at(col("f"), 4).as("event_type"),
        element_at(col("f"), 5).cast("double").as("value"))

  def mqRoundtripEvents(spark: SparkSession, dir: String): DataFrame = {
    // batch path: the returned frame scans the log LAZILY, so the root must
    // survive the call — reuse, don't delete
    val root = sessionRoot("mq-rt", dir)
    val topic = "events_rt"
    TopicLog.deleteTopic(root, topic)

    val events = Tables.events(spark, dir).select(
      col("event_id"),
      unix_micros(col("ts")).as("ts_us"),
      col("user_id"),
      col("event_type"),
      col("value"),
      col("props"),
      (unix_micros(col("ts")) / 1000L).cast("long").as("born_ms"))

    val conv = new RowMessageConverter(
      events.schema, fieldDelimiter = "\t",
      keyColumns = Seq("event_id"), writeKeysToBody = true,
      dynamicTagColumn = Some("event_type"), bornTsColumn = Some("born_ms"))
    MessageQueueSink.write(
      events, root, new DefaultTopicSelector[Map[String, Any]](topic), conv, numQueues = 8)

    val back = spark.read.format("graft-mq")
      .option("topic", topic).option("consumerGroup", "rt").option("rootDir", root)
      .load()
      .select(split(col("body"), "\t").as("f"), col("tag"))
    back.select(
      element_at(col("f"), 1).cast("long").as("event_id"),
      timestamp_micros(element_at(col("f"), 2).cast("long")).as("ts"),
      element_at(col("f"), 3).cast("long").as("user_id"),
      col("tag").as("event_type"),
      element_at(col("f"), 5).cast("double").as("value"),
      element_at(col("f"), 6).as("props"))
      .orderBy(col("event_id"))
  }

  /**
   * The [[mqRoundtripEvents]] parity proof under `Trigger.Continuous`: the
   * same events → sink → source → parse chain, but read by the DSv2
   * ContinuousStream ([[graft.source.MessageQueueContinuousStream]] — the
   * analog of the reference's always-on poll loop, reference:
   * source/reader/RocketMQPartitionSplitReader.java:90-180) instead of
   * micro-batch planning rounds. Long-running per-queue reader tasks tail
   * the log, the epoch coordinator snips commits every 500 ms, and the
   * memory sink accumulates rows as epochs land; the driver polls the sink
   * until every written row has surfaced, then stops the query. The oracle
   * is the SAME SQL as the batch roundtrip, so continuous mode is held to
   * exact no-loss/no-dup/no-corruption parity with the batch and
   * micro-batch paths — not just suite-level set checks.
   *
   * Queue count: each continuous split pins one long-running task slot for
   * the query's LIFETIME, so queues are a core budget, not a throughput
   * knob — and the driver's polling `count()` needs at least one free slot
   * or the query and the poll deadlock against each other. Sized to
   * defaultParallelism minus headroom, capped at 4.
   */
  def mqRoundtripContinuous(spark: SparkSession, dir: String): DataFrame = {
    val root = sessionRoot("mq-rt-cont", dir)
    val topic = "events_rt_cont"
    TopicLog.deleteTopic(root, topic)
    // fail fast instead of deadlocking: each continuous reader task pins a
    // slot for the life of the query, so on a 1-slot session (local[1])
    // the driver's polling count() would never get scheduled and the entry
    // would time out with a misleading "surfaced 0 rows" message
    require(spark.sparkContext.defaultParallelism >= 2,
      "mqRoundtripContinuous needs at least 2 scheduler slots: the " +
        "continuous-trigger reader pins one slot per queue for the whole " +
        "query, and the driver's progress poll needs a free slot of its " +
        s"own (defaultParallelism = ${spark.sparkContext.defaultParallelism})")
    val numQueues = math.max(1,
      math.min(4, spark.sparkContext.defaultParallelism - 2))

    val events = Tables.events(spark, dir).select(
      col("event_id"),
      unix_micros(col("ts")).as("ts_us"),
      col("user_id"),
      col("event_type"),
      col("value"),
      col("props"),
      (unix_micros(col("ts")) / 1000L).cast("long").as("born_ms"))
    val total = events.count()
    val conv = new RowMessageConverter(
      events.schema, fieldDelimiter = "\t",
      keyColumns = Seq("event_id"), writeKeysToBody = true,
      dynamicTagColumn = Some("event_type"), bornTsColumn = Some("born_ms"))
    MessageQueueSink.write(
      events, root, new DefaultTopicSelector[Map[String, Any]](topic), conv,
      numQueues = numQueues)

    val name = "mq_rt_cont_" + math.abs(dir.hashCode)
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("consumerGroup", "rtc")
      .option("rootDir", root).option("offsetResetTo", "earliest")
      .option("continuousPollMs", "20")
      .load()
      .select(split(col("body"), "\t").as("f"), col("tag"))
      .select(
        element_at(col("f"), 1).cast("long").as("event_id"),
        timestamp_micros(element_at(col("f"), 2).cast("long")).as("ts"),
        element_at(col("f"), 3).cast("long").as("user_id"),
        col("tag").as("event_type"),
        element_at(col("f"), 5).cast("double").as("value"),
        element_at(col("f"), 6).as("props"))
      .writeStream.format("memory").queryName(name)
      // 100 ms epochs (round 20): the epoch interval is the COMMIT-LATENCY
      // knob of continuous mode, not a throughput knob — rows surface in
      // the sink only when an epoch lands, so a 500 ms interval put a
      // ~0.5-1 s floor under the whole roundtrip. 100 ms matches the
      // source's 20 ms poll cadence (5 polls/epoch); epoch commits are a
      // driver-side offset snip, so the extra commits cost microseconds
      // while the backlog drains ~0.5 s sooner at any scale.
      .trigger(org.apache.spark.sql.streaming.Trigger.Continuous("100 milliseconds"))
      .start()
    try {
      // a continuous query never self-terminates: poll the sink until the
      // full backlog has surfaced, fail LOUD on a stall (a partial result
      // would just hash-mismatch downstream with no hint why); 25 ms poll
      // so the poll cadence never adds a visible fraction of the (now
      // 100 ms) epoch latency
      val deadline = System.nanoTime() + 180L * 1000000000L
      var n = 0L
      while (n < total && System.nanoTime() < deadline) {
        Thread.sleep(25)
        n = spark.table(name).count()
      }
      require(n == total,
        s"continuous roundtrip surfaced $n of $total rows before timeout/stop")
    } finally q.stop()
    TopicLog.deleteTopic(root, topic)
    spark.table(name).orderBy(col("event_id"))
  }

  /**
   * Oracle-checked dirty-data pipeline: deterministically corrupted
   * document rows written through the connector sink, read back with the
   * graft-mq batch source, and parsed by [[graft.serde.RowDeserializer]]
   * under the lengthCheck=PAD shorthand — skip format errors, pad missing
   * fields, cut extras (reference:
   * source/reader/deserializer/RowDeserializationSchema.java:284-400 and
   * the builder shorthand at :538-569). doc_id mod 4 selects the
   * corruption: 0 well-formed; 1 drops the last field (PAD → null
   * n_chars); 2 appends a junk field (CUT drops it); 3 writes an
   * unparsable n_chars (format error → row dropped). The DuckDB oracle is
   * the same CASE arithmetic on the clean table, so every strategy's
   * row-level effect is hash-checked end-to-end through the SQL surface,
   * not just the unit suite.
   */
  def deserDirty(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = sessionRoot("mq-dirty", dir)
    val topic = "docs_dirty"
    TopicLog.deleteTopic(root, topic)
    val soh = graft.serde.Delimiters.Soh
    val m = col("doc_id") % 4
    val bodies = Tables.documents(spark, dir).select(
      col("doc_id"),
      when(m === 1, concat_ws(soh, col("doc_id"), col("lang")))
        .when(m === 2, concat_ws(soh, col("doc_id"), col("lang"), col("n_chars"), lit("junk")))
        .when(m === 3, concat_ws(soh, col("doc_id"), col("lang"), lit("x9")))
        .otherwise(concat_ws(soh, col("doc_id"), col("lang"), col("n_chars"))).as("body"))
    val conv = new RowMessageConverter(
      bodies.schema, fieldDelimiter = soh, keyColumns = Seq("doc_id"))
    MessageQueueSink.write(
      bodies, root, new DefaultTopicSelector[Map[String, Any]](topic), conv, numQueues = 8)

    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("n_chars", LongType)))
    val back = spark.read.format("graft-mq")
      .option("topic", topic).option("consumerGroup", "dirty").option("rootDir", root)
      .load()
    Deser.parseBodies(back, "body", schema, fieldDelimiter = soh, lengthCheck = "PAD")
      .orderBy(col("doc_id"))
  }

  /**
   * Streaming corpus scoring through the connector: documents → sink →
   * MICRO-BATCH DSv2 source (Trigger.AvailableNow) → quality kernel per
   * micro-batch → memory sink. The oracle is the batch text_quality SQL,
   * so the compare proves the streaming read path (splits, offsets,
   * micro-batch planning) composes with the LLM-pipeline kernels and
   * produces the identical corpus — the "score documents as they arrive"
   * deployment of the reference connector. Body fields ride a U+0001
   * delimiter (document text contains no control chars by the corpus
   * contract; the wire layer escapes \t and \n regardless).
   */
  /**
   * Streaming tokenizer application through the connector: the merge table
   * trains OFFLINE on the batch corpus ([[CorpusPipeline.trainedMerges]],
   * once per JVM), then documents arriving through the MQ micro-batch
   * source are token-counted per micro-batch with the same scan-stage
   * encode kernel as the batch [[CorpusPipeline.bpeEncode]] — the
   * train-once/apply-on-the-stream deployment of a production tokenizer.
   * Stateless Append (no state store); the oracle is the batch bpe_encode
   * SQL, so the compare proves the streamed corpus tokenizes identically.
   */
  def tokenCountStream(spark: SparkSession, dir: String): DataFrame = {
    val merges = CorpusPipeline.trainedMerges(spark, dir)
    val (root, topic) = docsTopic(spark, dir)
    val (nWords, nTokens) = CorpusPipeline.bpeTokenCols(col("text"), merges)
    val name = "docs_tok_" + math.abs(dir.hashCode)
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("consumerGroup", "tokens")
      .option("rootDir", root).option("offsetResetTo", "earliest")
      .load()
      .select(split(col("body"), "\u0001").as("f"))
      .select(element_at(col("f"), 1).cast("long").as("doc_id"),
        element_at(col("f"), 2).as("text"))
      .select(col("doc_id"), nWords.as("n_words"), nTokens.as("n_tokens"))
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).orderBy(col("doc_id"))
  }

  def corpusQualityStream(spark: SparkSession, dir: String): DataFrame = {
    val (root, topic) = docsTopic(spark, dir)
    val name = "docs_quality_" + math.abs(dir.hashCode)
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("consumerGroup", "quality")
      .option("rootDir", root).option("offsetResetTo", "earliest")
      .load()
      .select(split(col("body"), "\u0001").as("f"))
      .select(element_at(col("f"), 1).cast("long").as("doc_id"),
        element_at(col("f"), 2).as("text"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        graft.functions.TextSignals.signals(col("text")).as("sig"))
      .select(col("doc_id"),
        TextAnalysis.signalQuality(col("sig"), col("n_chars")).as("quality"))
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).orderBy(col("doc_id"))
  }

  /**
   * Stream-static enrichment through the connector: events arriving through
   * the MQ micro-batch source joined per micro-batch to a BROADCAST static
   * dimension (customer) — the canonical connector deployment shape, enrich
   * the ingest stream with a dim table. Stateless Append: no watermark, no
   * state store; every micro-batch pays one broadcast hash join and the dim
   * is read once per batch from parquet (at scale: cache it or let the
   * broadcast reuse kick in — either way nothing shuffles the stream).
   * Oracle = the identical join in batch SQL, so the compare proves the
   * streaming read path composes with Spark's join machinery losslessly.
   */
  def eventsEnrichStream(spark: SparkSession, dir: String): DataFrame = {
    val (root, topic) = eventsTopic(spark, dir)
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val name = "events_enrich_" + math.abs(dir.hashCode)
    val q = readEventsStream(spark, root, topic, "enrich")
      .drop("ts")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_name"), col("c_mktsegment"), col("value"))
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).orderBy(col("event_id"))
  }

  /**
   * Stream-stream interval join through the connector: ONE topic scan,
   * filter-split into purchases and prior views (the two sides of a
   * self-join — one consumer group, one offset ledger, versus the earlier
   * two-subscription shape that scanned and tracked the topic twice), both
   * watermarked, inner-joined on user within a 6-hour event-time window —
   * purchase attribution, the canonical stream-stream deployment.
   * Watermarks bound the join state: each side buffers only rows newer
   * than the other side's watermark minus the interval, so state is
   * O(window x rate), not O(stream). Inner join in Append mode emits
   * exactly the matched pairs; the oracle is the identical interval join
   * in batch SQL, so the compare proves the streaming scan + watermarked
   * state + interval-join semantics end to end.
   */
  def purchaseAttributionStream(spark: SparkSession, dir: String): DataFrame = {
    val (root, topic) = eventsTopic(spark, dir)

    // ONE topic scan, split by filter into the two join sides: both
    // branches reference the same streaming source node, so each
    // micro-batch resolves one offset range and reads the log once per
    // side-plan over the SAME admitted batch — versus the previous two
    // consumer groups, which each paid full offset tracking and log
    // administration. Semantically identical (the filters partition
    // event_type space), and the self-join is the documented Structured
    // Streaming shape for splitting one firehose topic into join sides.
    val src = readEventsStream(spark, root, topic, "attr")

    val purchases = src
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("l_user"), col("ts").as("l_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      .withWatermark("l_ts", "1 hour")
    val views = src
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_id").as("view_id"), col("event_type").as("prior_type"))
      .withWatermark("r_ts", "1 hour")

    val name = "events_attr_" + math.abs(dir.hashCode)
    // stream-stream joins keep FOUR state stores per shuffle partition
    // (each side x KeyToNumValues/KeyWithIndexToValue), and every one pays
    // a checkpoint fsync per batch — size the stream's shuffle to the
    // state like every other stateful entry (StreamingQueries contract)
    StreamingQueries.withStreamShuffle(spark, 8) {
      val q = purchases
        .join(views, expr(
          "l_user = r_user AND r_ts <= l_ts AND r_ts >= l_ts - INTERVAL 6 HOURS"))
        .select(col("l_user").as("user_id"), col("purchase_id"), col("view_id"),
          col("prior_type"),
          (unix_micros(col("l_ts")) - unix_micros(col("r_ts"))).as("gap_us"))
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // no deleteTopic here: the log is the cached once-per-JVM copy (disk
    // stays bounded at one copy, the sessionRoot contract)
    spark.table(name).orderBy(col("purchase_id"), col("view_id"))
  }

  /**
   * Streaming benchmark decontamination: corpus documents arriving through
   * the MQ micro-batch source are flagged against the eval set WITHOUT any
   * stream-side state or join — the benchmark's distinct shingle hashes
   * (eval sets are tiny by construction, same driver-sized-broadcast
   * contract as [[CorpusPipeline.decontaminate]]'s build side) ride into
   * the plan as a sorted literal array, and the per-row sorted-intersect
   * kernel counts shared 8-grams inside the scan stage. Stateless Append
   * mode: the right shape for contamination screening on an ingest stream,
   * where a stateful aggregation would pay a state store for nothing.
   * Oracle = the batch decontaminate SQL (same corpus/benchmark split).
   */
  def decontaminateStream(spark: SparkSession, dir: String): DataFrame = {
    val root = sessionRoot("mq-decon", dir)
    val topic = "docs_decon"
    val all = Tables.documents(spark, dir)
    // the CORPUS slice of the split (not the full-docs firehose) — own topic
    writeTopicOnce(root, topic) {
      val corpus = all.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"))
      val conv = new RowMessageConverter(
        corpus.schema, fieldDelimiter = "\u0001",
        keyColumns = Seq("doc_id"), writeKeysToBody = true)
      MessageQueueSink.write(
        corpus, root, new DefaultTopicSelector[Map[String, Any]](topic), conv,
        numQueues = 8)
    }

    // lazy cut (round 21): the bound-enforcing count() below is the first
    // action and reads every partition — the shingle explode + distinct
    // still run once, one fewer sequential job round
    val benchDistinct = all.filter(col("doc_id") % 97 === 0)
      .select(explode(Dedup.shingleHashes(col("text"), 8)).as("sh"))
      .distinct().cutLineageLazy()
    // the driver-sized contract, ENFORCED BEFORE the collect (a require
    // after it would fire only if the driver survived materializing the
    // oversized array): the literal rides into every task's plan, so an
    // oversized eval set would OOM the driver or bloat task serialization
    // silently. 1M hashes = 8 MB — past that, screen via the batch
    // broadcast join instead.
    val n = benchDistinct.count()
    require(n <= (1L << 20),
      s"eval-set shingle count $n exceeds the literal-plan bound (2^20); " +
        "use CorpusPipeline.decontaminate's broadcast join for benchmark sets this large")
    val benchShingles: Array[Long] = benchDistinct.orderBy(col("sh"))
      .collect().map(_.getLong(0))

    val name = "docs_decon_" + math.abs(dir.hashCode)
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("consumerGroup", "decon")
      .option("rootDir", root).option("offsetResetTo", "earliest")
      .load()
      .select(split(col("body"), "\u0001").as("f"))
      .select(element_at(col("f"), 1).cast("long").as("doc_id"),
        element_at(col("f"), 2).as("text"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.sortedIntersectSize(
          Dedup.shingleHashes(col("text"), 8), lit(benchShingles))
          .cast("long").as("shared_grams"))
      .filter(col("shared_grams") > 0)
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).orderBy(col("doc_id"))
  }

  /**
   * Streaming blocklist screening through the connector: documents arriving
   * on the MQ source are checked against the banned-phrase list INSIDE the
   * scan stage — the blocklist enters as a literal array (config-sized, the
   * [[CorpusPipeline.blocklistFilter]] contract), so like
   * [[decontaminateStream]] this is stateless Append mode with no state
   * store, no shuffle, no join: the right shape for screening an ingest
   * firehose, where every flagged doc should surface the moment its batch
   * lands. Oracle = the batch blocklist SQL over the same corpus — the
   * stream is a pure partition of the batch input, so the union over
   * micro-batches IS the batch answer.
   */
  def blocklistStream(spark: SparkSession, dir: String): DataFrame = {
    val (root, topic) = docsTopic(spark, dir)
    val docs = Tables.documents(spark, dir)

    // the blocklist census (5 strings) — derived once, batch-side, exactly
    // as a deployment would load its curated list before starting the stream
    val phrases = CorpusPipeline.topBigramPhrases(docs)

    val name = "docs_block_" + math.abs(dir.hashCode)
    val pad = concat(lit(" "),
      regexp_replace(lower(trim(col("text"))), "\\s+", " "), lit(" "))
    val arr = org.apache.spark.sql.functions.array(
      phrases.map(p => lit(" " + p + " ")): _*)
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("consumerGroup", "block")
      .option("rootDir", root).option("offsetResetTo", "earliest")
      .load()
      .select(split(col("body"), "\u0001").as("f"))
      .select(element_at(col("f"), 1).cast("long").as("doc_id"),
        element_at(col("f"), 2).as("text"))
      .select(col("doc_id"),
        size(filter(arr, p => contains(pad, p))).as("n_hits"))
      .filter(col("n_hits") > 0)
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).orderBy(col("doc_id"))
  }

  /**
   * Streaming entropy screening through the connector: every document
   * arriving on the MQ source gets its char-entropy profile INSIDE the
   * scan stage via the one-pass [[graft.functions.CharEntropy]] kernel —
   * like [[blocklistStream]] this is stateless Append mode with no state
   * store, no shuffle, no join: the ingest-firehose shape for the
   * low-entropy-boilerplate / binary-garbage gate. Oracle = the batch
   * text_entropy SQL over the same corpus (the stream is a pure partition
   * of the batch input, so the micro-batch union IS the batch answer).
   */
  def entropyStream(spark: SparkSession, dir: String): DataFrame = {
    val (root, topic) = docsTopic(spark, dir)

    val name = "docs_entropy_" + math.abs(dir.hashCode)
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("consumerGroup", "entropy")
      .option("rootDir", root).option("offsetResetTo", "earliest")
      .load()
      .select(split(col("body"), "\u0001").as("f"))
      .select(element_at(col("f"), 1).cast("long").as("doc_id"),
        element_at(col("f"), 2).as("text"))
      .select(col("doc_id"), graft.functions.CharEntropy.entropy(col("text")).as("e"))
      .select(
        col("doc_id"),
        col("e.n_chars").cast("long").as("n_chars"),
        col("e.distinct_chars").cast("long").as("distinct_chars"),
        when(col("e.n_chars") === 0, lit(null).cast("double"))
          .otherwise(round(
            log(col("e.n_chars").cast("double")) - col("e.clogc") / col("e.n_chars"),
            4)).as("char_entropy"))
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).orderBy(col("doc_id"))
  }

  /**
   * Streaming ingestion dedup through the connector: new documents arrive
   * via the MQ micro-batch source (maxRowsPerTrigger bounds each batch) and
   * every micro-batch runs [[Dedup.crossNearDupsWithHistorySigs]] against
   * the HISTORICAL corpus — whose MinHash signatures are computed exactly
   * once before the stream starts (checkpointed here; parquet-persisted in
   * production), so arriving batches never re-sign history. Results append
   * to a parquet sink per batch. Pair verdicts depend only on (new doc,
   * history), and batches partition the new set, so the union over batches
   * equals the one-shot batch answer — the oracle is the SAME exact
   * cross-set Jaccard SQL as `dedup_incremental`, proving the streaming
   * decomposition is lossless. foreachBatch (not a stateful streaming
   * join) is the right shape: each batch needs full batch machinery
   * (est-prefilter, checkpoint, multi-join) and no cross-batch state.
   */
  def dedupIncrementalStream(spark: SparkSession, dir: String): DataFrame = {
    val root = sessionRoot("mq-increm", dir)
    val topic = "docs_increm"
    val outPath = java.nio.file.Paths.get(root, "increm-out")
    graft.util.Fs.deleteRecursively(outPath)

    val all = Tables.documents(spark, dir)
    val newDocs = all.filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text"))
    val history = all.filter(col("doc_id") % 3 =!= 0)
    writeTopicOnce(root, topic) {
      val conv = new RowMessageConverter(
        newDocs.schema, fieldDelimiter = "\u0001",
        keyColumns = Seq("doc_id"), writeKeysToBody = true)
      MessageQueueSink.write(
        newDocs, root, new DefaultTopicSelector[Map[String, Any]](topic), conv,
        numQueues = 8)
    }

    // under the broadcast ceiling the whole history probe index ships to
    // executors ONCE and each micro-batch dedups in a single narrow stage —
    // the broadcast-join regime of an ingestion tick (per-batch cost at
    // bench SFs is otherwise ~1s of pure join planning + exchange rounds).
    // The builder re-spreads history across cores after its census: a
    // ceiling-sized history often arrives in one parquet split, serializing
    // the sign/shingle kernels.
    // Cached per JVM like the topic itself: the history (and so its index)
    // is a pure function of `dir`, and reusing the built index across
    // invocations is exactly the production deployment — the parquet-
    // persisted writeMinhashIndex loaded once, serving every ingestion tick
    val probeIdx = probeIndexCache.computeIfAbsent(root, { _ =>
      // fused ONE-collect build (round 21): the gated builder runs its own
      // byte/unique-id census, so the previous chain — a separate estBytes
      // agg, an eager spread checkpoint, an eager signature checkpoint and
      // two sequential collects (6 driver job rounds) — collapses to census
      // + one collect. Default-seed signatures, same index by construction.
      Dedup.buildHistoryProbeIndexFused(history.select(col("doc_id"), col("text")))
        .map(spark.sparkContext.broadcast(_))
    })
    // the JOIN plan's history index: signed AND banded once, reused by every
    // micro-batch (re-banding re-explodes the full history signature set
    // 16-wide; paying that per arriving batch is pure per-batch waste).
    // Lazy — only the above-ceiling join plan materializes these
    lazy val oldSigs = Dedup.minHashSignatures(history).cutLineage()
    lazy val oldBands = Some(Dedup.historyLshBands(oldSigs).localCheckpoint())

    // ~4 micro-batches at ANY corpus size: enough to prove the multi-batch
    // union is lossless without paying per-batch planning overhead 10x over
    // (a fixed row cap degenerates to 1 batch at small SFs and dozens at
    // large ones; the RESULT is batch-count-independent either way)
    val trigger = math.max(50L, newDocs.count() / 4 + 1)
    // plan selection, same logic as any size-based join strategy: broadcast
    // the batch (history strictly map-side, zero history exchange per batch)
    // once history dwarfs the batch — the production ingestion regime. Below
    // that ratio (small SFs) the whole history fits in a couple of shuffle
    // files and the broadcast round-trips are the larger fixed cost. The
    // broadcast plan's equivalence is pinned by DedupSpec's
    // broadcastBatch-vs-default test at every suite run. Lazy: only the
    // above-ceiling JOIN plan consults it (the probe index needs no count)
    lazy val broadcastBatch = oldSigs.count() > 50L * trigger
    // per-batch shuffles sized to the batch, not the session default: each
    // micro-batch runs the multi-join dedup machinery on ~1/4 of the new
    // docs, so 32-partition exchanges x ~6 joins x 4 batches is mostly
    // empty-task overhead (the purchase_attribution_stream recipe). The 8
    // never under-parallelizes the HISTORY side at large SFs: in the
    // broadcastBatch regime history is strictly map-side (scan parallelism
    // comes from input splits, not shuffle partitions), and the only
    // exchanges are candidate-sized
    StreamingQueries.withMicroBatchPlanConf(spark, 8) {
      val q = spark.readStream.format("graft-mq")
        .option("topic", topic).option("consumerGroup", "increm")
        .option("rootDir", root).option("offsetResetTo", "earliest")
        .option("maxRowsPerTrigger", trigger.toString)
        .load()
        .select(split(col("body"), "\u0001").as("f"))
        .select(element_at(col("f"), 1).cast("long").as("doc_id"),
          element_at(col("f"), 2).as("text"))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // foreachBatch is at-least-once: a replayed batch must land in the
          // SAME batchId-keyed directory (overwrite), not append a duplicate
          // copy of its pairs — this is what keeps "union over batches ==
          // one-shot batch answer" true under retries
          // coalesce(1): per-batch results are duplicate-pair-sized (bounded
          // by batch x collision density), so eight near-empty task files +
          // commit rounds per batch are pure overhead
          probeIdx.fold(
              Dedup.crossNearDupsWithHistorySigs(batch, history, oldSigs,
                historyBands = oldBands, broadcastBatch = broadcastBatch))(
              bc => Dedup.crossNearDupsWithProbeIndex(batch, bc))
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(outPath.toString).drop("batch")
      .orderBy(col("new_id"), col("old_id"))
  }
}
