package graft.source

import java.util

import graft.config.{GraftOptions, StartMode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{ContinuousPartitionReader, ContinuousPartitionReaderFactory, MicroBatchStream, Offset, PartitionOffset, ReportsSinkMetrics, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * DataSourceV2 provider for the file-backed message queue:
 * `spark.read.format("graft-mq")` (batch) and
 * `spark.readStream.format("graft-mq")` (micro-batch), one input partition
 * per queue — the Spark-first analog of the reference's split-based source
 * (reference: source/RocketMQSource.java:1-181). Options: topic,
 * consumerGroup, rootDir (+ tag filter, offsetResetTo/startMessageOffset/
 * startTimeMs/endTimeMs start-stop controls — see [[graft.config.GraftOptions]]).
 *
 * At scale each queue is an independent append-only log, so parallelism =
 * queue count, there is no shuffle in a scan, and offset ranges make every
 * micro-batch deterministic and replayable.
 */
class MessageQueueProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-mq"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MessageQueueTable.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val raw = scala.jdk.CollectionConverters.MapHasAsScala(properties).asScala.toMap
    // the streaming engine injects its own keys into the options map
    // (DataStreamWriter adds checkpointLocation); they are not user options
    val all = raw.filter { case (k, _) => k.toLowerCase != "checkpointlocation" }
    // a catalog-created table (CREATE TABLE ... USING graft-mq OPTIONS (...))
    // carries its OPTIONS under an "option." prefix plus catalog bookkeeping
    // keys (owner/path/provider/...) — strip the prefix and drop the
    // bookkeeping. ONLY on that path: a DataFrameReader/Writer options map
    // has no catalog keys and must reach parse verbatim so its strict
    // unknown-key validation still catches typos.
    val isCatalogTable = all.contains("provider") ||
      all.keysIterator.exists(_.toLowerCase.startsWith("option."))
    val forParse =
      if (!isCatalogTable) all
      else {
        val optPrefixed = all.collect {
          case (k, v) if k.toLowerCase.startsWith("option.") =>
            k.substring("option.".length) -> v
        }
        val known = GraftOptions.RequiredKeys ++ GraftOptions.OptionalKeys
        all.filter { case (k, _) => known.contains(k.toLowerCase) } ++ optPrefixed
      }
    new MessageQueueTable(GraftOptions.parse(forParse))
  }
}

object MessageQueueTable {
  /** Physical message columns + the reference's readable metadata columns
    * (reference: source/table/RocketMQScanTableSource.java:135). */
  val Schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("queue_id", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("born_ts", TimestampType, nullable = false),
    StructField("msg_key", StringType),
    StructField("tag", StringType),
    StructField("properties", MapType(StringType, StringType)),
    StructField("body", StringType)))
}

class MessageQueueTable(val opts: GraftOptions) extends Table
    with SupportsRead with SupportsWrite with ReportsSinkMetrics {
  /** Same table with extra property-equality predicates for the reader —
    * [[graft.plans.PushPropertyPredicates]] rewrites a plan's relation onto
    * this, the way the reference consumer installs a SQL92 property
    * selector broker-side (reference: example/PropertyFilterExamples.java:33). */
  def withPropertyFilter(filter: Map[String, String]): MessageQueueTable =
    new MessageQueueTable(opts.copy(propertyFilter = filter))

  override def name(): String = s"graft-mq:${opts.topic}"
  override def schema(): StructType = MessageQueueTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.CONTINUOUS_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MessageQueueScanBuilder(opts)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new graft.sink.MessageQueueWriteBuilder(opts, info.schema(), info.queryId(), bytesRepaired)

  /** The bytes the repairs of the last committed micro-batch or epoch cut,
    * in `lastProgress.sink.metrics`: Spark never asks a micro-batch write
    * node for driver metrics. */
  private val bytesRepaired = new java.util.concurrent.atomic.AtomicLong
  override def metrics(): util.Map[String, String] =
    util.Map.of(Metrics.BytesRepaired, bytesRepaired.get.toString)
}

/**
 * Pushdown-aware scan builder:
 *  - column pruning: the reader materializes only requested columns;
 *  - `tag = 'x'` is consumed entirely at the reader (never re-evaluated);
 *  - born_ts bounds translate to per-queue OFFSET ranges via searchOffset —
 *    queue logs are born-ts-ordered like broker commit logs, so a time
 *    predicate prunes log ranges the way partition pruning prunes files.
 *    The bounds stay residual filters too, so row-level semantics are exact
 *    even at the window edges.
 */
class MessageQueueScanBuilder(opts: GraftOptions) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  import org.apache.spark.sql.sources._

  private var requiredSchema: StructType = MessageQueueTable.Schema
  private var pushedTagFilter: Option[String] = None
  private var bornTsLowerMs: Option[Long] = None
  private var bornTsUpperMs: Option[Long] = None
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = StructType(
      MessageQueueTable.Schema.filter(f => required.fieldNames.contains(f.name)))

  private def toMillis(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime)
    case i: java.time.Instant => Some(i.toEpochMilli)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val residual = filters.filter {
      // only consume tag equality when the reader option imposes no tag
      // constraint of its own — replacing a user's tag option with the
      // predicate would widen the scan (option "a" + filter tag='b' must be
      // empty, not all-of-b)
      case EqualTo("tag", v: String)
          if pushedTagFilter.isEmpty && (opts.tag == null || opts.tag == "*" || opts.tag.isEmpty) =>
        pushedTagFilter = Some(v); pushed :+= EqualTo("tag", v); false // fully handled
      case f @ GreaterThanOrEqual("born_ts", v) if toMillis(v).isDefined =>
        bornTsLowerMs = Some(bornTsLowerMs.fold(toMillis(v).get)(math.max(_, toMillis(v).get)))
        pushed :+= f; true // offset-range prune + residual exactness
      case f @ GreaterThan("born_ts", v) if toMillis(v).isDefined =>
        bornTsLowerMs = Some(bornTsLowerMs.fold(toMillis(v).get)(math.max(_, toMillis(v).get)))
        pushed :+= f; true
      case f @ LessThan("born_ts", v) if toMillis(v).isDefined =>
        bornTsUpperMs = Some(bornTsUpperMs.fold(toMillis(v).get)(math.min(_, toMillis(v).get)))
        pushed :+= f; true
      case f @ LessThanOrEqual("born_ts", v) if toMillis(v).isDefined =>
        // stop offset needs first-strictly-greater; +1ms is that bound in millis
        bornTsUpperMs = Some(bornTsUpperMs.fold(toMillis(v).get + 1)(math.min(_, toMillis(v).get + 1)))
        pushed :+= f; true
      case _ => true
    }
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new MessageQueueScan(opts, requiredSchema, pushedTagFilter, bornTsLowerMs, bornTsUpperMs)
}

class MessageQueueScan(
    opts: GraftOptions,
    requiredSchema: StructType = MessageQueueTable.Schema,
    pushedTag: Option[String] = None,
    bornTsLowerMs: Option[Long] = None,
    bornTsUpperMs: Option[Long] = None) extends Scan {
  override def readSchema(): StructType = requiredSchema
  override def description(): String =
    s"graft-mq topic=${opts.topic} PushedFilters: [tag=$pushedTag, " +
      s"bornTs=[$bornTsLowerMs,$bornTsUpperMs), props=${opts.propertyFilter}]"

  private def effectiveOpts(forBatch: Boolean): GraftOptions = {
    var o = opts
    if (pushedTag.isDefined) o = o.copy(tag = pushedTag.get)
    // lower bound → later start offset: always safe for batch (whose default
    // start is earliest); for streaming only when not in skip-old "latest"
    // mode, where starting earlier would change semantics
    bornTsLowerMs.foreach { lo =>
      if (o.startMessageOffset < 0 && (forBatch || o.offsetResetTo != "latest"))
        o = o.copy(startTimeMs = math.max(o.startTimeMs, lo))
    }
    bornTsUpperMs.foreach { hi =>
      o = o.copy(endTimeMs = if (o.endTimeMs < 0) hi else math.min(o.endTimeMs, hi))
    }
    o
  }

  override def toBatch: Batch =
    new MessageQueueBatch(effectiveOpts(forBatch = true), requiredSchema)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MessageQueueMicroBatchStream(effectiveOpts(forBatch = false), requiredSchema)

  override def toContinuousStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.ContinuousStream =
    new MessageQueueContinuousStream(effectiveOpts(forBatch = false), requiredSchema)

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Metrics.readMetrics
}

/** Batch scan: per-queue offset ranges resolved once at planning.
  * Batch default start is earliest (a bounded scan of "latest" is empty);
  * explicit offset/timestamp start modes are honored, endTimeMs bounds the
  * stop offset (reference boundedness: source/RocketMQSource.java:70-90). */
class MessageQueueBatch(opts: GraftOptions,
    requiredSchema: StructType = MessageQueueTable.Schema) extends Batch {

  override def planInputPartitions(): Array[InputPartition] =
    MessageQueueSource.resolveSplits(opts, batchDefaultEarliest = true).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new QueueReaderFactory(opts, requiredSchema)
}

/** One reader factory for every read mode: a [[QueueSplit]] (batch and
  * micro-batch) gets a bounded reader, a [[ContinuousQueueSplit]] a
  * tailing one. */
class QueueReaderFactory(opts: GraftOptions, requiredSchema: StructType)
    extends ContinuousPartitionReaderFactory {
  override def createReader(partition: InputPartition): ContinuousPartitionReader[InternalRow] =
    partition match {
      case s: QueueSplit =>
        new QueuePartitionReader(opts, requiredSchema, s.topic, s.queueId,
          s.startingOffset, s.stoppingOffset)
      case s: ContinuousQueueSplit =>
        new ContinuousQueueReader(opts, requiredSchema, s)
    }
}

/**
 * Reads one queue's offset range [start, stop) into rows. The cursor
 * opens at the log's index entry at or below `start`, and the lines
 * between are skipped by bytes, never decoded (their count is the
 * `graft_lines_skipped` metric). The one message selector
 * of every read mode lives here: the accepted tag set and the
 * equality-conjunction property filter (the reference consumer's tag and
 * SQL92 property selectors, reference: example/PropertyFilterExamples.java:33)
 * drop non-matching messages before a row is built (reference reader poll
 * loop: source/reader/RocketMQPartitionSplitReader.java:90-180), and every
 * message read is counted in the `graft_*` read metrics. Its position, the
 * next offset to read, is what the continuous subclass reports.
 */
class QueuePartitionReader(opts: GraftOptions, requiredSchema: StructType,
    topic: String, queueId: Int, start: Long, stop: Long)
    extends ContinuousPartitionReader[InternalRow] {

  protected val cursor =
    TopicLog.cursor(TopicLog.queueFile(opts.rootDir, topic, queueId), start, stop)
  private val acceptedTags: Set[String] =
    if (opts.tag == null || opts.tag == "*" || opts.tag.isEmpty) null
    else opts.tag.split("\\|\\|").map(_.trim).toSet
  // column pruning: one extractor per REQUIRED column only
  private val extractors: Array[(Long, Message) => Any] =
    requiredSchema.fieldNames.map {
      case "topic" => (_: Long, _: Message) => UTF8String.fromString(topic)
      case "queue_id" => (_: Long, _: Message) => queueId
      case "offset" => (o: Long, _: Message) => o
      case "born_ts" => (_: Long, m: Message) => m.bornTs * 1000L // millis → micros
      case "msg_key" => (_: Long, m: Message) => UTF8String.fromString(m.key)
      case "tag" => (_: Long, m: Message) => UTF8String.fromString(m.tag)
      case "properties" => (_: Long, m: Message) => {
        val keys = new Array[Any](m.properties.size)
        val vals = new Array[Any](m.properties.size)
        var i = 0
        m.properties.foreach { case (k, v) =>
          keys(i) = UTF8String.fromString(k); vals(i) = UTF8String.fromString(v); i += 1
        }
        ArrayBasedMapData(keys, vals)
      }
      case "body" => (_: Long, m: Message) => UTF8String.fromString(m.body)
      case other => throw new IllegalArgumentException(s"unknown column: $other")
    }
  private var current: InternalRow = _
  private var messagesRead = 0L
  private var messagesFiltered = 0L
  private var bytesRead = 0L

  override def next(): Boolean = {
    while (cursor.advance()) {
      val m = cursor.message()
      bytesRead += Metrics.utf8Length(m.body)
      if ((acceptedTags == null || acceptedTags.contains(m.tag)) &&
          opts.propertyFilter.forall { case (k, v) => m.properties.get(k).contains(v) }) {
        messagesRead += 1
        current = InternalRow.fromSeq(extractors.map(_(cursor.offset, m)).toIndexedSeq)
        return true
      } else messagesFiltered += 1
    }
    false
  }

  override def get(): InternalRow = current

  override def getOffset: PartitionOffset =
    QueuePartitionOffset(queueId, math.max(cursor.next, start))

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(Metrics.Value(Metrics.MessagesRead, messagesRead),
      Metrics.Value(Metrics.MessagesFiltered, messagesFiltered),
      Metrics.Value(Metrics.BytesRead, bytesRead),
      Metrics.Value(Metrics.LinesSkipped, cursor.linesSkipped))

  override def close(): Unit = cursor.close()
}

/** Micro-batch offsets: queueId → next offset to read, JSON-encoded. */
final case class QueueOffsets(offsets: Map[Int, Long]) extends Offset {
  override def json(): String =
    offsets.toSeq.sortBy(_._1)
      .map { case (q, o) => s""""$q":$o""" }.mkString("{", ",", "}")
}

object QueueOffsets {
  def fromJson(json: String): QueueOffsets = {
    val body = json.trim.stripPrefix("{").stripSuffix("}")
    if (body.isEmpty) QueueOffsets(Map.empty)
    else QueueOffsets(body.split(",").iterator.map { kv =>
      val Array(k, v) = kv.split(":")
      k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
    }.toMap)
  }
}

/**
 * Micro-batch stream over the queue logs. Start offsets follow the
 * configured [[StartMode]]; on restart Structured Streaming replays the
 * checkpointed offset instead (restore-wins, matching
 * reference: legacy/RocketMQSourceFunction.java:419-437).
 */
class MessageQueueMicroBatchStream(opts: GraftOptions,
    requiredSchema: StructType = MessageQueueTable.Schema)
    extends MicroBatchStream with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  private def queues: Seq[Int] = TopicLog.listQueues(opts.rootDir, opts.topic)

  /** End offsets frozen at Trigger.AvailableNow start, so the run is bounded
    * even while producers keep appending. */
  private var availableNowTarget: Option[Map[Int, Long]] = None

  /** The log ends the last [[currentMax]] saw: what lag is measured against. */
  @volatile private var lastMax: Map[Int, Long] = Map.empty

  private def currentMax: Map[Int, Long] = {
    lastMax = queues.map(q => q -> TopicLog.maxOffset(opts.rootDir, opts.topic, q)).toMap
    lastMax
  }

  /** Consumer lag in `StreamingQueryProgress.sources(i).metrics`: the
    * largest and the total per-queue distance from the consumed offset to
    * the log end this trigger planned against (Kafka's
    * `maxOffsetsBehindLatest`, plus the sum). It reuses the ends
    * [[currentMax]] already read, so reporting scans no log. */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): java.util.Map[String, String] =
    if (latestConsumedOffset.isEmpty) java.util.Collections.emptyMap()
    else {
      val consumed = latestConsumedOffset.get.asInstanceOf[QueueOffsets].offsets
      val lags = lastMax.map { case (q, end) => math.max(0L, end - consumed.getOrElse(q, 0L)) }
      scala.jdk.CollectionConverters.MapHasAsJava(Map(
        "maxOffsetsBehindLatest" -> lags.maxOption.getOrElse(0L).toString,
        "sumOffsetsBehindLatest" -> lags.sum.toString)).asJava
    }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(currentMax)

  override def initialOffset(): Offset =
    QueueOffsets(queues.map { q =>
      q -> OffsetStore.resolveStartOffset(opts.rootDir, opts.topic, q, opts.startMode)
    }.toMap)

  override def latestOffset(): Offset = availableNowTarget match {
    case Some(target) => QueueOffsets(target)
    case None => QueueOffsets(currentMax)
  }

  /** Honor the engine's ReadLimit: a maxRows limit (from the
    * `maxRowsPerTrigger` option via [[getDefaultReadLimit]]) caps how far
    * offsets advance this micro-batch, so a backlogged topic drains in
    * bounded batches instead of one giant first batch — the graft analog of
    * the reference's pull-batch throttling (legacy/RocketMQConfig.java
    * CONSUMER_BATCH_SIZE / DEFAULT_CONSUMER_BATCH_SIZE). The budget is
    * split across queues proportionally to their lag (each queue gets at
    * least its floor share; leftover goes to the lowest queue ids), the
    * per-queue analog of Kafka's rate-limited offset range. Under
    * Trigger.AvailableNow the cap still applies per batch; the engine keeps
    * issuing batches until the prepared target is reached. */
  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val target = latestOffset().asInstanceOf[QueueOffsets].offsets
    maxRowsOf(limit) match {
      case Some(maxRows) =>
        QueueOffsets(capAdvance(start.asInstanceOf[QueueOffsets].offsets, target, maxRows))
      case None => QueueOffsets(target)
    }
  }

  /** Extract a maxRows bound from a ReadLimit (possibly composite). */
  private def maxRowsOf(
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Option[Long] = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadMaxRows}
    limit match {
      case m: ReadMaxRows => Some(m.maxRows())
      case c: CompositeReadLimit =>
        c.getReadLimits.collectFirst { case m: ReadMaxRows => m.maxRows() }
      case _ => None
    }
  }

  /** Cap the total offset advance at `maxRows`, allocating the budget
    * across queues proportionally to available lag. Deterministic: floor
    * shares first, remainder to the lowest queue ids with headroom.
    * Totals and shares go through BigInt: `maxRows * avail` overflows a
    * Long for maxRows past ~2^32 with real lag (and the lag sum itself can
    * wrap with pathological option values); O(queues) BigInt ops per tick
    * are noise next to the log IO. */
  private[source] def capAdvance(
      start: Map[Int, Long], target: Map[Int, Long], maxRows: Long): Map[Int, Long] = {
    val avail = target.map { case (q, e) => q -> math.max(0L, e - start.getOrElse(q, 0L)) }
    val total = avail.values.foldLeft(BigInt(0))(_ + _)
    if (total <= BigInt(maxRows)) target
    else {
      var alloc = avail.map { case (q, a) => q -> (BigInt(maxRows) * a / total).toLong }
      var rem = maxRows - alloc.values.sum
      for (q <- avail.keys.toSeq.sorted if rem > 0) {
        val extra = math.min(rem, avail(q) - alloc(q))
        alloc += q -> (alloc(q) + extra)
        rem -= extra
      }
      target.map { case (q, e) =>
        q -> math.min(e, start.getOrElse(q, 0L) + alloc.getOrElse(q, 0L))
      }
    }
  }

  override def getDefaultReadLimit: org.apache.spark.sql.connector.read.streaming.ReadLimit =
    if (opts.maxRowsPerTrigger > 0)
      org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(opts.maxRowsPerTrigger)
    else
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset = QueueOffsets(currentMax)

  override def deserializeOffset(json: String): Offset = QueueOffsets.fromJson(json)

  /** End offsets of the most recently planned micro-batch — flushed to the
    * group's offset file at stop(), because the engine only calls commit(N)
    * while starting batch N+1, which never happens for the FINAL batch of a
    * run (Trigger.AvailableNow ends after it). */
  @volatile private var lastPlannedEnd: Option[Map[Int, Long]] = None

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[QueueOffsets].offsets
    val e = end.asInstanceOf[QueueOffsets].offsets
    lastPlannedEnd = Some(e)
    e.toSeq.sortBy(_._1).flatMap { case (q, stop) =>
      val from = s.getOrElse(q, 0L)
      if (stop > from) Some(QueueSplit(opts.topic, MessageQueueSource.Broker, q, from, stop))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new QueueReaderFactory(opts, requiredSchema)

  /** Persist the group's progress so external tooling sees lag, mirroring
    * the reference's commit-on-checkpoint-complete
    * (legacy/RocketMQSourceFunction.java:340-437). Restart correctness does
    * NOT depend on this — the streaming checkpoint wins (restore-wins) — so
    * a failing offset write must never kill a healthy data path: log and
    * continue. */
  override def commit(end: Offset): Unit =
    tryCommit(end.asInstanceOf[QueueOffsets].offsets)

  /** Flush the final batch's end offsets (see [[lastPlannedEnd]]). If the
    * run died mid-batch this may over-report the group position by one
    * batch — acceptable for a monitoring-only surface; the streaming
    * checkpoint remains the authority for restarts (restore-wins). */
  override def stop(): Unit = lastPlannedEnd.foreach(tryCommit)

  private def tryCommit(offsets: Map[Int, Long]): Unit =
    try OffsetStore.commitOffsets(opts.rootDir, opts.topic, opts.consumerGroup, offsets)
    catch {
      case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"could not persist consumer-group offsets for ${opts.consumerGroup}: $e")
    }
}

object MessageQueueSource {
  /** Single logical broker name for the file-backed store. */
  val Broker = "file"

  /** Resolve per-queue [start, stop) ranges for a bounded scan. */
  def resolveSplits(opts: GraftOptions, batchDefaultEarliest: Boolean): Seq[QueueSplit] =
    TopicLog.listQueues(opts.rootDir, opts.topic).map { q =>
      val stop =
        if (opts.endTimeMs >= 0) TopicLog.searchOffset(opts.rootDir, opts.topic, q, opts.endTimeMs)
        else TopicLog.maxOffset(opts.rootDir, opts.topic, q)
      val mode = opts.startMode match {
        case StartMode.Latest if batchDefaultEarliest => StartMode.Earliest
        case m => m
      }
      val start = OffsetStore.resolveStartOffset(opts.rootDir, opts.topic, q, mode)
      QueueSplit(opts.topic, Broker, q, math.min(start, stop), stop)
    }
}
