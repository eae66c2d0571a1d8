package graft.config

/**
 * Option surface of the graft message-queue connector: same keys, defaults,
 * and required/optional split as the reference connector's option class and
 * table factories (reference: common/RocketMQOptions.java:25-86,
 * source/table/RocketMQDynamicTableSourceFactory.java:60-215), with
 * `nameServerAddress` replaced by `rootDir` (the file-backed broker root).
 *
 * `parse` validates: both required keys (topic, rootDir) present, no
 * unknown keys, enum-valued options in range, numeric and boolean values
 * that parse — failures throw IllegalArgumentException naming the key.
 * `consumerGroup` is required by reads alone, when the scan is built.
 * The reference keys no source or sink code would read (encoding,
 * lineDelimiter, lengthCheck, retryTimes, sleepTimeMs, columnErrorDebug,
 * partitionDiscoveryIntervalMs, isDynamicTag) are not taken: queue bodies
 * are UTF-8, body parsing has its own settings in
 * [[graft.operators.Deser.parseBodies]], and `dynamicTagColumn` alone turns
 * the dynamic tag on.
 */
final case class GraftOptions(
    topic: String,
    consumerGroup: String, // "" when absent: only a read needs one
    rootDir: String,
    tag: String = GraftOptions.DefaultTag,
    startMessageOffset: Long = -1L,
    startTimeMs: Long = -1L,
    endTimeMs: Long = -1L,
    fieldDelimiter: String = graft.serde.Delimiters.Soh,
    offsetResetTo: String = "latest",
    dynamicTagColumn: Option[String] = None,
    dynamicTagColumnWriteIncluded: Boolean = true,
    keyColumns: Seq[String] = Nil,
    writeKeysToBody: Boolean = false,
    propertyFilter: Map[String, String] = Map.empty,
    numQueues: Int = 0,
    msgDelayLevel: Int = 0,
    maxRowsPerTrigger: Long = -1L,
    continuousPollMs: Long = 50L) {

  def startMode: StartMode =
    if (startMessageOffset >= 0) StartMode.Offset(startMessageOffset)
    else if (startTimeMs >= 0) StartMode.Timestamp(startTimeMs)
    else offsetResetTo.toLowerCase match {
      case "earliest" => StartMode.Earliest
      case "latest" => StartMode.Latest
      case "timestamp" => StartMode.Timestamp(startTimeMs)
      case other => throw new IllegalArgumentException(s"unknown offsetResetTo: $other")
    }
}

/** Where a fresh (checkpoint-less) scan starts
  * (reference: legacy/RocketMQSourceFunction.java:338-360). */
sealed trait StartMode
object StartMode {
  case object Earliest extends StartMode
  case object Latest extends StartMode
  final case class Timestamp(ms: Long) extends StartMode
  final case class Offset(offset: Long) extends StartMode
}

object GraftOptions {
  val DefaultTag = "*"

  val Topic = "topic"
  val ConsumerGroup = "consumergroup"
  val RootDir = "rootdir"
  val Tag = "tag"
  val StartMessageOffset = "startmessageoffset"
  val StartTimeMs = "starttimems"
  val EndTimeMs = "endtimems"
  val FieldDelimiter = "fielddelimiter"
  val OffsetResetTo = "offsetresetto"
  val DynamicTagColumn = "dynamictagcolumn"
  val DynamicTagColumnWriteIncluded = "dynamictagcolumnwriteincluded"
  val KeyColumns = "keycolumns"
  val WriteKeysToBody = "writekeystobody"
  val PropertyFilter = "propertyfilter"
  val NumQueues = "numqueues"
  val MsgDelayLevel = "msgdelaylevel"
  val MaxRowsPerTrigger = "maxrowspertrigger"
  val ContinuousPollMs = "continuouspollms"

  /** Required on every read and write. A read also needs [[ConsumerGroup]]
    * (see [[graft.source.MessageQueueTable.newScanBuilder]]); a write never
    * reads it. */
  val RequiredKeys: Set[String] = Set(Topic, RootDir)
  val OptionalKeys: Set[String] = Set(
    ConsumerGroup, Tag, StartMessageOffset, StartTimeMs, EndTimeMs, FieldDelimiter,
    OffsetResetTo, DynamicTagColumn, DynamicTagColumnWriteIncluded, KeyColumns,
    WriteKeysToBody, PropertyFilter, NumQueues, MsgDelayLevel, MaxRowsPerTrigger,
    ContinuousPollMs)

  /** Keys the connector no longer takes, with what does their job now. */
  private val Replaced: Map[String, String] = Map(
    "encoding" -> "queue bodies are UTF-8", "linedelimiter" -> "use Deser.parseBodies",
    "lengthcheck" -> "use Deser.parseBodies", "isdynamictag" -> "use dynamicTagColumn")

  /** Broker-convention delay ladder, level 1-18 (reference:
    * legacy/common/RocketMQConfig.java MSG_DELAY_LEVEL00-18 — "1s 5s 10s 30s
    * 1m 2m 3m 4m 5m 6m 7m 8m 9m 10m 20m 30m 1h 2h"); level 0 = no delay.
    * The file-backed broker has no time-gated visibility, so delayed
    * delivery is expressed as a born_ts shift: delayed messages sort (and
    * time-range-prune) at their DELIVERY time, which is the observable
    * behavior a consumer sees. */
  val DelayLevelMs: Array[Long] = Array(0L,
    1000L, 5000L, 10000L, 30000L,
    60000L, 120000L, 180000L, 240000L, 300000L, 360000L, 420000L, 480000L,
    540000L, 600000L, 1200000L, 1800000L, 3600000L, 7200000L)

  def delayMs(level: Int): Long = {
    require(level >= 0 && level < DelayLevelMs.length,
      s"invalid msgDelayLevel: $level (expected 0-${DelayLevelMs.length - 1})")
    DelayLevelMs(level)
  }

  /** Java-style backslash-escape decoding for delimiter options ("\t", "\n",
    * SOH, …) — the reference unescapes delimiters the same way
    * (RowDeserializationSchema.java:103-104). */
  def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => sb.append('\t'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '\'' => sb.append('\''); i += 2
          case '"' => sb.append('"'); i += 2
          case 'u' if i + 5 < s.length + 1 && i + 6 <= s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse and validate a case-insensitive option map. */
  def parse(options: Map[String, String]): GraftOptions = {
    val opts = options.map { case (k, v) => k.toLowerCase -> v }
    val missing = RequiredKeys.filterNot(opts.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"missing required options: ${missing.toSeq.sorted.mkString(", ")}" +
          (if (opts.contains(ConsumerGroup)) "" else s" (and $ConsumerGroup, to read)"))
    val unknown = opts.keySet -- RequiredKeys -- OptionalKeys
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unsupported options: ${unknown.toSeq.sorted.map(k =>
          Replaced.get(k).fold(k)(r => s"$k ($r)")).mkString(", ")}")

    // a value that does not parse fails naming its key
    def typed[T](key: String, expected: String, default: T)(read: String => T): T =
      opts.get(key).fold(default)(v => try read(v) catch {
        case _: IllegalArgumentException =>
          throw new IllegalArgumentException(s"invalid $key: $v (expected $expected)")
      })
    def int(key: String, default: Int) = typed(key, "an integer", default)(_.toInt)
    def long(key: String, default: Long) = typed(key, "an integer", default)(_.toLong)
    def bool(key: String, default: Boolean) = typed(key, "true or false", default)(_.toBoolean)

    val reset = opts.getOrElse(OffsetResetTo, "latest").toLowerCase
    if (!Set("earliest", "latest", "timestamp").contains(reset))
      throw new IllegalArgumentException(s"invalid offsetResetTo: $reset")
    if (reset == "timestamp" && !opts.contains(StartTimeMs))
      throw new IllegalArgumentException(
        "offsetResetTo=timestamp requires startTimeMs")
    val delayLevel = int(MsgDelayLevel, 0)
    if (delayLevel < 0 || delayLevel >= DelayLevelMs.length)
      throw new IllegalArgumentException(
        s"invalid msgDelayLevel: $delayLevel (expected 0-${DelayLevelMs.length - 1})")
    val maxRows = long(MaxRowsPerTrigger, -1L)
    if (opts.contains(MaxRowsPerTrigger) && maxRows <= 0)
      throw new IllegalArgumentException(
        s"invalid maxRowsPerTrigger: $maxRows (expected a positive row count)")
    val pollMs = long(ContinuousPollMs, 50L)
    if (pollMs <= 0)
      throw new IllegalArgumentException(
        s"invalid continuousPollMs: $pollMs (expected a positive interval)")

    GraftOptions(
      topic = opts(Topic),
      consumerGroup = opts.getOrElse(ConsumerGroup, ""),
      rootDir = opts(RootDir),
      tag = opts.getOrElse(Tag, DefaultTag),
      startMessageOffset = long(StartMessageOffset, -1L),
      startTimeMs = long(StartTimeMs, -1L),
      endTimeMs = long(EndTimeMs, -1L),
      // an explicit empty delimiter normalizes to the SOH default: the read
      // path treats "" as never-split, so a writer honoring "" literally
      // would produce multi-column bodies the reader cannot parse back
      fieldDelimiter = Some(unescape(opts.getOrElse(FieldDelimiter, graft.serde.Delimiters.Soh)))
        .filter(_.nonEmpty).getOrElse(graft.serde.Delimiters.Soh),
      offsetResetTo = reset,
      dynamicTagColumn = opts.get(DynamicTagColumn),
      dynamicTagColumnWriteIncluded = bool(DynamicTagColumnWriteIncluded, true),
      keyColumns = opts.get(KeyColumns).map(_.split(",").map(_.trim).toSeq).getOrElse(Nil),
      writeKeysToBody = bool(WriteKeysToBody, false),
      // "k=v;k2=v2" equality conjunction, the graft analog of the broker's
      // SQL92 message selector (reference: example/PropertyFilterExamples.java:33)
      propertyFilter = opts.get(PropertyFilter).map(_.split(";").iterator.map { kv =>
        val eq = kv.indexOf('=')
        require(eq > 0, s"propertyFilter entries must be k=v, got: $kv")
        kv.substring(0, eq).trim -> kv.substring(eq + 1).trim
      }.toMap).getOrElse(Map.empty),
      numQueues = int(NumQueues, 0),
      msgDelayLevel = delayLevel,
      maxRowsPerTrigger = maxRows,
      continuousPollMs = pollMs)
  }
}
